"""SparkSession factory with the engine's standard config block, and
the only owner of per-session state: :func:`session_memo` for builds
shared by several queries, :func:`scratch_dir` for files a query writes.

Config decisions (SURVEY.md §4.2 "config + layout, not rules"):

* ``spark.sql.ansi.enabled=false`` — plain ``.cast()`` returns NULL on
  failure, matching the reference's ``SAFE_CAST`` semantics
  (reference: dags/daily_search_history.py:59,61).
* ``spark.sql.adaptive.enabled=true`` (+ coalescePartitions + skewJoin) —
  runtime re-planning picks shuffle partition counts and splits skewed
  joins; essential at 100 TB where static tuning can't be right for
  every stage.
* ``spark.sql.sources.partitionOverwriteMode=dynamic`` — accumulating
  tables are written as per-run-date partition overwrites, which makes
  re-runs idempotent (fixes the reference's WRITE_APPEND re-run
  duplication defect, SURVEY.md §2.9 L7).
* ``spark.sql.session.timeZone=UTC`` — parquet timestamps are naive in
  the fixtures; UTC keeps date extraction identical to the DuckDB
  oracle.
* Arrow on for the few Pandas-UDF paths (multimodal decode, optional
  vector ops); everything else is JVM-side built-ins.
"""

from __future__ import annotations

import atexit
import contextlib
import functools
import os
import shutil
import tempfile
import time
import zipfile

from pyspark.sql import DataFrame, SparkSession

# Shuffle partition default for local test scale.  At cluster scale AQE
# coalesces from a deliberately-high initial number instead; see
# `cluster_overrides` below.
_LOCAL_SHUFFLE_PARTITIONS = "32"

ENGINE_CONF: dict[str, str] = {
    "spark.sql.ansi.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # The driver fixtures write pandas datetime64[ns] → parquet
    # TIMESTAMP(NANOS), which Spark's vectorized reader rejects; read the
    # raw int64 nanos and convert at the source wrapper (sources/readers
    # `normalize_timestamps`) — DuckDB truncates ns→µs identically.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Runtime bloom-filter join pruning: when one join side is
    # selective but too big to broadcast, inject a bloom filter of its
    # keys into the other side's scan — at 100 TB this prunes shuffle
    # input for exactly the fact⋈filtered-fact shapes (Q21-style) where
    # neither side broadcasts.  No-op on already-broadcast joins.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.shuffle.partitions": _LOCAL_SHUFFLE_PARTITIONS,
    # Keep scan splits reasonable on wide clusters; 128 MB is the
    # parquet-friendly default and survives 100x scale-up because split
    # count grows with data, not with config.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}

# What changes on a real 1000-executor cluster (documented, not applied in
# local mode): raise initial shuffle partitions so AQE coalesces downward,
# never upward — target ~2-3x total cores; partition count must scale with
# data so each task stays ~128-512 MB.
CLUSTER_OVERRIDES: dict[str, str] = {
    "spark.sql.shuffle.partitions": "4000",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(256 * 1024 * 1024),
}


def get_spark(app_name: str = "etl-cloud-batch-processing-spark",
              master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or get) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    when no cluster master is configured; on a real cluster the submitter
    sets the master and this factory only applies the config block.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(ENGINE_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# applicationIds this process has already shipped the package zip to.
_PKG_SHIPPED: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on Python workers via ``addPyFile``.

    Pandas-UDF / UDTF plans reference module-level functions, which
    cloudpickle serializes *by reference* — workers must be able to
    ``import etl_cloud_batch_processing_spark``.  An external driver
    (the verify harness) may launch from any cwd without PYTHONPATH, so
    we ship a zip of the package through Spark's file distribution
    rather than relying on inherited environment.
    """
    sc = spark.sparkContext
    app_id = sc.applicationId
    if app_id in _PKG_SHIPPED:
        return
    sc.addPyFile(_package_zip())
    _PKG_SHIPPED.add(app_id)


@functools.cache
def _package_zip() -> str:
    """This package's sources, zipped once per process into a scratch
    dir (so the zip goes when the process does)."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zip_path = os.path.join(scratch_dir("pkg_"), f"{pkg_name}.zip")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_STORED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fname in files:
                if not fname.endswith(".py"):
                    continue
                full = os.path.join(root, fname)
                zf.write(full, os.path.join(
                    pkg_name, os.path.relpath(full, pkg_dir)))
    return zip_path


def apply_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine conf to an externally-created session.

    The driver harness constructs its own SparkSession; correctness of our
    plans depends on ANSI-off casts and the UTC session timezone, so the
    query entry points route through this to guarantee those settings.
    """
    runtime_keys = (
        "spark.sql.ansi.enabled",
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.sources.partitionOverwriteMode",
        "spark.sql.session.timeZone",
        "spark.sql.execution.arrow.pyspark.enabled",
        "spark.sql.parquet.filterPushdown",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
        "spark.sql.legacy.parquet.nanosAsLong",
        # Streaming stateful ops pin state to this many partitions at
        # checkpoint creation and never consult AQE; without it an
        # externally-created session runs 200 state tasks on 8 cores.
        "spark.sql.shuffle.partitions",
    )
    for k in runtime_keys:
        spark.conf.set(k, ENGINE_CONF[k])
    _ship_package(spark)
    return spark


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, conf: dict):
    """Set session confs for the body only, then restore each key:
    its previous value if it had been set, unset if it had not.  A
    ``None`` value leaves its key alone, so an optional knob (a derived
    partition count, say) passes straight through."""
    conf = {k: str(v) for k, v in conf.items() if v is not None}
    prev = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def session_memo(fn):
    """Memoize ``fn(spark, *args)`` per session and per ``args``.

    A hit is valid only while every DataFrame in the result (the result
    itself, or the members of a tuple result) is still cached: after an
    external ``clearCache()`` (bench.py does one per run) a memoized
    frame is bare lineage that would re-run the whole build once per
    consumer, so it is rebuilt instead.  A result with no DataFrame,
    such as the path of an index written to disk, stays valid for the
    session."""
    memo: dict[tuple, tuple[SparkSession, object]] = {}

    @functools.wraps(fn)
    def memoized(spark: SparkSession, *args):
        hit = memo.get(args)
        if hit is not None and hit[0] is spark:
            vals = hit[1] if isinstance(hit[1], tuple) else (hit[1],)
            if all(v.storageLevel.useMemory or v.storageLevel.useDisk
                   for v in vals if isinstance(v, DataFrame)):
                return hit[1]
        value = fn(spark, *args)
        memo[args] = (spark, value)
        return value

    return memoized


#: Scratch roots older than this are leftovers of crashed processes.
_TOKEN_DIR_STALE_SECS = 48 * 3600

_SCRATCH_PREFIX = "spark_graft_scratch-"
_scratch_root: str | None = None


def _register_token_dir_cleanup(root: str, prefix: str) -> None:
    """atexit-remove this process's own ``root`` and sweep same-prefix
    siblings whose mtime is older than :data:`_TOKEN_DIR_STALE_SECS`
    (a crashed process never ran its atexit)."""
    atexit.register(shutil.rmtree, root, True)
    parent = os.path.dirname(root)
    try:
        cutoff = time.time() - _TOKEN_DIR_STALE_SECS
        for name in os.listdir(parent):
            sib = os.path.join(parent, name)
            if (name.startswith(prefix) and sib != root
                    and os.path.isdir(sib)
                    and os.path.getmtime(sib) < cutoff):
                shutil.rmtree(sib, ignore_errors=True)
    except OSError:
        pass


def scratch_dir(prefix: str) -> str:
    """A fresh, empty directory for one query's sinks, checkpoints,
    tables or indexes.  Every one lives under a single per-process root
    in ``tempfile.gettempdir()``, resolved on the first call (so a
    ``TMPDIR`` set after import is honoured) and removed at exit;
    concurrent processes never share a path."""
    global _scratch_root
    if _scratch_root is None:
        _scratch_root = tempfile.mkdtemp(prefix=_SCRATCH_PREFIX)
        _register_token_dir_cleanup(_scratch_root, _SCRATCH_PREFIX)
    return tempfile.mkdtemp(prefix=prefix, dir=_scratch_root)
