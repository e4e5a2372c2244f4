"""Disposition-aware writers.

The reference uses two BigQuery write dispositions (SURVEY.md §2.9):

* ``WRITE_TRUNCATE`` — idempotent full-replace of a staging table
  (dags/daily_search_history.py:50; dags/transaction_data.py:49)
  → :func:`write_overwrite`.
* ``WRITE_APPEND`` — accumulate one run's rows into a history table
  (dags/daily_search_history.py:66,87; dags/transaction_data.py:97)
  → :func:`write_append_partition`.  The reference's append duplicates
  rows if a task is retried in isolation; we instead overwrite the
  single ``dt=<run_date>`` partition (dynamic partition overwrite), so
  any re-run of any stage is idempotent, and backfills across dates
  parallelize because each run touches only its own partition.

At 100 TB the ``dt=`` layout is also the partition-pruning handle: every
scheduled read touches O(one day) of files, never the whole table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_overwrite(df: DataFrame, path: str, fmt: str = "parquet",
                    bucket_by: tuple[int, list[str]] | None = None,
                    table_name: str | None = None,
                    **options: str) -> None:
    """WRITE_TRUNCATE equivalent: replace the whole table.

    ``bucket_by=(n_buckets, [cols])`` writes a BUCKETED table: rows are
    hash-partitioned on the bucket columns and sorted within each
    bucket at write time, so any later equi-join or aggregation on
    those columns runs with ZERO Exchange nodes — the 100 TB answer
    for repeated fact-fact joins (pay the shuffle once at ingest,
    never per query; proven by tests/test_plans.py
    test_bucketed_join_has_no_exchange and
    test_write_overwrite_bucketed_joins_without_exchange).  Bucketing
    requires a catalog entry, so ``table_name`` is mandatory with
    ``bucket_by``; the data itself lands at ``path`` as an external
    table.
    """
    if bucket_by is None:
        df.write.mode("overwrite").format(fmt).options(**options).save(path)
        return
    if table_name is None:
        raise ValueError("bucket_by requires table_name: bucketed "
                         "layout lives in the catalog, not just files")
    n_buckets, cols = bucket_by
    (df.write.bucketBy(n_buckets, *cols).sortBy(*cols)
       .mode("overwrite").format(fmt)
       .option("path", path)
       .saveAsTable(table_name))


def write_append_partition(df: DataFrame, path: str, run_date: str,
                           fmt: str = "parquet",
                           partition_col: str = "dt") -> None:
    """WRITE_APPEND equivalent, made idempotent.

    Stamps ``dt=run_date`` and overwrites only that partition (requires
    ``spark.sql.sources.partitionOverwriteMode=dynamic``, set by the
    session factory).  Re-running the same ``run_date`` replaces rather
    than duplicates — the defect fix called out in SURVEY.md §2.9.
    """
    (df.withColumn(partition_col, F.lit(run_date))
       .write.mode("overwrite")
       .partitionBy(partition_col)
       .format(fmt)
       .save(path))


def write_audit_publish(df: DataFrame, path: str, run_date: str,
                        rules: list, fmt: str = "parquet",
                        partition_col: str = "dt") -> list:
    """Write-audit-publish: stage one run's partition, audit the STAGED
    FILES, then atomically publish — the production discipline
    ``write_append_partition`` skips by publishing directly.

    1. **Stage**: the run's rows land under
       ``<path>/.staging/<partition_col>=<run_date>`` (dot-prefixed, so
       Spark/Hive file listing never surfaces in-flight data to
       readers of ``path``).  ``mode("overwrite")`` clears any stale
       staging left by a crashed prior attempt.
    2. **Audit**: the staged directory is READ BACK and the
       ``operators.expectations.gate`` suite runs against what was
       actually written (one aggregation pass) — auditing the input
       frame instead would miss writer/codec corruption.  Any failed
       check deletes the staging directory and re-raises the gate's
       :class:`..operators.expectations.AuditError`: no partial
       partition, nothing published.  An empty ``rules`` list audits
       nothing.
    3. **Publish**: a single filesystem ``rename`` moves the staged
       directory to ``<path>/<partition_col>=<run_date>``.  Re-runs
       replace the prior publish CRASH-SAFELY: the old partition is
       first renamed ASIDE (to ``.staging/<...>.prev``), then the new
       one renamed in, and only then is the old copy deleted — so a
       failure between any two steps leaves either the old or the new
       partition published (plus at worst a recoverable ``.prev`` under
       the hidden staging dir), never a window where the previously
       published good data is gone with nothing in its place.  Rename
       is atomic on HDFS/local POSIX; on an object store swap this step
       for a manifest commit (Iceberg/Delta-style), keeping stages 1–2
       unchanged.

    Returns the gate's report rows on success."""
    from etl_cloud_batch_processing_spark.operators.expectations import (
        AuditError, gate)

    spark = df.sparkSession
    jvm = spark._jvm
    jsc = spark._jsc
    hpath = jvm.org.apache.hadoop.fs.Path
    base = path.rstrip("/")
    staging_str = f"{base}/.staging/{partition_col}={run_date}"
    final_str = f"{base}/{partition_col}={run_date}"
    fs = hpath(base).getFileSystem(jsc.hadoopConfiguration())

    df.write.mode("overwrite").format(fmt).save(staging_str)

    # the writer's schema: no inference pass (for parquet, a job that
    # merges the staged footers)
    staged = spark.read.format(fmt).schema(df.schema).load(staging_str)
    try:
        report = gate(staged, base, rules)
    except AuditError:
        fs.delete(hpath(staging_str), True)
        raise

    final = hpath(final_str)
    prev_str = f"{staging_str}.prev"
    prev = hpath(prev_str)
    had_prior = fs.exists(final)
    if had_prior:
        if fs.exists(prev):  # stale .prev from a crashed prior re-run
            fs.delete(prev, True)
        if not fs.rename(final, prev):
            raise IOError(
                f"publish: set-aside rename {final_str} -> {prev_str} "
                "failed; prior partition left untouched")
    if not fs.rename(hpath(staging_str), final):
        # Roll the old partition back into place so readers still see it.
        if had_prior:
            fs.rename(prev, final)
        raise IOError(f"publish rename {staging_str} -> {final_str} failed")
    if had_prior:
        fs.delete(prev, True)
    return report


def observed_write(df: DataFrame, path: str,
                   metric_cols: list[str] | None = None,
                   fmt: str = "parquet") -> dict:
    """Write ``df`` while collecting row/null metrics for free.

    ``df.observe`` attaches aggregate accumulators to the plan that the
    write action itself populates — rows written and per-column null
    counts cost ZERO extra scans and zero extra jobs, versus the naive
    "write, then read back and count" which doubles I/O.  This is how a
    100 TB pipeline stage reports its output contract (row counts for
    reconciliation, null rates for drift alarms) without paying for a
    verification pass.

    Returns the metrics dict: ``{"rows": n, "nulls_<col>": n, ...}``.
    """
    from pyspark.sql import Observation

    metric_cols = metric_cols if metric_cols is not None else df.columns
    obs = Observation()
    exprs = [F.count(F.lit(1)).alias("rows")]
    exprs += [F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}")
              for c in metric_cols]
    df.observe(obs, *exprs).write.mode("overwrite").format(fmt).save(path)
    return obs.get


def write_clustered(df: DataFrame, path: str, cluster_cols: list[str],
                    num_files: int | None = None) -> None:
    """Write sort-clustered parquet: range-partition on ``cluster_cols``
    then sort within each partition before writing.

    Files end up covering *disjoint* ranges of the cluster key, so
    parquet row-group min/max statistics become selective: a point or
    range predicate on the key prunes whole files/row groups at scan
    time instead of reading 100 TB and filtering.  This is the
    single-dimension form of clustering (Z-order generalizes it to
    multiple keys); at petabyte scale it is the difference between a
    full scan and touching O(result) bytes.
    """
    out = (df.repartitionByRange(num_files, *cluster_cols)
           if num_files else df.repartitionByRange(*cluster_cols))
    (out.sortWithinPartitions(*cluster_cols)
        .write.mode("overwrite").parquet(path))


def compact(spark, path: str,
            target_file_bytes: int = 128 * 1024 * 1024) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(total_bytes / target_file_bytes)`` files.  Returns the output
    file count.

    Streaming sinks and per-run partition appends accrete small files;
    at 1000-executor scale a table of million 1 MB files spends more
    time opening footers than reading data.  Uses the Hadoop FileSystem
    API (works for any supported scheme, not just local paths) to size
    the input, then a shuffle-free ``coalesce`` to merge splits.
    """
    jvm = spark._jvm
    jsc = spark._jsc
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(jsc.hadoopConfiguration())
    total = fs.getContentSummary(hpath).getLength()
    n_files = max(1, -(-total // target_file_bytes))
    df = spark.read.parquet(path)
    # write to a sibling temp dir then swap — compaction must never
    # destroy the input on failure
    tmp = path.rstrip("/") + "._compact_tmp"
    df.coalesce(n_files).write.mode("overwrite").parquet(tmp)
    fs.delete(hpath, True)
    ok = fs.rename(jvm.org.apache.hadoop.fs.Path(tmp), hpath)
    if not ok:
        raise IOError(f"compact: rename {tmp} -> {path} failed")
    status = fs.listStatus(hpath)
    return sum(1 for s in status
               if s.getPath().getName().endswith(".parquet"))


def zorder_key(df: DataFrame, cols: list[str], bits: int = 16):
    """Morton (Z-order) key over ``cols``: each column min-max-normalized
    to ``bits`` bits against its global range, then bit-interleaved.

    Sorting by the interleaved key gives every participating column
    *locality* in the file layout — per-file min/max footer ranges stay
    narrow on ALL keys simultaneously, where single-key clustering
    (``write_clustered``) serves only its leading key.  This is the
    standard multi-dimensional clustering technique (Delta/Iceberg
    ``OPTIMIZE ZORDER``) expressed in pure DataFrame ops: the global
    min/max per column is a one-row aggregate joined back broadcast —
    no collect, no custom partitioner.

    Returns (df_with_stats, key_column).  Intended for ``write_zordered``;
    exposed for testing.
    """
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__min_{c}"), F.max(c).alias(f"__max_{c}")]
    stats = F.broadcast(df.agg(*aggs))
    out = df.crossJoin(stats)
    scaled = []
    for c in cols:
        lo, hi = F.col(f"__min_{c}"), F.col(f"__max_{c}")
        # normalized rank in [0, 2^bits - 1]; constant column → 0
        span = (hi.cast("double") - lo.cast("double"))
        frac = F.when(span > 0,
                      (F.col(c).cast("double") - lo.cast("double")) / span
                      ).otherwise(F.lit(0.0))
        scaled.append(F.least(F.floor(frac * (1 << bits)).cast("bigint"),
                              F.lit((1 << bits) - 1)))
    z = F.lit(0).cast("bigint")
    for b in range(bits):
        for i, s in enumerate(scaled):
            z = z.bitwiseOR(
                s.bitwiseAND(F.lit(1 << b)).cast("bigint")
                * F.lit(1 << (b * len(scaled) + i - b)))
    return out, z.alias("__zkey")


def write_zordered(df: DataFrame, path: str, cols: list[str],
                   num_files: int, bits: int = 16) -> None:
    """Write parquet clustered by the Z-order key of ``cols``:
    range-partition + sort on the interleaved key, drop it, write.
    Point/range predicates on ANY of the participating columns then
    prune files via footer min/max — the multi-key generalization of
    ``write_clustered``, at the cost of each key's ranges being ~√ as
    tight as a dedicated single-key sort (two-key case)."""
    tagged, zkey = zorder_key(df, cols, bits)
    tagged = tagged.withColumn("__zkey", zkey)
    (tagged.repartitionByRange(num_files, "__zkey")
     .sortWithinPartitions("__zkey")
     .drop("__zkey", *[c for c in tagged.columns if c.startswith("__min_")
                       or c.startswith("__max_")])
     .write.mode("overwrite").parquet(path))


def _fs_write_atomic(jvm, fs, path_str: str, text: str) -> None:
    """Write a small text file atomically: land the bytes at
    ``<path>.tmp`` then rename into place.  Rename-to-a-fresh-name is
    atomic on HDFS/local POSIX; callers guarantee the destination does
    not already exist (a pre-existing destination fails the rename —
    by design, so two racing writers cannot both 'win')."""
    hpath = jvm.org.apache.hadoop.fs.Path
    tmp = hpath(path_str + ".tmp")
    out = fs.create(tmp, True)
    out.write(bytearray(text.encode("utf-8")))
    out.close()
    if not fs.rename(tmp, hpath(path_str)):
        raise IOError(f"atomic write rename {path_str}.tmp -> "
                      f"{path_str} failed")


def _fs_write_exclusive(jvm, fs, path_str: str, text: str) -> None:
    """Write a small text file with EXACTLY-ONE-WINS semantics: when
    two writers race the same destination, one succeeds and the other
    raises ``IOError`` — the optimistic-lock primitive a manifest
    commit needs (``_fs_write_atomic`` is NOT enough there: Hadoop's
    local filesystem maps rename to POSIX ``rename(2)``, which silently
    REPLACES an existing destination, so on local FS the second racer
    would clobber the first's committed manifest).

    * local (``file:``) scheme — stage the bytes under a per-attempt
      unique tmp name, then ``link(2)`` it into place:
      ``Files.createLink`` is atomic and fails ``FileAlreadyExists``
      if a racing winner got there first;
    * any other scheme — existence pre-check + rename, which on HDFS
      proper is atomic-no-overwrite (rename onto an existing file
      returns false).  This is the same per-scheme split Delta Lake's
      LogStore makes.
    """
    import uuid as _uuid

    hpath = jvm.org.apache.hadoop.fs.Path
    tmp_str = f"{path_str}.tmp.{_uuid.uuid4().hex[:8]}"
    if fs.getUri().getScheme() == "file":
        jf = jvm.java.io.File
        dest_local = fs.makeQualified(hpath(path_str)).toUri().getPath()
        tmp_local = fs.makeQualified(hpath(tmp_str)).toUri().getPath()
        jvm.org.apache.commons.io.FileUtils.writeStringToFile(
            jf(tmp_local), text, "UTF-8")
        try:
            jvm.java.nio.file.Files.createLink(
                jf(dest_local).toPath(), jf(tmp_local).toPath())
        except Exception as exc:
            raise IOError(
                f"exclusive write lost the race: {path_str} already "
                f"exists ({exc.__class__.__name__})") from exc
        finally:
            jf(tmp_local).delete()
        return
    tmp = hpath(tmp_str)
    out = fs.create(tmp, True)
    out.write(bytearray(text.encode("utf-8")))
    out.close()
    if fs.exists(hpath(path_str)) or not fs.rename(tmp, hpath(path_str)):
        fs.delete(tmp, False)
        raise IOError(f"exclusive write lost the race: {path_str} "
                      "already exists")


def _fs_read_text(jvm, fs, path_str: str) -> str:
    """Read a small text file through the Hadoop FS API (scheme-
    agnostic — works wherever the table lives, not just local paths)."""
    stream = fs.open(jvm.org.apache.hadoop.fs.Path(path_str))
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8")
    finally:
        stream.close()


#: In-progress / committed journal markers for delete_where's swap.
#: The journal records exactly which files the swap touches, so a
#: crashed run can be ROLLED BACK (journal present: restore set-aside
#: originals, un-publish any survivor files already renamed in) or
#: ROLLED FORWARD (committed marker present: the swap finished, the
#: helper dirs are garbage).  Renaming the journal to the committed
#: marker is the single atomic commit point.
_DELETE_JOURNAL = ".delete_journal"
_DELETE_COMMITTED = ".delete_journal.committed"


def _recover_stale_delete(jvm, fs, base: str) -> None:
    """Recover a crashed prior :func:`delete_where` before starting a
    new one.  Exactly one of three states can exist:

    * journal present (crash mid-swap) → roll BACK: delete any survivor
      file the crashed run already published, restore every set-aside
      original from ``.delete_trash``, remove the helper dirs.  The
      table is bit-identical to its pre-delete state and the new run
      re-discovers the matches from scratch.
    * committed marker present (crash between commit and cleanup) →
      roll FORWARD: the swap finished, ``.delete_tmp``/``.delete_trash``
      hold only garbage; delete them and the marker.
    * trash dir present with NEITHER marker → impossible for this code
      (the journal is written before any rename); refuse with a clear
      error rather than destroy what might be the only copy of
      someone's data (the round-8 advice finding: the old 'delete stale
      dirs' cleanup could permanently drop set-aside originals).
    """
    import json as _json

    hpath = jvm.org.apache.hadoop.fs.Path
    tmp_str, trash_str = f"{base}/.delete_tmp", f"{base}/.delete_trash"
    journal, committed = (f"{base}/{_DELETE_JOURNAL}",
                          f"{base}/{_DELETE_COMMITTED}")
    if fs.exists(hpath(journal)):
        j = _json.loads(_fs_read_text(jvm, fs, journal))
        for name in j["survivors"]:  # un-publish partially renamed-in
            p = hpath(f"{base}/{name}")
            if fs.exists(p):
                fs.delete(p, False)
        for name in j["affected"]:  # restore set-aside originals
            t = hpath(f"{trash_str}/{name}")
            if fs.exists(t):
                if not fs.rename(t, hpath(f"{base}/{name}")):
                    raise IOError(
                        f"delete_where recovery: restore of {name} failed")
        for d in (tmp_str, trash_str, journal, journal + ".tmp"):
            if fs.exists(hpath(d)):
                fs.delete(hpath(d), True)
        return
    if fs.exists(hpath(committed)):
        for d in (tmp_str, trash_str, committed):
            if fs.exists(hpath(d)):
                fs.delete(hpath(d), True)
        return
    if fs.exists(hpath(trash_str)):
        raise IOError(
            f"delete_where: {trash_str} exists with no journal — it "
            "holds original table files set aside by an interrupted "
            "delete from an unknown layout; refusing to run.  Recover "
            "the trash files manually (rename them back into the "
            "table) before retrying.")
    for d in (tmp_str, f"{base}/{_DELETE_JOURNAL}.tmp"):
        # survivors never published / journal never committed: garbage
        if fs.exists(hpath(d)):
            fs.delete(hpath(d), True)


def delete_where(spark, path: str, predicate) -> dict:
    """Targeted delete (GDPR / right-to-be-forgotten): remove every row
    matching ``predicate`` from a parquet directory by rewriting ONLY
    the files that contain matches — the untouched majority of the
    table is neither read past its footers nor rewritten.

    If the directory is manifest-committed (``_manifest.v*`` present —
    :mod:`.manifest`), the swap is a manifest commit instead: survivors
    land as NEW files invisible to manifest readers, one atomic
    manifest flip retires the affected files, and a racing reader sees
    either the complete old or the complete new file set — never a
    torn state.  The retired originals stay on disk until
    :func:`.manifest.vacuum`.

    How the touched set stays small: the affected-file discovery scan
    pushes ``predicate`` into the parquet source, so files whose footer
    min/max statistics exclude the predicate are skipped outright —
    on a ``write_clustered`` / ``write_zordered`` layout a
    single-subject delete touches O(1) files of a 100-TB table.  (On an
    unclustered layout the discovery still scans everything once; the
    layout IS the delete-cost model, which is why the clustered writers
    live in this module.)

    NULL semantics: a row whose predicate evaluates to NULL is a
    SURVIVOR.  A delete removes rows the predicate POSITIVELY matches;
    under three-valued logic ``filter(p)`` and ``filter(~p)`` BOTH drop
    NULL rows, which would silently lose them — so survivors are
    ``~coalesce(p, false)`` and a zero-loss audit asserts
    ``deleted + rewritten == rows read`` before any rename happens.

    Swap discipline for the raw-directory path (manifest-less tables):

    1. survivors of the affected files are written to a dot-prefixed
       temp dir (invisible to readers);
    2. a JOURNAL listing the affected originals and the survivor file
       names is committed (atomic rename);
    3. each affected original is renamed ASIDE into a dot-prefixed
       trash dir; survivor files are renamed into the table;
    4. the journal is renamed to a ``committed`` marker — the atomic
       commit point — then temp dir, trash dir, and marker are deleted.

    A crash at any point leaves every row either in the table or in a
    recoverable dot-dir, never silently dropped, and the NEXT run
    recovers mechanically before starting (:func:`_recover_stale_delete`:
    journal → roll back to the exact pre-delete bytes; committed marker
    → finish the cleanup).  Re-running after a crash or at any later
    time is idempotent — once no row matches, the delete is a no-op.
    Readers racing step 3 can transiently miss SURVIVOR rows of
    affected files (the non-transactional caveat the manifest path
    removes).

    Returns ``{"files_affected", "files_total", "rows_deleted",
    "rows_rewritten"}``.
    """
    import json as _json

    from etl_cloud_batch_processing_spark.sources import manifest as M

    jvm = spark._jvm
    jsc = spark._jsc
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(jsc.hadoopConfiguration())
    base = path.rstrip("/")
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate

    if M.has_manifest(spark, base):
        return M.delete_where_manifested(spark, base, pred)

    _recover_stale_delete(jvm, fs, base)

    files_total = sum(
        1 for s in fs.listStatus(hpath(path))
        if s.getPath().getName().endswith(".parquet"))
    # driver fetch: the affected-FILE list — bounded by file count, not
    # rows, and immediately pushed back down as the rewrite's read set.
    affected = [
        r["__f"] for r in (spark.read.parquet(path)
                           .filter(pred)
                           .select(F.input_file_name().alias("__f"))
                           .distinct().collect())]  # driver fetch
    if not affected:
        return {"files_affected": 0, "files_total": files_total,
                "rows_deleted": 0, "rows_rewritten": 0}

    sub = spark.read.parquet(*affected)
    rows_read = sub.count()
    rows_deleted = sub.filter(pred).count()
    # NULL-predicate rows are survivors (see docstring) — ~coalesce(p,
    # false) keeps them where plain ~p would drop them.
    survivors = sub.filter(~F.coalesce(pred, F.lit(False)))
    rows_rewritten = survivors.count()
    if rows_deleted + rows_rewritten != rows_read:
        raise IOError(
            f"delete_where: zero-loss audit failed — read {rows_read} "
            f"rows from affected files but deleted {rows_deleted} + "
            f"rewrote {rows_rewritten}; aborting before any rename")

    tmp_str, trash_str = f"{base}/.delete_tmp", f"{base}/.delete_trash"
    # one output file per affected input keeps the layout's file sizing
    survivors.coalesce(len(affected)).write.mode("overwrite").parquet(tmp_str)
    survivor_names = [
        s.getPath().getName() for s in fs.listStatus(hpath(tmp_str))
        if s.getPath().getName().endswith(".parquet")]
    affected_names = [f.rsplit("/", 1)[-1] for f in affected]
    journal_str = f"{base}/{_DELETE_JOURNAL}"
    _fs_write_atomic(jvm, fs, journal_str, _json.dumps(
        {"affected": affected_names, "survivors": survivor_names}))

    fs.mkdirs(hpath(trash_str))
    for name in affected_names:
        if not fs.rename(hpath(f"{base}/{name}"),
                         hpath(f"{trash_str}/{name}")):
            raise IOError(f"delete_where: set-aside of {name} failed")
    for name in survivor_names:
        if not fs.rename(hpath(f"{tmp_str}/{name}"),
                         hpath(f"{base}/{name}")):
            raise IOError(f"delete_where: publish of {name} failed")
    if not fs.rename(hpath(journal_str),
                     hpath(f"{base}/{_DELETE_COMMITTED}")):
        raise IOError("delete_where: commit-marker rename failed")
    fs.delete(hpath(tmp_str), True)
    fs.delete(hpath(trash_str), True)
    fs.delete(hpath(f"{base}/{_DELETE_COMMITTED}"), False)
    return {"files_affected": len(affected), "files_total": files_total,
            "rows_deleted": rows_deleted, "rows_rewritten": rows_rewritten}
