"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY.md §2.11 upgrade path; the "custom stateful operators" slot of
the Structured Streaming surface).

The operator keeps one (count, sum) accumulator per user across
micro-batches and emits the updated running totals whenever a batch
touches the key — the streaming form of ``groupBy(user).agg(count,
sum)``, but with explicit user-managed state, which is the template for
operators aggregation can't express (e.g. per-key model state, custom
eviction, cross-batch sessionization with side effects).

Correctness contract (tested + oracle-checked in plans/streams.py):
after a full AvailableNow drain, the LAST emission per key equals the
batch aggregate exactly.  State stays bounded: one 16-byte accumulator
per user, checkpointed by the state store; at 100 TB the state shuffles
once on user_id and each micro-batch touches only the keys it contains.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Any

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.streaming.stateful_processor import StatefulProcessor
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

if TYPE_CHECKING:
    from collections.abc import Iterator

    import pandas as pd

#: A publicly-distributed protobuf runtime this container happens to
#: carry (the google-cloud-sdk's appengine platform vendors protobuf
#: 6.32.0).  pip has no network here (DRIVER_NOTES #13), so when
#: ``google.protobuf`` isn't installed as a site package, this is the
#: only runtime available for transformWithStateInPandas's
#: driver↔worker state protocol.
VENDORED_PROTOBUF_DIR = "/usr/lib/google-cloud-sdk/platform/google_appengine"

#: Per-UID, cross-process shim root: a directory whose ONLY content is
#: ``google/__init__.py`` (pkgutil extend_path — cooperates with any
#: site ``google`` namespace) plus a ``google/protobuf`` symlink into
#: the vendored runtime.  Putting THIS on sys.path/PYTHONPATH instead
#: of the whole google_appengine platform dir means none of that dir's
#: other packages (google.auth, google.oauth2, appengine, top-level
#: api_server.py, …) can shadow real site-packages — the round-10
#: advice.  The path carries the uid and the builder VERIFIES
#: ownership before trusting an existing dir (round-11 advice: a fixed
#: world-readable /tmp name could be pre-created by another local user
#: with a malicious ``google/`` package and imported into the driver
#: and every executor); an untrusted squatter falls back to a
#: process-private 0700 tempdir.  Local-mode note: workers share the
#: box AND the uid, so one driver-side build serves every process; a
#: real cluster would ship the subtree via ``--py-files`` instead.


def _default_shim_dir() -> str:
    import os
    import tempfile

    return os.path.join(tempfile.gettempdir(),
                        f"spark_graft_protobuf_shim-{os.getuid()}")


PROTOBUF_SHIM_DIR = _default_shim_dir()

_SHIM_INIT = ("__path__ = __import__('pkgutil')"
              ".extend_path(__path__, __name__)\n")


def _owned_by_me(path: str) -> bool:
    """True iff ``path`` is a directory owned by this uid and not
    group/world-writable — the trust gate before putting ANY
    pre-existing directory on an import path."""
    import os

    try:
        st = os.lstat(path)
    except OSError:
        return False
    import stat as _stat

    return (st.st_uid == os.getuid()
            and _stat.S_ISDIR(st.st_mode)
            and not (st.st_mode & 0o022))


def build_protobuf_shim(vendor: str = VENDORED_PROTOBUF_DIR,
                        shim: str = PROTOBUF_SHIM_DIR) -> str | None:
    """Create (idempotently, race-safely) the google/protobuf-only shim
    dir and return it, or None when the vendored runtime is absent.
    Built in a private 0700 tempdir and renamed into place so two
    processes racing the build both end up with a complete shim.  An
    existing dir is trusted ONLY if owned by this uid and not
    group/world-writable; otherwise the build lands in a fresh
    process-private tempdir instead (never imports a squatter's code)."""
    import os
    import tempfile

    src = os.path.join(vendor, "google", "protobuf")
    if not os.path.isdir(src):
        return None
    probe = os.path.join(shim, "google", "protobuf")
    if os.path.isdir(probe):     # follows the symlink
        if _owned_by_me(shim):
            return shim
        # squatted / wrong owner: never trust it — build private
        shim = tempfile.mkdtemp(prefix="spark_graft_protobuf_shim-priv-")
        probe = os.path.join(shim, "google", "protobuf")
    stage = tempfile.mkdtemp(prefix=os.path.basename(shim) + ".build-",
                             dir=os.path.dirname(shim) or None)
    os.makedirs(os.path.join(stage, "google"), exist_ok=True)
    with open(os.path.join(stage, "google", "__init__.py"), "w") as fh:
        fh.write(_SHIM_INIT)
    os.symlink(src, os.path.join(stage, "google", "protobuf"))
    try:
        os.rename(stage, shim)   # atomic; loser of a race gets EEXIST…
    except OSError:
        import shutil

        shutil.rmtree(stage, ignore_errors=True)
    return shim if (os.path.isdir(probe) and _owned_by_me(shim)) else None


def ensure_protobuf() -> bool:
    """Make ``google.protobuf`` importable in THIS process, falling
    back to the vendored runtime above.  pyspark's generated
    StateMessage gencode is protobuf 6.33; the vendored runtime is
    6.32 — one minor older — so the fallback also sets protobuf's OWN
    documented escape hatch for exactly this window
    (``TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK``, runtime_version.py).
    Returns False when neither a site-package nor the vendored runtime
    exists (the operator then stays unregistered, CI-visibly)."""
    import importlib
    import os
    import sys

    # Probe a REAL runtime module, not the package: spark-core.jar sits
    # on worker sys.path (zipimport) and carries google/protobuf/*.proto
    # RESOURCES, which Python happily resolves as an EMPTY namespace
    # package — `import google.protobuf` succeeds while the runtime is
    # entirely absent ("unknown location" ImportErrors downstream).
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        pass
    shim = build_protobuf_shim()
    if shim is None:
        return False
    os.environ["TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK"] = "true"
    if shim not in sys.path:
        # append, not prepend: only google/protobuf lives in the shim,
        # and nothing else may shadow site-packages
        sys.path.append(shim)
    os.environ["PYTHONPATH"] = (
        shim + os.pathsep
        + os.environ.get("PYTHONPATH", "")).rstrip(os.pathsep)
    # drop any cached empty-namespace google modules so the re-import
    # resolves the vendored regular package instead
    for mod in [m for m in sys.modules
                if m == "google" or m.startswith("google.")]:
        del sys.modules[mod]
    importlib.invalidate_caches()
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def push_protobuf_env_to_workers(spark) -> None:
    """Python workers import the protobuf runtime too (the state
    client runs worker-side): propagate the vendored path + version
    escape hatch through ``sc.environment``, which pyspark ships with
    every pickled command (core/rdd.py _prepare_for_python_RDD) — a
    distinct env set spawns a fresh worker daemon, so this works even
    after other UDFs already ran."""
    import os

    shim = build_protobuf_shim()
    if shim is None:
        return
    env = spark.sparkContext.environment
    env["TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK"] = "true"
    base = env.get("PYTHONPATH", os.environ.get("PYTHONPATH", ""))
    if shim not in base.split(os.pathsep):
        # prepending is safe: the shim contains ONLY google/protobuf
        # (a pkgutil-extended google package), so no other worker-side
        # import can be shadowed
        env["PYTHONPATH"] = (shim + os.pathsep + base).rstrip(os.pathsep)


RUNNING_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("n_events", LongType()),
    StructField("total_value", DoubleType()),
])

STATE_SCHEMA = StructType([
    StructField("n", LongType()),
    StructField("total", DoubleType()),
])


def running_totals_fn(key: tuple[Any, ...],
                      pdfs: "Iterator[pd.DataFrame]",
                      state: GroupState):
    """One call per (key, micro-batch): fold the batch into the
    accumulator, emit the updated running total."""
    import pandas as pd

    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                        "total_value": [total]})


def user_running_totals_stream(events: DataFrame) -> DataFrame:
    """events stream → per-user running (count, sum) via explicit
    state.  Output mode "update": emit only keys touched this batch."""
    return (events.select("user_id", "value")
            .groupBy("user_id")
            .applyInPandasWithState(
                running_totals_fn,
                outputStructType=RUNNING_SCHEMA,
                stateStructType=STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


# ---------------------------------------------------------------------------
# transformWithStateInPandas (Spark 4 arbitrary-state API v2): the
# successor to applyInPandasWithState — typed state variables
# (value/list/map), timers, TTL, and an initial-state hook.  Kept
# alongside the v1 operator so both custom-stateful surfaces are
# exercised end-to-end.
# ---------------------------------------------------------------------------

STATS_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("n_events", LongType()),
    StructField("total_value", DoubleType()),
    StructField("min_value", DoubleType()),
    StructField("max_value", DoubleType()),
])


def _bootstrapped_base():
    """Common base class for every v2 stateful processor here, defined
    in a FUNCTION BODY on purpose (serialize-by-value — DRIVER_NOTES
    #5: the pre-init runner resolves no import path to this package),
    carrying the pickle-borne protobuf bootstrap every process needs
    (see ensure_protobuf; the pre-init runner sees neither addPyFile
    packages nor env vars set after the JVM launched, but it unpickles
    the processor before touching protobuf)."""

    class BootstrappedProcessor(StatefulProcessor):
        @staticmethod
        def _bootstrap_protobuf() -> None:
            import importlib
            import os
            import sys

            try:
                # probe a REAL module: spark-core.jar on worker paths
                # makes bare `google.protobuf` resolve as an empty
                # namespace package (its .proto RESOURCES)
                from google.protobuf import descriptor  # noqa: F401

                return
            except ImportError:
                pass
            # self-contained twin of build_protobuf_shim (this class
            # serializes by VALUE into a pre-init runner that can
            # import nothing from this package): a shim dir holding
            # ONLY google/protobuf, so no other vendored package can
            # shadow site-packages; per-uid path + ownership gate
            # (round-11 advice — never import a squatter's code)
            import stat as _stat
            import tempfile

            vendor = ("/usr/lib/google-cloud-sdk/platform/"
                      "google_appengine")
            shim = os.path.join(
                tempfile.gettempdir(),
                f"spark_graft_protobuf_shim-{os.getuid()}")
            src = os.path.join(vendor, "google", "protobuf")
            if not os.path.isdir(src):
                return

            def _mine(p: str) -> bool:
                try:
                    st = os.lstat(p)
                except OSError:
                    return False
                return (st.st_uid == os.getuid()
                        and _stat.S_ISDIR(st.st_mode)
                        and not (st.st_mode & 0o022))

            if os.path.isdir(os.path.join(shim, "google", "protobuf")) \
                    and not _mine(shim):
                shim = tempfile.mkdtemp(
                    prefix="spark_graft_protobuf_shim-priv-")
            if not os.path.isdir(os.path.join(shim, "google",
                                              "protobuf")):
                import shutil

                stage = tempfile.mkdtemp(
                    prefix=os.path.basename(shim) + ".build-",
                    dir=os.path.dirname(shim) or None)
                os.makedirs(os.path.join(stage, "google"),
                            exist_ok=True)
                with open(os.path.join(stage, "google",
                                       "__init__.py"), "w") as fh:
                    fh.write("__path__ = __import__('pkgutil')"
                             ".extend_path(__path__, __name__)\n")
                os.symlink(src, os.path.join(stage, "google",
                                             "protobuf"))
                try:
                    os.rename(stage, shim)
                except OSError:
                    shutil.rmtree(stage, ignore_errors=True)
            if not (os.path.isdir(os.path.join(shim, "google",
                                               "protobuf"))
                    and _mine(shim)):
                return
            os.environ["TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK"] \
                = "true"
            if shim not in sys.path:
                sys.path.append(shim)
            for mod in [m for m in sys.modules
                        if m == "google" or m.startswith("google.")]:
                del sys.modules[mod]
            importlib.invalidate_caches()

        def __getstate__(self):
            return dict(self.__dict__)

        def __setstate__(self, state):
            self._bootstrap_protobuf()
            self.__dict__.update(state)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            return iter(())

        def close(self) -> None:
            pass

    return BootstrappedProcessor


def make_user_stats_processor() -> StatefulProcessor:
    """Per-user (count, sum, min, max) accumulator as a typed
    ValueState.

    Every fold is commutative/associative over batches, so the LAST
    emission per key after a full drain equals the batch GROUP BY
    exactly, independent of arrival order — that convergence is the
    oracle contract (plans/streams.py streaming_user_stats_tws).
    State is one fixed-width tuple per user: the state store holds
    O(live keys), the 100 TB bound.

    The class is defined inside this factory ON PURPOSE: the v2
    operator's schema-validation phase spawns a pre-init Python runner
    that does NOT see ``addPyFile``-shipped packages, so a module-level
    class (cloudpickle: serialize-by-reference) dies with
    ModuleNotFoundError there.  A ``<locals>`` class serializes fully
    by value — only the pyspark base needs importing on the worker."""

    class UserStatsProcessor(_bootstrapped_base()):
        def init(self, handle) -> None:
            self._state = handle.getValueState(
                "stats", "n BIGINT, total DOUBLE, mn DOUBLE, mx DOUBLE")

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            n, total, mn, mx = ((0, 0.0, None, None)
                                if not self._state.exists()
                                else tuple(self._state.get()))
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
                bmn = float(pdf["value"].min())
                bmx = float(pdf["value"].max())
                mn = bmn if mn is None else min(mn, bmn)
                mx = bmx if mx is None else max(mx, bmx)
            self._state.update((n, total, mn, mx))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                                "total_value": [total], "min_value": [mn],
                                "max_value": [mx]})

    return UserStatsProcessor()


RECENT_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("rnk", LongType()),
    StructField("event_id", LongType()),
    StructField("ts_micros", LongType()),
    StructField("cents", LongType()),
    StructField("n_seen", LongType()),
])


def make_recent_events_processor(keep: int = 5) -> StatefulProcessor:
    """Per-user LAST-K event buffer as a typed ListState (+ a ValueState
    event counter) — the v2 state type a feature store's "most recent
    interactions" panel runs on.  The buffer invariant is maintained
    COMMUTATIVELY: each batch merges its rows into the stored list and
    keeps the global top-``keep`` by (ts, event_id) — so after a full
    drain the final emission per user equals the batch window top-K
    regardless of arrival order, which is what lets a DuckDB
    row_number oracle hash-check a stateful stream."""

    class RecentEventsProcessor(_bootstrapped_base()):
        def init(self, handle) -> None:
            self._recent = handle.getListState(
                "recent",
                "event_id BIGINT, ts_micros BIGINT, cents BIGINT")
            self._n = handle.getValueState("n_seen", "n BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            buf = list(self._recent.get()) if self._recent.exists() \
                else []
            n = self._n.get()[0] if self._n.exists() else 0
            for pdf in rows:
                n += len(pdf)
                buf.extend(zip(pdf["event_id"].astype("int64"),
                               pdf["ts_micros"].astype("int64"),
                               pdf["cents"].astype("int64")))
            buf.sort(key=lambda t: (-t[1], -t[0]))
            buf = [(int(e), int(t), int(c)) for e, t, c in buf[:keep]]
            self._recent.put(buf)
            self._n.update((n,))
            yield pd.DataFrame({
                "user_id": [key[0]] * len(buf),
                "rnk": list(range(1, len(buf) + 1)),
                "event_id": [e for e, _, _ in buf],
                "ts_micros": [t for _, t, _ in buf],
                "cents": [c for _, _, c in buf],
                "n_seen": [n] * len(buf)})

    return RecentEventsProcessor()


def recent_events_tws_stream(events: DataFrame, keep: int = 5) -> DataFrame:
    """events stream → per-user last-K buffer via ListState.  The
    timestamp is projected to epoch micros and the value to exact
    cents BEFORE the processor, so the worker handles only longs."""
    from pyspark.sql import functions as F

    return (events.select(
        "user_id", "event_id",
        F.unix_micros("ts").alias("ts_micros"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"))
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=make_recent_events_processor(keep),
            outputStructType=RECENT_SCHEMA,
            outputMode="Update",
            timeMode="None"))


TYPE_COUNTS_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("n_events", LongType()),
    StructField("sum_cents", LongType()),
    StructField("n_total", LongType()),
])


def make_type_counts_processor() -> StatefulProcessor:
    """Per-user per-event-type (count, exact cents) as a typed MapState
    (+ a ValueState total counter) — the keyed sub-aggregation shape
    (user → {type → stats}) that a flat keyed state cannot express
    without serializing the whole map per touch; MapState reads and
    writes only the sub-keys a batch touches.  Addition is commutative,
    so the final emission per user equals the batch GROUP BY
    (user, type) exactly — DuckDB-oracle-checkable."""

    class TypeCountsProcessor(_bootstrapped_base()):
        def init(self, handle) -> None:
            self._by_type = handle.getMapState(
                "by_type", "event_type STRING",
                "n BIGINT, cents BIGINT")
            self._n = handle.getValueState("n_total", "n BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            n_total = self._n.get()[0] if self._n.exists() else 0
            touched: dict[str, tuple[int, int]] = {}
            for pdf in rows:
                n_total += len(pdf)
                g = pdf.groupby("event_type")["cents"].agg(
                    ["count", "sum"])
                for etype, row in g.iterrows():
                    dn, dc = int(row["count"]), int(row["sum"])
                    if etype in touched:
                        pn, pc = touched[etype]
                    else:
                        prev = self._by_type.getValue((etype,))
                        pn, pc = (int(prev[0]), int(prev[1])) \
                            if prev is not None else (0, 0)
                    touched[etype] = (pn + dn, pc + dc)
            for etype, (tn, tc) in touched.items():
                self._by_type.updateValue((etype,), (tn, tc))
            self._n.update((n_total,))
            # emit the user's FULL current map (bounded: ≤ distinct
            # event types), stamped with n_total to pick the final
            # emission after the drain
            out = [(key[0], k[0], int(v[0]), int(v[1]), n_total)
                   for k, v in self._by_type.iterator()]
            yield pd.DataFrame(
                out, columns=["user_id", "event_type", "n_events",
                              "sum_cents", "n_total"])

    return TypeCountsProcessor()


def type_counts_tws_stream(events: DataFrame) -> DataFrame:
    """events stream → per-(user, type) exact counts/cents via
    MapState."""
    from pyspark.sql import functions as F

    return (events.select(
        "user_id", "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"))
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=make_type_counts_processor(),
            outputStructType=TYPE_COUNTS_SCHEMA,
            outputMode="Update",
            timeMode="None"))


def user_stats_tws_stream(events: DataFrame) -> DataFrame:
    """events stream → per-user running stats via the v2 stateful
    processor.  Update mode + timeMode None: emit touched keys per
    batch, no timers."""
    return (events.select("user_id", "value")
            .groupBy("user_id")
            .transformWithStateInPandas(
                statefulProcessor=make_user_stats_processor(),
                outputStructType=STATS_SCHEMA,
                outputMode="Update",
                timeMode="None"))


TTL_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("n_events", LongType()),
])


def make_ttl_counter_processor(ttl_ms: int) -> StatefulProcessor:
    """Per-key event counter in a ValueState WITH A TTL — the one v2
    state feature the round-10 surface (value/list/map state, event
    timers, initial state) did not exercise: state written in one
    micro-batch becomes INVISIBLE to a batch processed more than
    ``ttl_ms`` of processing time later (``exists()`` returns False and
    the counter restarts), while a generous TTL accumulates normally.
    This is the bounded-staleness eviction a 100-TB keyed stream uses
    when keys churn (abandoned carts, expiring sessions keyed by
    device): the store drops cold keys by itself, no timer bookkeeping.

    TTL is processing-time-based, so its expiry is inherently
    non-deterministic relative to DATA — which is why this operator is
    pytest-pinned (tests/test_tws.py drives two drains around a sleep)
    rather than value-hash-registered like its deterministic siblings."""

    class TtlCounterProcessor(_bootstrapped_base()):
        def init(self, handle) -> None:
            self._n = handle.getValueState("n", "n BIGINT",
                                           ttlDurationMs=ttl_ms)

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            n = self._n.get()[0] if self._n.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self._n.update((n,))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    return TtlCounterProcessor()


def ttl_counter_tws_stream(events: DataFrame, ttl_ms: int) -> DataFrame:
    """events stream → per-user counter whose state expires after
    ``ttl_ms`` of processing time (state TTL requires the
    ProcessingTime time mode)."""
    return (events.select("user_id")
            .groupBy("user_id")
            .transformWithStateInPandas(
                statefulProcessor=make_ttl_counter_processor(ttl_ms),
                outputStructType=TTL_SCHEMA,
                outputMode="Update",
                timeMode="ProcessingTime"))


def drain_running_totals(result: DataFrame, out_dir: str,
                         checkpoint_dir: str) -> DataFrame:
    """AvailableNow drain of an update-mode stateful stream into
    parquet.  File sinks only speak append, so emissions go through
    foreachBatch: each micro-batch's updated rows are appended, giving
    an emission LOG (one row per key per touching batch); the reader
    reconstructs final state as the max-count row per key.  This is the
    standard CDC-style pattern — the log is also exactly what a
    downstream incremental consumer wants.  Returns the log, read with
    the plan's schema (no footer-merge job)."""
    q = (result.writeStream
         .foreachBatch(lambda batch, _id:
                       batch.write.mode("append").parquet(out_dir))
         .option("checkpointLocation", checkpoint_dir)
         .outputMode("update")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return result.sparkSession.read.schema(result.schema).parquet(out_dir)


SESSION_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("start_ms", LongType()),
    StructField("end_ms", LongType()),
    StructField("n_events", LongType()),
    StructField("closed_by", StringType()),
])

#: Session gap for the timer demo: 6 h in ms (the fixture's per-user
#: event cadence makes 30 min collapse to singleton sessions).
SESSION_GAP_MS = 6 * 3600 * 1000


def make_session_timer_processor(gap_ms: int = SESSION_GAP_MS,
                                 ) -> StatefulProcessor:
    """Per-user session tracking closed by EVENT-TIME TIMERS — the v2
    feature the flat aggregation surface cannot express: a session with
    no successor event ends only because TIME passes, and the timer is
    how state learns that without a poll.  Each batch folds its rows
    into the open session (gap > ``gap_ms`` closes it and emits
    ``closed_by='event'``); the processor keeps exactly ONE registered
    timer per key (delete-then-register on every touch) at
    ``last_event + gap``; when the WATERMARK crosses it,
    ``handleExpiredTimer`` emits the session as ``closed_by='timer'``
    and clears state — the idle-timeout eviction that bounds state at
    100 TB.

    Determinism contract (what makes a DuckDB oracle possible): event
    time only, watermark delay 0, in-order arrival (the fixture is one
    file = one batch; late data under a real delay is the documented
    watermark trade, same as every windowed query here).  Whether each
    user's LAST session emits is then a pure function of the corpus:
    it fires iff ``last_ms + gap <= max event ms`` (the final
    watermark) — globally deterministic, not wall-clock."""

    class SessionTimerProcessor(_bootstrapped_base()):
        def init(self, handle) -> None:
            self._handle = handle
            self._sess = handle.getValueState(
                "sess", "start_ms BIGINT, last_ms BIGINT, n BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            ts = []
            for pdf in rows:
                ts.extend(int(x) for x in pdf["ts_ms"])
            ts.sort()
            out = []
            start = last = n = None
            if self._sess.exists():
                start, last, n = (int(v) for v in self._sess.get())
                self._handle.deleteTimer(last + gap_ms)
            for t in ts:
                if start is None:
                    start, last, n = t, t, 1
                elif t - last <= gap_ms:
                    last, n = t, n + 1
                else:
                    out.append((key[0], start, last, n, "event"))
                    start, last, n = t, t, 1
            self._sess.update((start, last, n))
            self._handle.registerTimer(last + gap_ms)
            yield pd.DataFrame(
                out, columns=["user_id", "start_ms", "end_ms",
                              "n_events", "closed_by"])

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            import pandas as pd

            if not self._sess.exists():
                return
            start, last, n = (int(v) for v in self._sess.get())
            if expiredTimerInfo.getExpiryTimeInMs() != last + gap_ms:
                return  # stale timer beaten by a newer registration
            self._sess.clear()
            yield pd.DataFrame(
                [(key[0], start, last, n, "timer")],
                columns=["user_id", "start_ms", "end_ms",
                         "n_events", "closed_by"])

    return SessionTimerProcessor()


def session_timer_tws_stream(events: DataFrame,
                             gap_ms: int = SESSION_GAP_MS) -> DataFrame:
    """events stream → timer-closed sessions.  EventTime mode needs a
    watermark on the input; the processor reads epoch-ms longs."""
    from pyspark.sql import functions as F

    return (events.withWatermark("ts", "0 seconds")
            .select("user_id", "ts",
                    F.expr("unix_micros(ts) div 1000").alias("ts_ms"))
            .groupBy("user_id")
            .transformWithStateInPandas(
                statefulProcessor=make_session_timer_processor(gap_ms),
                outputStructType=SESSION_SCHEMA,
                outputMode="Update",
                timeMode="EventTime"))


WARM_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("n_events", LongType()),
    StructField("sum_cents", LongType()),
])


def make_warm_start_processor() -> StatefulProcessor:
    """Per-user (count, exact cents) fold whose state is SEEDED from a
    batch-computed initial frame via ``handleInitialState`` — the v2
    hook that lets a streaming job take over from history without
    replaying it (the streaming half of incremental view maintenance:
    backfill once in batch, stream the delta forever after).  The
    initial state arrives as one pandas row per key in the FIRST
    batch; subsequent folds are the plain commutative ⊕."""

    class WarmStartProcessor(_bootstrapped_base()):
        def init(self, handle) -> None:
            self._state = handle.getValueState(
                "totals", "n BIGINT, cents BIGINT")

        def handleInitialState(self, key, initialState, timerValues):
            self._state.update((int(initialState["n"].iloc[0]),
                                int(initialState["cents"].iloc[0])))

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            n, cents = ((0, 0) if not self._state.exists()
                        else tuple(int(v) for v in self._state.get()))
            for pdf in rows:
                n += len(pdf)
                cents += int(pdf["cents"].sum())
            self._state.update((n, cents))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                                "sum_cents": [cents]})

    return WarmStartProcessor()


def warm_start_tws_stream(delta_events: DataFrame,
                          initial_state) -> DataFrame:
    """delta stream + batch-aggregated GroupedData initial state →
    running per-user totals over the FULL history."""
    return (delta_events
            .groupBy("user_id")
            .transformWithStateInPandas(
                statefulProcessor=make_warm_start_processor(),
                outputStructType=WARM_SCHEMA,
                outputMode="Update",
                timeMode="None",
                initialState=initial_state))
