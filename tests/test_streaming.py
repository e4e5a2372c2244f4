"""Streaming/batch parity: the AvailableNow streaming pipeline must
produce exactly the batch aggregation restricted to closed windows, and
re-running against the same checkpoint must be a no-op (exactly-once)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_cloud_batch_processing_spark.plans.registry import table
from etl_cloud_batch_processing_spark.streaming import windows as W


def _batch_closed_windows(spark, sf_dir):
    events = table(spark, sf_dir, "events")
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    return (W.tumbling_counts(events)
            .filter(F.col("window_start") + F.expr("INTERVAL 1 DAY")
                    <= F.lit(max_ts)))


def test_streaming_equals_batch_closed_windows(spark, sf_dir, tmp_path):
    out, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    stream_result = W.tumbling_counts(W.events_stream(spark, sf_dir))
    assert stream_result.isStreaming
    W.run_available_now(stream_result, out, ckpt)

    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    want = sorted(map(tuple, _batch_closed_windows(spark, sf_dir).collect()))
    assert got == want
    assert len(got) > 0


def test_run_available_now_returns_the_sink(spark, sf_dir, tmp_path):
    """The frame the drain returns (read with the plan's schema) is the
    sink a schema-less, footer-inferring read sees: same schema, same
    rows."""
    out, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    got = W.run_available_now(
        W.tumbling_counts(W.events_stream(spark, sf_dir)), out, ckpt)
    inferred = spark.read.parquet(out)
    assert got.schema == inferred.schema
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, inferred.collect()))


def test_watermark_dedup_drain_skips_the_no_data_batch(spark, sf_dir, duck):
    """``streaming_dedup_within_watermark`` runs without the no-data
    batch: one micro-batch, none of them empty, and its output is still
    the DISTINCT oracle's."""
    from pyspark.sql.streaming.listener import StreamingQueryListener

    from etl_cloud_batch_processing_spark import plans

    class Batches(StreamingQueryListener):
        """Input rows of each batch of the queries started while it
        listens."""

        def __init__(self):
            self.started, self.rows = set(), []

        def onQueryStarted(self, event):
            self.started.add(str(event.id))

        def onQueryProgress(self, event):
            if str(event.progress.id) in self.started:
                self.rows.append(event.progress.numInputRows)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spec = plans.REGISTRY["streaming_dedup_within_watermark"]
    listener = Batches()
    spark.streams.addListener(listener)
    try:
        got = {tuple(r) for r in spec.builder(spark, sf_dir).collect()}
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)
    assert len(listener.rows) == 1 and listener.rows[0] > 0, listener.rows
    assert got == set(duck.execute(spec.oracle).fetchall())


def test_streaming_restart_is_noop(spark, sf_dir, tmp_path):
    out, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    def drain():
        W.run_available_now(
            W.tumbling_counts(W.events_stream(spark, sf_dir)), out, ckpt)

    drain()
    n1 = spark.read.parquet(out).count()
    drain()                      # same checkpoint: nothing new to process
    assert spark.read.parquet(out).count() == n1


def test_session_windows_merge_within_gap(spark):
    import datetime as dt
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, 1.0),
        (1, t0 + dt.timedelta(minutes=10), 1.0),   # same session
        (1, t0 + dt.timedelta(minutes=50), 1.0),   # 40min gap → new session
        (2, t0, 1.0),
    ]
    events = spark.createDataFrame(rows, ["user_id", "ts", "value"])
    got = {(r.user_id, r.session_start, r.n_events)
           for r in W.session_windows(events).collect()}
    assert (1, t0, 2) in got
    assert (1, t0 + dt.timedelta(minutes=50), 1) in got
    assert (2, t0, 1) in got
    assert len(got) == 3


def test_watermark_drops_late_rows(spark, tmp_path):
    """An event older than the advanced watermark arrives in a later
    run → its (already emitted) window is NOT updated and the late row
    is dropped — the documented append-mode trade.  Two AvailableNow
    drains against one checkpoint make the batch split deterministic:
    run 1 sees only the on-time file and advances the watermark; run 2
    sees only the late file."""
    import datetime as dt

    import pandas as pd

    src = tmp_path / "src"
    src.mkdir()
    d1 = dt.datetime(2024, 1, 1, 6, 0)
    d3 = dt.datetime(2024, 1, 3, 6, 0)
    late = dt.datetime(2024, 1, 1, 18, 0)          # into day-1 window
    out, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    def drain():
        stream = (spark.readStream
                  .schema("ts timestamp, event_type string, value double")
                  .parquet(str(src)))
        W.run_available_now(W.tumbling_counts(stream), out, ckpt)

    pd.DataFrame({"ts": [d1, d3], "event_type": ["click", "click"],
                  "value": [1.0, 1.0]}).to_parquet(
        src / "a.parquet", coerce_timestamps="us")
    drain()                      # watermark advances to Jan 3
    pd.DataFrame({"ts": [late], "event_type": ["click"],
                  "value": [9.0]}).to_parquet(
        src / "b.parquet", coerce_timestamps="us")
    drain()                      # late row < watermark -> dropped

    rows = {(r.window_start, r.n_events, r.sum_value)
            for r in spark.read.parquet(out).collect()}
    # day-1 window emitted once, with ONLY the on-time event; the late
    # row (value 9.0) was neither merged nor re-emitted
    assert (dt.datetime(2024, 1, 1), 1, 1.0) in rows
    assert all(sv not in (9.0, 10.0) for _, _, sv in rows)


def test_streaming_dq_merge_equals_batch_suite(spark, sf_dir):
    """The drained per-batch DQ state must equal the batch suite's
    events rows exactly — the mergeable-report contract."""
    from etl_cloud_batch_processing_spark import plans

    merged = {r["check_name"]: r for r in
              (plans.REGISTRY["streaming_dq_violation_merge"]
               .builder(spark, sf_dir).collect())}
    batch = {r["check_name"]: r for r in
             (plans.REGISTRY["dq_expectation_report"]
              .builder(spark, sf_dir).collect())
             if r["table_name"] == "events"}
    assert set(merged) == set(batch) - {"event_id_unique"}
    for name, m in merged.items():
        b = batch[name]
        assert (m["rows_scanned"], m["violations"], m["passed"]) == \
            (b["rows_scanned"], b["violations"], b["passed"]), name
