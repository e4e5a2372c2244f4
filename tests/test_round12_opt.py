"""Optimization round 12: the fused-materialization runner mode, the
offset-targeted streaming drain, and the input-size-derived streaming
state-partition count — each optimization that changed an operator's
internals gets its behavior pinned here."""
from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_cloud_batch_processing_spark.operators.iterative import (
    changed_count_metric,
    iterate_to_fixpoint,
)
from etl_cloud_batch_processing_spark.session import scoped_conf
from etl_cloud_batch_processing_spark.streaming.windows import (
    NO_DATA_BATCHES,
    SHUFFLE_PARTITIONS,
    STREAM_PARTITIONS_ENV,
    drain_available_now_until,
    stream_state_partitions,
)


def _run_fixpoint(spark, total_jobs, materialize: str):
    state = spark.createDataFrame([(i,) for i in range(8)], "v bigint") \
        .localCheckpoint(eager=True)

    def step(df):
        return df.select((F.col("v") / 2).cast("bigint").alias("v"))

    def metric(old, new):
        return float(new.agg(F.sum("v")).first()[0] or 0)

    j0 = total_jobs()
    res = iterate_to_fixpoint(state, step, metric, tol=0.0,
                              max_rounds=50, checkpoint_every=2,
                              materialize=materialize)
    return res, total_jobs() - j0


def test_fused_materialize_same_fixpoint_fewer_jobs(spark, total_jobs):
    """materialize='metric' must land on the identical fixpoint
    (rounds, converged, values) while launching strictly fewer Spark
    jobs — the whole point of the mode (one job per round instead of
    two)."""
    eager, eager_jobs = _run_fixpoint(spark, total_jobs, "count")
    fused, fused_jobs = _run_fixpoint(spark, total_jobs, "metric")
    assert fused.rounds == eager.rounds == 3
    assert fused.converged and eager.converged
    assert fused.final_metric == eager.final_metric == 0.0
    assert (sorted(r["v"] for r in fused.state.collect())
            == sorted(r["v"] for r in eager.state.collect()))
    assert fused_jobs < eager_jobs, (fused_jobs, eager_jobs)


def test_fused_materialize_with_multibranch_step(spark):
    """A step whose plan references the previous round TWICE (the
    recompute-pathology shape) still computes correctly under the fused
    mode when the metric scans each round once — the metric's scan
    materializes the cache before any double-branch plan executes."""
    state = (spark.createDataFrame([(i, i) for i in range(6)],
                                   "id bigint, lab bigint")
             .localCheckpoint(eager=True))

    def step(df):
        # references df twice: a self-union then a min per id
        return (df.unionByName(df.select("id", "lab"))
                .groupBy("id").agg((F.min("lab") - 1).alias("lab")))

    res = iterate_to_fixpoint(state, step,
                              changed_count_metric("id", "lab"),
                              tol=0.0, max_rounds=3, checkpoint_every=1,
                              materialize="metric")
    assert res.rounds == 3  # lab decrements forever: max_rounds cut
    assert not res.converged
    rows = {r["id"]: r["lab"] for r in res.state.collect()}
    assert rows == {i: i - 3 for i in range(6)}


def test_fused_materialize_rejects_unknown_mode(spark):
    state = spark.createDataFrame([(1,)], "v bigint")
    with pytest.raises(ValueError, match="materialize"):
        iterate_to_fixpoint(state, lambda d: d, lambda o, n: 0.0,
                            materialize="nope")


def test_drain_until_offset_skips_confirmation_start(spark, tmp_path):
    """With a known offset target the drain stops WITHOUT the final
    zero-row confirmation start; without one it still stops via the
    zero-rows fallback — one start later."""
    from etl_cloud_batch_processing_spark.sources import pysource

    pysource.register(spark)
    rows, batch_rows = 40, 20

    def one_case(ckpt, out, source_done):
        starts = []

        def start():
            q = (spark.readStream.format("synthetic_events")
                 .option("rows", str(rows))
                 .option("batchRows", str(batch_rows)).load()
                 .groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
                 .writeStream
                 .foreachBatch(lambda b, _id:
                               b.write.mode("overwrite").parquet(out))
                 .option("checkpointLocation", ckpt)
                 .outputMode("complete")
                 .trigger(availableNow=True).start())
            starts.append(q)
            return q

        drain_available_now_until(start, source_done=source_done,
                                  bound=10, what="test source")
        return len(starts)

    n_offset = one_case(str(tmp_path / "c1"), str(tmp_path / "o1"),
                        lambda end: int(end["index"]) >= rows)
    n_fallback = one_case(str(tmp_path / "c2"), str(tmp_path / "o2"),
                          None)
    assert n_fallback == n_offset + 1, (n_offset, n_fallback)
    # both sinks hold the identical complete-mode totals
    a = sorted(map(tuple, spark.read.parquet(str(tmp_path / "o1"))
                   .collect()))
    b = sorted(map(tuple, spark.read.parquet(str(tmp_path / "o2"))
                   .collect()))
    assert a == b and a


def test_stream_state_partitions_scale_with_input(spark, tmp_path):
    """Partition count derives from input bytes (floor 2), and the env
    override wins unconditionally."""
    small = tmp_path / "small.bin"
    small.write_bytes(b"x" * 1024)
    big = tmp_path / "big"
    big.mkdir()
    for i in range(3):
        (big / f"f{i}.bin").write_bytes(b"x" * (40 << 20))
    assert stream_state_partitions(spark, str(small)) == 2
    assert stream_state_partitions(spark, str(big)) == 1 + (120 << 20) // (
        32 << 20)
    assert stream_state_partitions(spark) == 2  # no sources: floor
    # python-stateful drains floor at the core count: the partition
    # count is their Python-compute parallelism knob (A/B-measured:
    # 2 partitions tripled a TWS drain)
    cores = spark.sparkContext.defaultParallelism
    assert (stream_state_partitions(spark, str(small),
                                    python_stateful=True)
            == max(2, cores))
    os.environ[STREAM_PARTITIONS_ENV] = "7"
    try:
        assert stream_state_partitions(spark, str(big)) == 7
        assert stream_state_partitions(spark, str(big),
                                       python_stateful=True) == 7
    finally:
        del os.environ[STREAM_PARTITIONS_ENV]


def test_scoped_conf_restores(spark):
    """Each key gets its prior value back, or is unset again if it was
    unset; a None value leaves its key alone; a raising body restores
    too."""
    key, unset = SHUFFLE_PARTITIONS, NO_DATA_BATCHES
    before = spark.conf.get(key)
    assert spark.conf.get(unset, None) is None
    with scoped_conf(spark, {key: 3, unset: "false"}):
        assert spark.conf.get(key) == "3"
        assert spark.conf.get(unset) == "false"
    assert spark.conf.get(key) == before
    assert spark.conf.get(unset, None) is None
    with scoped_conf(spark, {key: None}):
        assert spark.conf.get(key) == before
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, {key: 5}):
            raise RuntimeError("boom")
    assert spark.conf.get(key) == before
