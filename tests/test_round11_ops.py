"""Round-11 operator pins: the CDF→consumer compositions must be
IDEMPOTENT — applying the same change feed a second time is a no-op for
both the SCD2 merge (incl. the delete close-out) and the grouped-sum
IVM refresh (relational version watermark) — the exactly-once property
an incremental warehouse rests on, which the oracle hash of a single
application cannot see."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _lifecycle(spark):
    from etl_cloud_batch_processing_spark.plans.evolution import (
        _publish_cdf_lifecycle, change_feed,
    )

    path, v_old = _publish_cdf_lifecycle(spark, SF)
    feed = change_feed(spark, path, "event_id", ["cents"], v_old)
    return path, v_old, feed


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_cdf_scd2_second_application_is_noop(spark):
    """Re-merging the same feed batch and re-closing the same deletes
    must leave the dimension byte-identical — retries and at-least-once
    feed delivery are safe for the SCD2 consumer."""
    from etl_cloud_batch_processing_spark.operators.merge import (
        merge_scd2, scd2_schema_from,
    )
    from etl_cloud_batch_processing_spark.sources import manifest as M

    path, v_old, feed = _lifecycle(spark)
    seed = (M.read_manifest(spark, path, version=v_old)
            .select("event_id", "cents",
                    F.lit(1).cast("bigint").alias("obs")))
    dim = merge_scd2(scd2_schema_from(seed, ["event_id"], "obs"),
                     seed, ["event_id"], "obs")
    batch = (feed.filter(F.col("change_type") != "delete")
             .select("event_id", F.col("new_cents").alias("cents"),
                     F.lit(2).cast("bigint").alias("obs")))
    deld = (feed.filter(F.col("change_type") == "delete")
            .select("event_id", F.lit(1).alias("__del")))

    def close_deleted(d):
        return (d.join(deld, "event_id", "left")
                .select("event_id", "cents", "valid_from",
                        F.when(F.col("__del").isNotNull()
                               & F.col("is_current"),
                               F.lit(2).cast("bigint"))
                        .otherwise(F.col("valid_to")).alias("valid_to"),
                        (F.col("is_current") & F.col("__del").isNull())
                        .alias("is_current")))

    once = _rows(close_deleted(merge_scd2(dim, batch,
                                          ["event_id"], "obs")))
    assert once  # non-degenerate
    twice = _rows(close_deleted(merge_scd2(
        close_deleted(merge_scd2(dim, batch, ["event_id"], "obs")),
        batch, ["event_id"], "obs")))
    assert once == twice
    # the SCD2 invariant survives both applications
    assert all((vt is None) == cur for _, _, _, vt, cur in twice)


def test_cdf_ivm_second_application_is_noop(spark):
    """apply_feed_to_grouped_sum gates the delta on the state's version
    watermark: applying feed v3 to a v2 state refreshes; re-applying v3
    to the refreshed state changes nothing; and the refreshed state
    equals a recompute from the new snapshot."""
    from etl_cloud_batch_processing_spark.plans.evolution import (
        apply_feed_to_grouped_sum,
    )
    from etl_cloud_batch_processing_spark.sources import manifest as M

    path, v_old, feed = _lifecycle(spark)
    v_new = M.current_manifest(spark, path)[0]
    state = (M.read_manifest(spark, path, version=v_old)
             .groupBy((F.col("event_id") % 7).alias("grp"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                  F.sum("cents").cast("bigint").alias("sum_cents"))
             .withColumn("__applied_v", F.lit(v_old).cast("bigint")))
    once = apply_feed_to_grouped_sum(state, feed, v_new)
    twice = apply_feed_to_grouped_sum(once, feed, v_new)
    assert _rows(once) == _rows(twice)
    # and a stale feed (version == watermark) is a no-op from the start
    stale = apply_feed_to_grouped_sum(state, feed, v_old)
    assert _rows(stale) == _rows(state.filter(F.col("n_rows") > 0))
    # the applied state equals full recompute from the new snapshot
    full = (M.read_manifest(spark, path)
            .groupBy((F.col("event_id") % 7).alias("grp"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                 F.sum("cents").cast("bigint").alias("sum_cents")))
    assert (_rows(once.drop("__applied_v"))
            == _rows(full.filter(F.col("n_rows") > 0)))


def test_dt_backfill_feed_rerun_is_empty_and_isolated(spark, tmp_path):
    """The dt-layout feed's two contract properties the oracle hash
    can't see: re-running the SAME backfill then diffing produces an
    EMPTY feed (idempotent dt overwrite → no phantom changes), and the
    other day's partition is byte-identical across the backfill
    (partition isolation)."""
    from etl_cloud_batch_processing_spark.plans.evolution import (
        first_two_days, snapshot_diff,
    )
    from etl_cloud_batch_processing_spark.sources.writers import (
        write_append_partition,
    )

    d0, d1 = first_two_days(spark, SF)
    ev = spark.read.parquet(f"{SF}/events.parquet")
    if dict(ev.dtypes)["ts"] == "bigint":   # nanos fixtures
        ev = ev.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    ev = ev.withColumn("day", F.to_date("ts"))
    cents = F.round(F.col("value") * 100).cast("bigint").alias("cents")
    day0 = (ev.filter(F.col("day") == F.lit(d0).cast("date"))
            .select("event_id", cents))
    day1 = (ev.filter(F.col("day") == F.lit(d1).cast("date"))
            .select("event_id", cents))
    root = str(tmp_path / "t")
    write_append_partition(day0, root, d0)
    write_append_partition(day1, root, d1)

    def part(d):
        return (spark.read.parquet(root)
                .filter(F.col("dt").cast("string") == d)
                .select("event_id", "cents"))

    pre0, pre1 = _rows(part(d0)), _rows(part(d1))
    write_append_partition(day0, root, d0)     # SAME backfill again
    assert snapshot_diff(
        spark.createDataFrame(pre0, "event_id bigint, cents bigint"),
        part(d0), "event_id", ["cents"]).count() == 0
    assert _rows(part(d1)) == pre1             # partition isolation
    # and an EDITED rerun feeds exactly its edits, nothing from day 1
    edited = day0.filter(F.col("event_id") % 2 == 0)
    write_append_partition(edited, root, d0)
    feed = snapshot_diff(
        spark.createDataFrame(pre0, "event_id bigint, cents bigint"),
        part(d0), "event_id", ["cents"])
    assert feed.filter("change_type <> 'delete'").count() == 0
    assert feed.count() == len([r for r in pre0 if r[0] % 2 == 1])
    assert _rows(part(d1)) == pre1


def test_collated_grouping_merges_case_variants(spark):
    """UTF8_LCASE grouping must collapse exactly the lower()-equal
    classes: collated group count == lower-distinct count < binary
    distinct count (the mixed-casing derivation guarantees variants
    exist), and every reported count equals the lower()-keyed binary
    recompute."""
    from etl_cloud_batch_processing_spark.plans.core import (
        collated_lcase_group_join,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet")
    mixed = (F.when(F.col("event_id") % 3 == 0, F.upper("event_type"))
             .otherwise(F.col("event_type")))
    n_binary = ev.select(mixed.alias("k")).distinct().count()
    got = {r.key: r.n_events for r in
           collated_lcase_group_join(spark, SF).collect()}
    assert 0 < len(got) < n_binary
    want = {r.k: r.n for r in
            (ev.groupBy(F.lower(mixed).alias("k"))
             .agg(F.count(F.lit(1)).alias("n")).collect())}
    assert got == want


def test_streaming_manifest_ingest_exactly_once(spark, tmp_path):
    """The streaming→manifest producer's two exactly-once properties:
    a second drain of the same checkpoint ingests NOTHING (manifest
    version count unchanged), and a simulated foreachBatch RETRY
    (republishing a batch id already committed) replaces its partition
    instead of duplicating rows."""
    from pyspark.sql import functions as F

    from etl_cloud_batch_processing_spark.sources import manifest as M

    src = str(tmp_path / "src")
    path = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    ev = (spark.read.parquet(f"{SF}/events.parquet")
          .select("event_id", "event_type",
                  F.round(F.col("value") * 100).cast("bigint")
                  .alias("cents")))
    ev.repartition(3).write.mode("overwrite").parquet(src)

    def drain():
        stream = (spark.readStream.schema(ev.schema)
                  .option("maxFilesPerTrigger", "1")
                  .option("pathGlobFilter", "*.parquet").parquet(src))
        q = (stream.writeStream
             .foreachBatch(lambda b, i:
                           M.publish_manifested(b, path, f"b{i:06d}"))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    drain()
    v1, _ = M.current_manifest(spark, path)
    assert v1 >= 3                         # one commit per micro-batch
    total = ev.count()
    assert M.read_manifest(spark, path).count() == total
    drain()                                # same checkpoint: no new data
    assert M.current_manifest(spark, path)[0] == v1
    assert M.read_manifest(spark, path).count() == total
    # at-least-once retry of an already-committed batch id: its dt
    # partition is REPLACED, never duplicated
    b0 = M.read_manifest(spark, path).filter(F.col("dt") == "b000000")
    n0 = b0.count()
    assert n0 > 0
    M.publish_manifested(b0.drop("dt"), path, "b000000")
    assert M.read_manifest(spark, path).count() == total
    assert (M.read_manifest(spark, path)
            .filter(F.col("dt") == "b000000").count() == n0)


def test_unpivot_drops_null_cells(spark):
    """The fixture has every type on every day, so the registered
    round-trip never exercises UNPIVOT's include-nulls default — pin it
    on a frame with a genuinely absent (day, type) cell: the NULL cell
    must NOT come back as a row (matching a GROUP BY), and
    INCLUDE NULLS must bring it back."""
    wide = spark.createDataFrame(
        [(1, 3, None), (2, 1, 5)], "day int, click bigint, view bigint")
    wide.createOrReplaceTempView("unpivot_pin_wide")
    base = ("SELECT day, event_type, n FROM unpivot_pin_wide "
            "UNPIVOT {} (n FOR event_type IN (click, view))")
    got = sorted(tuple(r) for r in spark.sql(base.format("")).collect())
    assert got == [(1, "click", 3), (2, "click", 1), (2, "view", 5)]
    kept = sorted((r.day, r.event_type, r.n) for r in
                  spark.sql(base.format("INCLUDE NULLS")).collect())
    assert (1, "view", None) in kept and len(kept) == 4


def test_vacuum_retention_query_flags(spark):
    """The registered retention query's boolean edges are live, not
    vacuous: the flags come from a real FileNotFoundError and a real
    files_removed count (rerun the builder and check the one row)."""
    from etl_cloud_batch_processing_spark.plans.evolution import (
        vacuum_retention_snapshot_read,
    )

    r = vacuum_retention_snapshot_read(spark, SF).collect()[0]
    assert r.v1_expired and r.files_removed_any
    assert r.manifests_removed == 1
    assert 0 < r.v2_rows < r.latest_rows


def test_band_index_feed_maintenance_contents(spark, tmp_path):
    """Beyond the per-band aggregate hash: the maintained index must
    contain ZERO entries for deleted docs, every inserted doc's full
    band set, and stay probe-able (an indexed query still joins)."""
    from etl_cloud_batch_processing_spark.operators.dedup import (
        N_BANDS, _par_docs, band_table, probe_band_index,
    )
    from etl_cloud_batch_processing_spark.sources import manifest as M

    docs = _par_docs(spark, SF)
    path = str(tmp_path / "idx")
    M.publish_manifested(band_table(docs), path, "base")
    M.delete_where_manifested(spark, path, (F.col("doc_id") % 7) == 0)
    inserts = (docs.filter(F.col("doc_id") % 13 == 0)
               .withColumn("doc_id", F.col("doc_id") + 1000000000))
    M.publish_manifested(band_table(inserts), path, "b1")
    idx = M.read_manifest(spark, path)
    assert idx.filter((F.col("doc_id") % 7 == 0)
                      & (F.col("doc_id") < 1000000000)).count() == 0
    n_ins_docs = band_table(inserts).select("doc_id").distinct().count()
    assert (idx.filter(F.col("doc_id") >= 1000000000)
            .select("doc_id").distinct().count() == n_ins_docs)
    per_doc = (idx.groupBy("doc_id").count().select("count").distinct()
               .collect())
    assert [r["count"] for r in per_doc] == [N_BANDS]  # full band sets
    # the maintained index still serves probes (self-probe finds the
    # inserted copies colliding with their source docs)
    hits = probe_band_index(spark, inserts.limit(50), path)
    assert hits.filter(F.col("indexed_doc") < 1000000000).count() > 0


if __name__ == "__main__":
    pytest.main([__file__, "-q"])
