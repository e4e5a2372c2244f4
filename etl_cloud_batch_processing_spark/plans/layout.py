"""Data-layout operators: Z-order (Morton) clustering and zone-map
file skipping.

At 100 TB the scan is the query: a fact table laid out by ingest time
prunes time predicates and nothing else, while a Z-ORDER layout
interleaves the bits of several clustering dimensions so that every
file's zone map (per-file min/max of each dimension) is tight in ALL of
them — the layout behind Delta's ``OPTIMIZE ZORDER BY``, Iceberg's
sort-order z-curves, and classic multidimensional clustering.  These
queries SIMULATE both layouts over the ``events`` fixture and measure
what a planner's file-skipping step would actually do, so "z-order
helps this predicate" is a number, not folklore.

Everything is deterministic integer arithmetic (bit interleave, exact
min/max) plus one totally-ordered ntile cut, so both queries are
value-hash-checked against DuckDB twins.

File model: the z layout sorts by the Morton key and cuts EQUAL-COUNT
files (``ntile`` — what an OPTIMIZE ZORDER rewrite produces), sized to
the SAME file count as the linear baseline's day partitions so the
comparison is file-for-file fair.  A fixed-width bucketing of the z
range was measured and rejected: the fixture dimensions occupy the
curve sparsely, so fixed z-width buckets collapse to 3-4 giant files
whose zone maps prune nothing.  The ntile here is a global-order window
(fine at fixture scale); the production write is
``sources/writers.py write_zordered`` — ``repartitionByRange`` on the
interleaved key + ``sortWithinPartitions``, one sampled range exchange,
no single-partition sort.  These queries are the MEASUREMENT half of
that writer: run them before paying for the rewrite, and after it to
audit the zone maps it produced.

Reference parity: the reference repo has no layout optimization at all
(its BigQuery tables rely on native date partitioning —
dags/daily_search_history.py); this module is part of the 100-TB
capability layer (SURVEY.md §4).
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_cloud_batch_processing_spark.plans.registry import query, table
from etl_cloud_batch_processing_spark.session import scratch_dir

#: Bits per dimension in the Morton interleave.  8 bits cover both
#: fixture dimensions (user_id is masked to < 256, day index < 31);
#: production uses 16-21 bits per dimension, same expression shape.
Z_BITS = 8

#: Simulated file count for BOTH layouts: the linear baseline is the
#: ~30 day partitions an ingest-time layout produces, so the z layout
#: is cut into the same number of equal-count files.
N_FILES = 30

#: Reference predicate: 4 users × 8 days — selective in BOTH
#: dimensions, the case a time-only layout cannot prune.  In range at
#: every fixture SF (sf0.001 has users 0-14 only).
X_LO, X_HI = 8, 11
Y_LO, Y_HI = 8, 15

_EPOCH = "2024-01-01"


def _morton(x: Column, y: Column) -> Column:
    """Bit-interleave two Z_BITS-wide non-negative ints into a Morton
    key: bit i of x lands at position 2i, bit i of y at 2i+1.  Plain
    shift/mask arithmetic — whole-stage-codegen on the JVM, and the
    identical expression in the DuckDB twin."""
    return reduce(add, [
        F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        for i in range(Z_BITS)
    ] + [
        F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        for i in range(Z_BITS)
    ])


_D_MORTON = " + ".join(
    [f"(((x >> {i}) & 1) << {2 * i})" for i in range(Z_BITS)]
    + [f"(((y >> {i}) & 1) << {2 * i + 1})" for i in range(Z_BITS)])

_D_EV = f"""
    SELECT event_id,
           user_id & {(1 << Z_BITS) - 1} AS x,
           date_diff('day', DATE '{_EPOCH}', CAST(ts AS DATE)) AS y
    FROM events
"""

_D_ZKEYED = f"""
    SELECT event_id, x, y, {_D_MORTON} AS z FROM ({_D_EV})
"""

#: Both engines cut z-files identically: ntile over the total
#: (z, event_id) order — event_id is unique, so the cut is
#: deterministic.
_D_ZFILED = f"""
    SELECT *, CAST(ntile({N_FILES})
                   OVER (ORDER BY z, event_id) AS BIGINT) AS file_id
    FROM ({_D_ZKEYED})
"""


def _ev_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_id, x, y, z): the two clustering dimensions and their
    Morton key for every event."""
    ev = (table(spark, sf_dir, "events")
          .select("event_id",
                  F.col("user_id").bitwiseAND(
                      F.lit((1 << Z_BITS) - 1)).alias("x"),
                  F.datediff(F.to_date("ts"), F.lit(_EPOCH).cast("date"))
                  .cast("bigint").alias("y")))
    return ev.withColumn("z", _morton(F.col("x"), F.col("y")))


def _z_filed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The z layout: every event tagged with its equal-count z-file."""
    w = Window.orderBy("z", "event_id")
    return (_ev_xyz(spark, sf_dir)
            .withColumn("file_id", F.ntile(N_FILES).over(w)
                        .cast("bigint")))


@query(
    "zorder_zone_map_extents",
    oracle=f"""
    WITH zf AS ({_D_ZFILED})
    SELECT file_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(x) AS x_min, MAX(x) AS x_max,
           MIN(y) AS y_min, MAX(y) AS y_max,
           (MAX(x) - MIN(x) + 1) * (MAX(y) - MIN(y) + 1) AS bbox_area
    FROM zf GROUP BY 1
    """,
)
def zorder_zone_map_extents(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """The zone maps a z-ordered write would produce: per file (an
    equal-count cut of the Morton-sorted corpus), the row count, the
    min/max of BOTH clustering dimensions, and the bounding-box area.
    The space-filling-curve property under audit: every file's bbox is
    a small tile of the (user, day) plane, while a time-sorted layout's
    every file spans ALL users (its bbox width is the full user range —
    asserted file-by-file in tests/test_layout.py).  These min/max
    pairs are exactly the parquet column statistics / Delta zone maps
    a planner prunes with.

    At 100 TB this is the audit you run AFTER an OPTIMIZE ZORDER to
    confirm the rewrite actually tightened the zone maps — one scan +
    one partial-aggregated groupBy once the layout exists (the ntile
    here simulates the layout; see the module docstring for the real
    range-partitioned write)."""
    return (_z_filed(spark, sf_dir)
            .groupBy("file_id")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.min("x").alias("x_min"), F.max("x").alias("x_max"),
                 F.min("y").alias("y_min"), F.max("y").alias("y_max"))
            .withColumn("bbox_area",
                        (F.col("x_max") - F.col("x_min") + 1)
                        * (F.col("y_max") - F.col("y_min") + 1)))


_PRED = (f"x BETWEEN {X_LO} AND {X_HI} AND y BETWEEN {Y_LO} AND {Y_HI}")

_D_LAYOUT_REPORT = f"""
    WITH zf AS ({_D_ZFILED}),
    matched AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS rows_matched
        FROM zf WHERE {_PRED}),
    files AS (
        SELECT 'zorder' AS layout, file_id,
               COUNT(*) AS n_rows,
               MIN(x) AS x_min, MAX(x) AS x_max,
               MIN(y) AS y_min, MAX(y) AS y_max
        FROM zf GROUP BY 1, 2
        UNION ALL
        SELECT 'linear_by_day' AS layout, y AS file_id,
               COUNT(*) AS n_rows,
               MIN(x) AS x_min, MAX(x) AS x_max,
               MIN(y) AS y_min, MAX(y) AS y_max
        FROM zf GROUP BY 1, 2),
    verdicts AS (
        SELECT layout, n_rows,
               (x_min <= {X_HI} AND x_max >= {X_LO}
                AND y_min <= {Y_HI} AND y_max >= {Y_LO}) AS scanned
        FROM files)
    SELECT v.layout,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(COUNT(*) FILTER (scanned) AS BIGINT) AS n_files_scanned,
           ROUND(COUNT(*) FILTER (scanned) * 1.0 / COUNT(*), 6) + 0.0
               AS scan_fraction,
           CAST(SUM(n_rows) FILTER (scanned) AS BIGINT) AS rows_scanned,
           MAX(m.rows_matched) AS rows_matched,
           ROUND(SUM(n_rows) FILTER (scanned) * 1.0
                 / MAX(m.rows_matched), 6) + 0.0 AS read_amplification
    FROM verdicts v, matched m
    GROUP BY v.layout
"""


@query("zorder_vs_linear_pruning", oracle=_D_LAYOUT_REPORT)
def zorder_vs_linear_pruning(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """File-skipping effectiveness, z-order vs time layout: simulate
    both layouts' zone maps at the SAME file count, apply the
    planner's pruning rule (scan a file iff its [min,max] box overlaps
    the predicate box) for a reference predicate selective in both
    dimensions (user ∈ [8, 11] × day ∈ [8, 15]), and report per
    layout: file counts, scan fraction, rows actually read, and read
    amplification (rows read / rows matched).  The linear baseline
    reads every predicate-day file end-to-end (it can never prune on
    user — measured ~27k of 100k rows at sf0.1); the z layout skips
    most files outright (~6.7k rows, 2 of 30 files) — the measured form of the
    OPTIMIZE-ZORDER pitch, and the go/no-go number for paying the
    layout rewrite.

    Both zone-map simulations are one partial-aggregated groupBy; the
    one-row matched-count frame joins back as a broadcast (the chi2
    one-row pattern).  ``rows_matched`` is layout-invariant by
    construction — the report proves the two layouts serve identical
    query results while reading very different row counts."""
    zf = _z_filed(spark, sf_dir).persist()
    pred = (F.col("x").between(X_LO, X_HI)
            & F.col("y").between(Y_LO, Y_HI))
    matched = F.broadcast(
        zf.filter(pred).agg(F.count(F.lit(1)).alias("rows_matched")))

    def zone(fid: Column, name: str) -> DataFrame:
        return (zf.groupBy(fid.alias("file_id"))
                .agg(F.count(F.lit(1)).alias("n_rows"),
                     F.min("x").alias("x_min"), F.max("x").alias("x_max"),
                     F.min("y").alias("y_min"), F.max("y").alias("y_max"))
                .withColumn("layout", F.lit(name)))

    files = (zone(F.col("file_id"), "zorder")
             .unionByName(zone(F.col("y"), "linear_by_day")))
    scanned = ((F.col("x_min") <= X_HI) & (F.col("x_max") >= X_LO)
               & (F.col("y_min") <= Y_HI) & (F.col("y_max") >= Y_LO))
    return (files.withColumn("scanned", scanned)
            .groupBy("layout")
            .agg(F.count(F.lit(1)).alias("n_files"),
                 F.sum(F.when(F.col("scanned"), 1).otherwise(0))
                 .cast("bigint").alias("n_files_scanned"),
                 F.sum(F.when(F.col("scanned"), F.col("n_rows"))
                       .otherwise(0)).cast("bigint").alias("rows_scanned"))
            .crossJoin(matched)
            .select("layout", "n_files", "n_files_scanned",
                    (F.round(F.col("n_files_scanned") * 1.0
                             / F.col("n_files"), 6) + F.lit(0.0))
                    .alias("scan_fraction"),
                    "rows_scanned", "rows_matched",
                    (F.round(F.col("rows_scanned") * 1.0
                             / F.col("rows_matched"), 6) + F.lit(0.0))
                    .alias("read_amplification")))


#: Real-rewrite parameters for the manifested OPTIMIZE ZORDER query:
#: the seed table is repartition(8) (exactly 8 files on every master),
#: the rewrite cuts 32 range partitions (~300+ rows each at sf0.01, so
#: none is empty and the file count is deterministic).
ZM_FILES_BEFORE = 8
ZM_FILES_AFTER = 32


@query(
    "zorder_manifested_optimize",
    oracle=f"""
    SELECT CAST({ZM_FILES_BEFORE} AS BIGINT) AS files_before,
           TRUE AS files_after_ok,
           CAST(1 AS BIGINT) AS v_before,
           CAST(2 AS BIGINT) AS v_after,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS v1_snapshot_rows,
           CAST(SUM(CASE WHEN (user_id & {(1 << Z_BITS) - 1})
                              BETWEEN {X_LO} AND {X_HI}
                         AND date_diff('day', DATE '{_EPOCH}',
                                       CAST(ts AS DATE))
                              BETWEEN {Y_LO} AND {Y_HI}
                    THEN 1 ELSE 0 END) AS BIGINT) AS rows_pred,
           CAST(SUM(CASE WHEN (user_id & {(1 << Z_BITS) - 1})
                              BETWEEN {X_LO} AND {X_HI}
                         AND date_diff('day', DATE '{_EPOCH}',
                                       CAST(ts AS DATE))
                              BETWEEN {Y_LO} AND {Y_HI}
                    THEN 1 ELSE 0 END) AS BIGINT) AS rows_pred_after,
           TRUE AS zone_maps_prune
    FROM events
    """,
)
def zorder_manifested_optimize(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER as a manifest transaction, END-TO-END on real
    files — the executed counterpart of the two simulation queries
    above: publish an 8-file events projection as a manifest-committed
    table (v1), run ``sources.manifest.optimize_zorder_manifested``
    (Morton rewrite of the live set + ONE atomic version flip to v2),
    and report the invariants the transaction must preserve — exact
    row counts before/after, the reference predicate's row count
    before/after (a lost or doubled row anywhere reds the hash), the
    output-file-count INVARIANT ``1 ≤ files_after ≤ requested`` (a
    pinned count would red on the empty range partitions a smaller
    fixture or a skewed Morton distribution legitimately produces —
    round-10 advice), the version pair, the v1 TIME-TRAVEL row count
    (snapshot isolation
    survives the rewrite), and an EXECUTED pruning audit: per real
    output file, min/max zone maps of both clustering dimensions via
    ``input_file_name``, with ``zone_maps_prune`` pinned TRUE in the
    oracle — if the rewrite ever stopped producing files that the
    reference predicate can skip, the driver reds the row.

    At 100 TB this is exactly Delta's ``OPTIMIZE ZORDER BY``: the
    rewrite is a range exchange + in-partition sort (one pass over
    the live set, embarrassingly parallel), old snapshots stay
    readable until vacuum, and the commit is one rename regardless of
    table size."""
    from etl_cloud_batch_processing_spark.sources import manifest as M

    ev = (table(spark, sf_dir, "events")
          .select("event_id",
                  F.col("user_id").bitwiseAND(
                      F.lit((1 << Z_BITS) - 1)).alias("x"),
                  F.datediff(F.to_date("ts"), F.lit(_EPOCH).cast("date"))
                  .cast("bigint").alias("y")))
    root = scratch_dir("spark_graft_zorder_manifest_")
    base = f"{root}/t"
    ev.repartition(ZM_FILES_BEFORE).write.mode("overwrite").parquet(base)
    v1 = M.init_manifest(spark, base)
    pred = (F.col("x").between(X_LO, X_HI)
            & F.col("y").between(Y_LO, Y_HI))
    before = M.read_manifest(spark, base).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(pred, 1).otherwise(0)).cast("bigint")
        .alias("rows_pred"))

    stats = M.optimize_zorder_manifested(spark, base, ["x", "y"],
                                         ZM_FILES_AFTER, bits=Z_BITS)

    after = M.read_manifest(spark, base).agg(
        F.count(F.lit(1)).alias("n_rows_after"),
        F.sum(F.when(pred, 1).otherwise(0)).cast("bigint")
        .alias("rows_pred_after"))
    snap = (M.read_manifest(spark, base, version=v1)
            .agg(F.count(F.lit(1)).alias("v1_snapshot_rows")))
    # executed pruning audit over the REAL post-rewrite zone maps
    zm = (M.read_manifest(spark, base)
          .withColumn("f", F.input_file_name())
          .groupBy("f").agg(F.min("x").alias("min_x"),
                            F.max("x").alias("max_x"),
                            F.min("y").alias("min_y"),
                            F.max("y").alias("max_y")))
    overlaps = ((F.col("max_x") >= X_LO) & (F.col("min_x") <= X_HI)
                & (F.col("max_y") >= Y_LO) & (F.col("min_y") <= Y_HI))
    pruned = zm.agg(
        F.sum(F.when(~overlaps, 1).otherwise(0)).cast("bigint")
        .alias("n_pruned"))
    return (before.crossJoin(after).crossJoin(snap).crossJoin(pruned)
            .select(F.lit(stats["files_before"]).cast("bigint")
                    .alias("files_before"),
                    # invariant, not a pinned count: repartitionByRange
                    # emits ≤ num_files files (empty ranges write none
                    # at small SF / skewed Morton keys), so the oracle
                    # gates 2 ≤ files_after ≤ requested instead of
                    # redding on layout-irrelevant emptiness — lower
                    # bound 2 (round-11 advice) so a degenerate rewrite
                    # collapsing everything into ONE file (destroying
                    # the multi-file zone-map layout this query is
                    # about) reds the row directly, not only via the
                    # indirect zone_maps_prune flag
                    F.lit(bool(2 <= stats["files_after"]
                               <= ZM_FILES_AFTER)).alias("files_after_ok"),
                    F.lit(v1).cast("bigint").alias("v_before"),
                    F.lit(stats["version"]).cast("bigint")
                    .alias("v_after"),
                    F.col("n_rows"),
                    F.col("v1_snapshot_rows"),
                    "rows_pred",
                    F.when(F.col("n_rows_after") == F.col("n_rows"),
                           F.col("rows_pred_after"))
                    .otherwise(F.lit(-1)).alias("rows_pred_after"),
                    (F.col("n_pruned") > 0).alias("zone_maps_prune")))
