"""Source-format round-trip fidelity: ORC, JSON-lines, and CSV.

The reference pipeline ingests CSV from GCS and hands everything else
to BigQuery-managed storage (reference dags/daily_search_history.py:40-49);
this engine's lake runs on open formats, so the sink→source loop itself
is a contract worth value-checking: a timestamp format that truncates
microseconds, a double that loses round-trip precision, or a NULL that
a format renders ambiguously would silently corrupt every downstream
query.  The query below writes the same projection of ``events``
through each format (sources/writers.py:write_overwrite), reads it back
through the typed readers (sources/readers.py), and aggregates; the
oracle computes the identical aggregate from the original parquet, so
the three result rows must be indistinguishable from never having left
parquet at all.

Format notes (the actual fidelity knobs, pinned here and in tests):

* ORC — typed columns end-to-end; nothing to configure.
* JSON-lines / CSV — text formats: timestamps need an explicit
  ``.SSSSSS`` pattern on BOTH sides (Spark's default renders
  milliseconds and would silently truncate the fixtures' microsecond
  components — and because the loaded column is TIMESTAMP_NTZ, the
  knob is ``timestampNTZFormat``; plain ``timestampFormat`` is
  silently ignored for NTZ columns, a trap this query's hash check
  caught live); doubles are safe because Spark writes shortest
  round-trip decimal renderings.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_cloud_batch_processing_spark.plans.registry import query, table
from etl_cloud_batch_processing_spark.session import scratch_dir
from etl_cloud_batch_processing_spark.sources import readers as R
from etl_cloud_batch_processing_spark.sources import writers as W

_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"

_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampNTZType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
])

_AGG_SQL = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
           CAST(MIN(epoch_us(ts)) AS BIGINT) AS min_ts_micros,
           CAST(MAX(epoch_us(ts)) AS BIGINT) AS max_ts_micros
    FROM events
"""


def _roundtrip(spark: SparkSession, df: DataFrame, fmt: str,
               root: str) -> DataFrame:
    path = os.path.join(root, fmt)
    # the fixture loader yields TIMESTAMP_NTZ (naive parquet nanos), so
    # the text formats take timestampNTZFormat, not timestampFormat
    opts = ({"timestampNTZFormat": _TS_FMT} if fmt == "json"
            else {"timestampNTZFormat": _TS_FMT, "header": "true"}
            if fmt == "csv" else {})
    W.write_overwrite(df.coalesce(4), path, fmt=fmt, **opts)
    if fmt == "orc":
        return R.read_orc(spark, path)
    if fmt == "json":
        return R.read_json(spark, path, _SCHEMA, timestampNTZFormat=_TS_FMT)
    return R.read_csv(spark, path, _SCHEMA, header=True,
                      timestampNTZFormat=_TS_FMT)


@query(
    "format_roundtrip_fidelity",
    oracle="WITH agg AS (" + _AGG_SQL + ")\n"
    + "\nUNION ALL\n".join(
        f"SELECT '{fmt}' AS format, * FROM agg" for fmt in
        ["csv", "json", "orc"])
    + "\nORDER BY format",
)
def format_roundtrip_fidelity(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Write events through ORC, JSON-lines, and CSV sinks, read each
    back through the typed source layer, and aggregate — one row per
    format carrying row/user/day counts, an exact integer-cents sum,
    and min/max epoch-microsecond timestamps.  The oracle computes the
    same aggregate from the ORIGINAL parquet, so all three rows must
    equal the parquet truth: any precision loss in the text formats'
    timestamp or double rendering hash-mismatches.

    Scale shape: format conversion is embarrassingly parallel (each
    task rewrites its own split); the aggregate is one map-side-combined
    pass per format.  The scan behind each read-back is the same
    DataSource-v2 machinery as parquet — ORC keeps pushdown and
    vectorization, the text formats pay full-scan cost, which is the
    measured argument for converting text lakes to columnar on ingest."""
    base = table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value")
    root = scratch_dir("spark_graft_formats_")
    frames = []
    for fmt in ["csv", "json", "orc"]:
        back = _roundtrip(spark, base, fmt, root)
        frames.append(back.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("user_id").alias("n_users"),
            F.countDistinct(F.col("ts").cast("date")).alias("n_days"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .alias("total_cents"),
            # ORC hands the column back as TIMESTAMP_NTZ; the session
            # timezone is UTC (apply_engine_conf), so the cast is exact.
            F.min(F.expr("unix_micros(cast(ts as timestamp))"))
            .alias("min_ts_micros"),
            F.max(F.expr("unix_micros(cast(ts as timestamp))"))
            .alias("max_ts_micros"))
            .select(F.lit(fmt).alias("format"), "*"))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("format")
