"""Case A — daily search-history pipeline (SURVEY.md §3.1).

Re-expresses the reference's ``dailiy_search_history`` DAG
(reference: dags/daily_search_history.py) as three composable stages per
run date ``ds``:

1. **load** (S1, :37-53): one date-named CSV, explicit all-string 4-col
   schema, header skipped, full overwrite of the staging table
   ``daily_search_keyword_history`` (WRITE_TRUNCATE → L6).
2. **correct types** (X1, :55-70): SAFE_CAST user_id / search_result_count
   to BIGINT (NULL on junk — ANSI off), append to the accumulating
   ``daily_search_results`` table (WRITE_APPEND → L7, implemented as a
   ``dt=ds`` partition overwrite so re-runs never duplicate).
3. **most-searched keyword** (A1/O1/O2/F3, :72-91): filter the results to
   ``ds`` by the 10-char string prefix of ``created_at``, take the top-1
   row by ``search_result_count`` with a deterministic tiebreak (the
   reference's bare LIMIT 1 ties are nondeterministic, SURVEY.md §2.6),
   append to ``most_search_keyword_history``.

At scale: stage 3 reads only the ``dt=ds`` partition of the results table
(partition pruning), so each scheduled run touches O(one day) of data no
matter how large the history grows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_cloud_batch_processing_spark.sources.readers import read_csv, read_parquet
from etl_cloud_batch_processing_spark.sources.writers import (
    write_append_partition,
    write_overwrite,
)
from pyspark.sql.types import StringType, StructField, StructType

# Reference schema_fields (dags/daily_search_history.py:44-49): everything
# STRING; "load permissively, cast safely".
SEARCH_HISTORY_SCHEMA = StructType([
    StructField("user_id", StringType(), nullable=False),
    StructField("search_keyword", StringType(), nullable=False),
    StructField("search_result_count", StringType(), nullable=False),
    StructField("created_at", StringType(), nullable=False),
])

KEYWORD_HISTORY = "daily_search_keyword_history"
SEARCH_RESULTS = "daily_search_results"
MOST_SEARCHED = "most_search_keyword_history"


def csv_object_name(ds: str) -> str:
    """``keyword_search/search_{ds_nodash}.csv`` (X11,
    dags/daily_search_history.py:40)."""
    return f"keyword_search/search_{ds.replace('-', '')}.csv"


def load_daily_csv(spark: SparkSession, source_root: str, ds: str) -> DataFrame:
    """Stage-1 read: the one CSV named for ``ds``  — the reference's manual
    partition pruning by object path (SURVEY.md §4.1)."""
    return read_csv(spark, f"{source_root}/{csv_object_name(ds)}",
                    SEARCH_HISTORY_SCHEMA, header=True)


def correct_types(raw: DataFrame) -> DataFrame:
    """Stage-2 transform (dags/daily_search_history.py:57-65): SAFE_CAST the
    numeric text columns; junk values become NULL instead of failing."""
    return raw.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "search_keyword",
        F.col("search_result_count").cast("bigint")
         .alias("search_result_count"),
        "created_at",
    )


def most_searched(results: DataFrame, ds: str) -> DataFrame:
    """Stage-3 transform (dags/daily_search_history.py:74-86): day-filter on
    the string prefix of ``created_at``, global top-1 by result count.

    Sort+limit fuses to TakeOrderedAndProject — no full sort even at
    100 TB (only per-partition top-1 then a driver-side merge of K=1).
    """
    created_date = (F.substring("created_at", 1, 10).cast("date")
                    .alias("created_date"))
    return (results
            .select("user_id", "search_keyword", "search_result_count",
                    created_date)
            .filter(F.col("created_date") == F.lit(ds).cast("date"))
            .orderBy(F.desc("search_result_count"),
                     F.asc("search_keyword"), F.asc("user_id"))
            .limit(1))


def run(spark: SparkSession, ds: str, source_root: str,
        warehouse: str) -> dict[str, int]:
    """One DAG run: load → correct → top-1, with the reference's
    truncate/append dispositions made idempotent (L6/L7).

    Returns run metrics captured via ``df.observe`` (the §2.9
    monitoring probe made quantitative): row count and SAFE_CAST
    failure counts for the typed append.  ``Observation`` metrics
    piggyback on the write job itself — accumulator-style, zero extra
    scan — which is the only acceptable way to count a 100 TB write
    (a separate ``count()`` would double the read).  The reference's
    monitoring DAG (dags/airflow_monitoring.py:21-26) only proves
    liveness; this reports data quality per run."""
    from pyspark.sql import Observation

    raw = load_daily_csv(spark, source_root, ds)
    write_overwrite(raw, f"{warehouse}/{KEYWORD_HISTORY}")

    # Read-backs use the writer's schema, so they launch no footer job.
    staged = read_parquet(spark, f"{warehouse}/{KEYWORD_HISTORY}",
                          raw.schema)
    obs = Observation(f"case_a_typed_{ds}")
    typed = correct_types(staged).observe(
        obs,
        F.count(F.lit(1)).alias("rows_written"),
        F.sum(F.col("user_id").isNull().cast("int"))
         .alias("user_id_cast_failures"),
        F.sum(F.col("search_result_count").isNull().cast("int"))
         .alias("count_cast_failures"))
    write_append_partition(typed, f"{warehouse}/{SEARCH_RESULTS}", ds)
    # sum() over zero rows observes NULL — an empty daily file must
    # yield zeroed metrics, not a TypeError (round-3 ADVICE).
    metrics = {k: int(v) if v is not None else 0 for k, v in obs.get.items()}

    if metrics["rows_written"] == 0:
        # A zero-row day writes no dt= partition (dynamic overwrite has
        # nothing to replace), so stage 3 has no input: skip its jobs.
        return metrics

    results = read_parquet(spark, f"{warehouse}/{SEARCH_RESULTS}",
                           typed.schema)
    # Partition-prune to the run's own slice before the day filter; the
    # reference scans the whole accumulated table every night instead.
    results = results.filter(F.col("dt") == ds).drop("dt")
    write_append_partition(most_searched(results, ds),
                           f"{warehouse}/{MOST_SEARCHED}", ds)
    return metrics
