"""Case B — transactions pipeline (SURVEY.md §3.2).

Re-expresses the reference's ``transactions_table_dag``
(reference: dags/transaction_data.py) per run date ``ds``:

1. **extract** (S2/F1/F2, :19-22): ``event_name = 'purchase_item'`` rows in
   the inclusive 3-day window ``[ds, ds+2]`` from the source events table.
   The reference pulls this into one process's pandas memory
   (``to_dataframe``) — the scalability cliff called out in SURVEY.md
   §3.2; here the extract stays a distributed, pushed-down scan.
2. **unnest** (F4/X6/X7, :23-48): the per-row pandas loop that branches on
   ``len(event_params)`` and picks positional params 0-7 becomes one
   columnar ``when(size(...) == 21, element_at(...))`` projection —
   whole-stage codegen, no Python in the loop, and *total*: the
   reference's ``except ValueError: pass`` leaves silent ``''`` values
   (defect, SURVEY.md §2.9); short arrays here yield typed NULLs.
   Result overwrites the ``transactions_raw`` staging table (L6).
3. **finalize** (P2/P3/X8, :55-66): project each param struct's typed leaf
   (``.value.int_value`` / ``.string_value`` / ``.float_value``),
   re-apply the window filter, stamp ``ext_created_at = ds``, append to
   ``transactions_table`` (L7 → idempotent ``dt=ds`` partition overwrite).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from etl_cloud_batch_processing_spark.sources.readers import read_parquet
from etl_cloud_batch_processing_spark.sources.writers import (
    write_append_partition,
    write_overwrite,
)

RAW_TABLE = "transactions_raw"
FINAL_TABLE = "transactions_table"

# BigQuery event_params convention: each param is a variant struct
# {value: {int_value, string_value, float_value}} (FIXTURES.md §1.2;
# reference: dags/transaction_data.py:55-63).
PARAM_VALUE = StructType([
    StructField("int_value", LongType()),
    StructField("string_value", StringType()),
    StructField("float_value", DoubleType()),
])
PARAM = StructType([StructField("value", PARAM_VALUE)])

UNIFIED_EVENTS_SCHEMA = StructType([
    StructField("event_name", StringType()),
    StructField("event_datetime", TimestampType()),
    StructField("event_params", ArrayType(PARAM)),
    StructField("user_id", StringType()),
    StructField("state", StringType()),
    StructField("city", StringType()),
    StructField("created_at", StringType()),
])

# Positional meaning of event_params in the full (len 21) shape, params
# 0-7 (reference: dags/transaction_data.py:29-36), and the sparse shape
# (param 0 = transaction_number, param 1 = product_id, :40-45).
_FULL_PARAMS = (
    "transaction_id", "transaction_detail_id", "transaction_number",
    "purchase_quantity", "purchase_amount", "purchase_payment_method",
    "purchase_source", "product_id",
)
_SPARSE_PARAMS = {"transaction_number": 0, "product_id": 1}

FULL_SHAPE_LEN = 21


def _window_filter(df: DataFrame, ds: str,
                   ts_col: str = "event_datetime") -> DataFrame:
    """Inclusive 3-day window (F2/L9): ``DATE(ts) BETWEEN ds AND ds+2``."""
    day = F.to_date(ts_col)
    lo = F.lit(ds).cast("date")
    return df.filter(day.between(lo, F.date_add(lo, 2)))


def extract(events: DataFrame, ds: str) -> DataFrame:
    """Stage-1 extract (dags/transaction_data.py:20-21).  Both predicates
    reach the parquet scan; at 100 TB this reads one event type × 3 days,
    not the table."""
    return _window_filter(
        events.filter(F.col("event_name") == "purchase_item"), ds)


def unnest_params(extracted: DataFrame) -> DataFrame:
    """Stage-2 columnar unnest replacing the pandas loop
    (dags/transaction_data.py:23-48).

    Keeps each picked param as its *struct* (exactly what the reference
    loads into the staging table — the typed leaf is projected in
    finalize), branching on array length: the full 21-param shape maps
    params 0-7; any other shape maps only transaction_number/product_id
    and leaves the rest NULL.  ``element_at`` past the array end is NULL
    (ANSI off), so the sparse branch is total where the reference's
    uncaught IndexError / swallowed ValueError was not.
    """
    params = F.col("event_params")
    n = F.size(params)
    is_full = n == FULL_SHAPE_LEN

    def pick(name: str, full_idx: int) -> Column:
        # element_at is 1-indexed; reference indexes are 0-based.
        branch = F.when(is_full, F.element_at(params, full_idx + 1))
        if name in _SPARSE_PARAMS:
            branch = branch.otherwise(
                F.element_at(params, _SPARSE_PARAMS[name] + 1))
        return branch.alias(name)

    picked = [pick(name, i) for i, name in enumerate(_FULL_PARAMS)]
    passthrough = [c for c in extracted.columns if c != "event_params"]
    return extracted.select(*passthrough, *picked)


def finalize(staged: DataFrame, ds: str) -> DataFrame:
    """Stage-3 projection (dags/transaction_data.py:55-66): typed leaves
    out of each param struct, window re-filter, run-date stamp."""
    return _window_filter(staged, ds).select(
        F.col("transaction_id.value.int_value").alias("transaction_id"),
        F.col("transaction_detail_id.value.int_value")
         .alias("transaction_detail_id"),
        F.col("transaction_number.value.string_value")
         .alias("transaction_number"),
        F.col("event_datetime").alias("transaction_datetime"),
        F.col("purchase_quantity.value.int_value")
         .alias("purchase_quantity"),
        F.col("purchase_amount.value.float_value").alias("purchase_amount"),
        F.col("purchase_payment_method.value.string_value")
         .alias("purchase_payment_method"),
        F.col("purchase_source.value.string_value").alias("purchase_source"),
        F.col("product_id.value.int_value").alias("product_id"),
        "user_id", "state", "city", "created_at",
        F.lit(ds).alias("ext_created_at"),
    )


def run(spark: SparkSession, ds: str, source_events_path: str,
        warehouse: str) -> None:
    """One DAG run: extract → unnest → stage (truncate) → finalize →
    append, per-``dt`` idempotent (L6/L7)."""
    events = read_parquet(spark, source_events_path)
    staged = unnest_params(extract(events, ds))
    write_overwrite(staged, f"{warehouse}/{RAW_TABLE}")

    # the writer's schema: no footer job (the source events keep
    # inference, their on-disk types vary by producer)
    raw = read_parquet(spark, f"{warehouse}/{RAW_TABLE}", staged.schema)
    write_append_partition(finalize(raw, ds),
                           f"{warehouse}/{FINAL_TABLE}", ds)
