"""LLM corpus-curation pipeline: the north-star operators composed into
a dated, idempotent batch run — the integration proof that the engine's
pieces snap together the way Case A/B's stages do (SURVEY.md §2.9
semantics, §2.12 operators).

Stages per run date:

1. **gate** — single-pass data-quality checks on the incoming batch
   (operators/expectations.gate); a failing check raises ``AuditError``
   BEFORE any write, so a bad upstream drop never pollutes the corpus
   table.
2. **curate** — length/language/repetition filters + exact dedup in one
   scan + one exchange (the curation_pipeline shape).
3. **mix** — deterministic per-source mixture sampling (md5 buckets),
   so the emitted corpus honors the configured domain weights.
4. **write** — dt=<ds> partition overwrite with observe()-collected
   row/null metrics (zero extra scans).  Re-running a date replaces
   its partition: idempotent, backfill-parallel.

Each stage is the already-oracle-checked operator; this module only
wires them, mirroring how the reference chains its DAG tasks
(daily_search_history.py:93) with function composition instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_cloud_batch_processing_spark.functions import text as T
from etl_cloud_batch_processing_spark.operators import expectations as X
from etl_cloud_batch_processing_spark.sources.readers import read_parquet

CORPUS_TABLE = "curated_corpus"

MIX_BP = {"web": 8000, "books": 5000, "wiki": 10000}
DEFAULT_BP = 2500


def gate(docs: DataFrame) -> None:
    X.gate(docs, "documents", [
        X.not_null("doc_id"),
        X.unique("doc_id"),
        X.not_null("text"),
        X.min_rows(1),
    ])


def curate(docs: DataFrame) -> DataFrame:
    toks = T.tokens("text")
    base = (docs.filter(F.size(toks).between(5, 1000))
            .select("doc_id", "lang", "source",
                    T.normalize("text").alias("norm"),
                    F.size(toks).alias("n_tokens")))
    w = Window.partitionBy("norm").orderBy(F.asc("doc_id"))
    return (base.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn", "norm"))


def mix(docs: DataFrame) -> DataFrame:
    keep_bp = F.lit(DEFAULT_BP)
    for src, bp in MIX_BP.items():
        keep_bp = F.when(F.col("source") == src, bp).otherwise(keep_bp)
    bucket = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                                 1, 15), 16, 10).cast("bigint") % 10000)
    return docs.filter(bucket < keep_bp)


def run(spark: SparkSession, ds: str, source_docs_path: str,
        warehouse: str) -> dict:
    """One dated corpus build; returns the write metrics dict."""
    docs = read_parquet(spark, source_docs_path)
    gate(docs)
    out = (mix(curate(docs))
           .withColumn("dt", F.lit(ds)))
    from pyspark.sql import Observation

    obs = Observation()
    (out.observe(obs, F.count(F.lit(1)).alias("rows"),
                 F.sum(F.col("lang").isNull().cast("long"))
                 .alias("nulls_lang"))
     .write.mode("overwrite").partitionBy("dt")
     .parquet(f"{warehouse}/{CORPUS_TABLE}"))
    return obs.get
