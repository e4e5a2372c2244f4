"""The workloads: pinned item lists, input set-up, one pass, checks.

A workload exposes

* ``prepare(work, seed)`` — generate its inputs and their reference
  results (not part of set-up time);
* ``warm(spark)`` — during set-up, run a small job of the workload's kind
  on engine code paths only, so that the first item does not pay the
  process's one-off JIT and class-loading cost;
* ``streams`` — whether the items are streaming drains;
* ``run_pass(spark, timed, check)`` — one closed-loop pass: every item is
  handed to ``timed(name, fn)``, which runs ``fn``, times it and returns
  its result; with ``check`` the outputs are compared with their
  references outside the timed calls.  Returns ``[(item, reason)]`` for
  every failed check;
* ``input_rows`` / ``input_bytes`` — the input consumed by one pass
  (``input_rows`` is ``None`` where it is not defined).

Items call the package's public entry points only: the Case A / Case B /
``llm_corpus`` ``run`` functions through ``pipelines.runner.backfill``,
and ``plans.REGISTRY[name].builder`` followed by a noop write.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from collections.abc import Callable

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import checks
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "fixture", "sf0.1")

# Registered batch queries, pinned by name: for each plan or operator
# module listed, its cheapest query in the repository's full sf0.1 bench.
# Planning and the fixed per-job and per-task cost dominate them.
QUERY_MIX = (
    "top_orders_limit",               # plans.analytics
    "filter_eq_purchase",             # plans.core
    "embedding_norm_outliers",        # plans.corpus
    "benford_first_digit",            # plans.drift
    "ivm_incremental_daily_revenue",  # plans.evolution
    "hash_sample_per_lang",           # plans.filtering
    "zorder_zone_map_extents",        # plans.layout
    "train_val_split",                # plans.llm
    "top_values_profile",             # plans.profiling
    "cms_token_frequency_report",     # plans.sketches
    "order_window_daily_load",        # plans.temporal
    "multimodal_manifest",            # operators.multimodal
    "ann_bucket_stats",               # operators.similarity
)

# availableNow drains, pinned by name: a stream-static join, a watermark
# dedup state store (with its no-data batch), and a stream into a manifest
# table with its per-batch manifest commits.
STREAM_DRAIN = (
    "streaming_enriched_segments",
    "streaming_dedup_within_watermark",
    "streaming_manifest_ingest",
)

Timed = Callable[[str, Callable[[], dict]], dict]


def _plans():
    from etl_cloud_batch_processing_spark import plans
    return plans


def _module(spec) -> str:
    """Plan module that defines a registered query's builder."""
    fn = next(c.cell_contents for c in spec.builder.__closure__
              if callable(c.cell_contents))
    return fn.__module__.rsplit(".", 1)[-1]


class QueryWorkload:
    """Registered queries over the sf0.1 fixture, one item each, forced
    with a noop write.  The seed only orders the items."""

    def __init__(self, names: tuple[str, ...], streams: bool):
        self.names = names
        self.streams = streams
        self.sf_dir = FIXTURE
        self.input_bytes = sum(os.path.getsize(f"{FIXTURE}/{t}") for t in os.listdir(FIXTURE))
        self.input_rows = None  # streaming input rows are read from the listener

    def prepare(self, work: str, seed: int) -> None:
        self.work = work
        self.order = list(self.names)
        random.Random(seed).shuffle(self.order)
        if self.streams:  # the set-up's warm-up drain: a small file stream source
            import pyarrow.parquet as pq

            os.makedirs(f"{work}/warm/events")
            pq.write_table(pq.read_table(f"{self.sf_dir}/events.parquet").slice(0, 2000),
                           f"{work}/warm/events/part-0.parquet")

    def warm(self, spark: SparkSession) -> None:
        if not self.streams:
            for t in os.listdir(self.sf_dir):
                spark.read.parquet(f"{self.sf_dir}/{t}").count()
            return
        events = f"{self.work}/warm/events"
        out = f"{self.work}/warm/stream"
        shutil.rmtree(out, ignore_errors=True)
        schema = spark.read.parquet(events).schema
        q = (spark.readStream.schema(schema).parquet(events)
             .filter(F.col("value") > 0)
             .writeStream.format("parquet").option("path", f"{out}/sink")
             .option("checkpointLocation", f"{out}/ckpt")
             .trigger(availableNow=True).start())
        q.awaitTermination()
        spark.read.parquet(f"{out}/sink").count()

    def layer(self, name: str) -> str:
        reg = _plans().REGISTRY
        return f"plans.{_module(reg[name])}" if name in reg else "plans.missing"

    def _spec(self, name: str):
        reg = _plans().REGISTRY
        if name not in reg:
            raise KeyError(f"pinned query {name!r} is not registered")
        return reg[name]

    def _run(self, spark: SparkSession, name: str) -> dict:
        t0 = time.perf_counter()
        df = self._spec(name).builder(spark, self.sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        return {"plans.builder_s": t1 - t0, "plans.action_s": t2 - t1, "_df": df}

    def run_pass(self, spark: SparkSession, timed: Timed, check: bool) -> list:
        """Each item, then (with ``check``) its DuckDB oracle comparison or
        recorded row count."""
        failures = []
        con = checks.oracle_db(self.sf_dir) if check else None
        try:
            for name in self.order:
                out = timed(name, lambda name=name: self._run(spark, name))
                if check and "_df" in out:
                    try:
                        reason = checks.matches_oracle(name, out["_df"].toPandas(), con,
                                                       self._spec(name).oracle)
                    except Exception as exc:  # a failing check is reported, not fatal
                        reason = f"{type(exc).__name__}: {exc}"
                    spark.catalog.clearCache()
                    if reason:
                        failures.append((name, reason[:300]))
        finally:
            if con is not None:
                con.close()
        return failures


class PipelineWorkload:
    """The paper's scheduled jobs: a Case A daily backfill and a Case B
    3-day-step backfill, each ending with a re-run of one date, and one
    dated ``llm_corpus`` run."""

    streams = False
    A_START, A_DAYS, A_ROWS = "2024-01-01", 2, 40_000  # rows per non-empty day
    B_START, B_RUNS, B_ROWS = "2024-03-01", 2, 100_000
    C_DATE = "2024-05-01"
    C_COPIES = 4
    TABLES = {"case_a": "daily_search_results", "case_b": "transactions_table",
              "llm_corpus": "curated_corpus"}

    def prepare(self, work: str, seed: int) -> None:
        import duckdb

        self.work = work
        self.a = gen.case_a_inputs(f"{work}/in/a", seed, self.A_START, self.A_DAYS, self.A_ROWS)
        self.b = gen.case_b_inputs(f"{work}/in/b", seed, self.B_START, self.B_RUNS, self.B_ROWS)
        self.c = gen.corpus_inputs(f"{work}/in/c", seed, f"{FIXTURE}/documents.parquet",
                                   self.C_COPIES)
        self.a_rerun = self.a["days"][0]  # never the empty day
        self.b_rerun = self.b["dates"][-1]
        # (pipeline, run date, source rows, source bytes) of one pass, in order
        self.plan = (
            [("case_a", ds, self.a["day_rows"][ds], self.a["day_bytes"][ds])
             for ds in self.a["days"] + [self.a_rerun]]
            + [("case_b", ds, self.b["rows"], self.b["bytes"])
               for ds in self.b["dates"] + [self.b_rerun]]
            + [("llm_corpus", self.C_DATE, self.c["rows"], self.c["bytes"])])
        self.input_rows = sum(p[2] for p in self.plan)
        self.input_bytes = sum(p[3] for p in self.plan)
        con = duckdb.connect()
        self.ref_a = checks.case_a_reference(con, self.a["root"])
        self.ref_b = checks.case_b_reference(con, self.b["path"], self.b["dates"])
        con.close()

    def warm(self, spark: SparkSession) -> None:
        day = self.a["days"][0].replace("-", "")
        out = f"{self.work}/warm/batch"
        (spark.read.option("header", True).csv(f"{self.a['root']}/keyword_search/search_{day}.csv")
         .withColumn("dt", F.lit(self.a["days"][0]))
         .groupBy("dt", "search_keyword").count()
         .write.mode("overwrite").partitionBy("dt").parquet(out))
        spark.read.parquet(out).agg(F.sum("count")).collect()
        spark.read.parquet(self.b["path"]).schema
        spark.read.parquet(self.c["path"]).schema

    def layer(self, name: str) -> str:
        return "pipelines." + name.split(":")[0]

    def _count(self, spark: SparkSession, wh: str, pipeline: str, ds: str) -> int:
        path = f"{wh}/{self.TABLES[pipeline]}"
        if not os.path.exists(path):
            return 0
        return spark.read.parquet(path).filter(F.col("dt") == ds).count()

    def run_pass(self, spark: SparkSession, timed: Timed, check: bool) -> list:
        """One backfill of each pipeline into a fresh warehouse.  With
        ``check``, each re-run date's row count is compared with its first
        run, and the tables with DuckDB reference SQL over the inputs."""
        from etl_cloud_batch_processing_spark.pipelines import case_a, case_b, llm_corpus
        from etl_cloud_batch_processing_spark.pipelines.runner import backfill

        wh = f"{self.work}/warehouse"
        shutil.rmtree(wh, ignore_errors=True)
        jobs = {
            "case_a": lambda ds: case_a.run(spark, ds, self.a["root"], wh),
            "case_b": lambda ds: case_b.run(spark, ds, self.b["path"], wh),
            "llm_corpus": lambda ds: llm_corpus.run(spark, ds, self.c["path"], wh),
        }
        rows_in = {(p, ds): rows for p, ds, rows, _ in self.plan}
        failures: list = []
        counts: dict[str, int] = {}

        def item(pipeline: str) -> Callable[[str], None]:
            def run(ds: str) -> None:
                name = f"{pipeline}:{ds}"
                timed(name, lambda: {"pipelines.rows_in": rows_in[pipeline, ds],
                                     "_out": jobs[pipeline](ds)})
                if check:
                    n = self._count(spark, wh, pipeline, ds)
                    if name in counts and counts[name] != n:
                        failures.append((name, f"re-run changed rows {counts[name]} -> {n}"))
                    counts.setdefault(name, n)
            return run

        a_days, b_dates = self.a["days"], self.b["dates"]
        backfill(item("case_a"), a_days[0], a_days[-1])
        backfill(item("case_a"), self.a_rerun, self.a_rerun)
        backfill(item("case_b"), b_dates[0], b_dates[-1], step_days=3)
        backfill(item("case_b"), self.b_rerun, self.b_rerun)
        backfill(item("llm_corpus"), self.C_DATE, self.C_DATE)
        if check:
            failures += self._check_tables(spark, wh, counts)
        return failures

    def _check_tables(self, spark: SparkSession, wh: str, counts: dict[str, int]) -> list:
        failures = []
        for ds in self.a["days"]:
            ref = self.ref_a.get(ds, {"rows": 0})
            if counts.get(f"case_a:{ds}") != ref["rows"]:
                failures.append((f"case_a:{ds}", f"rows {counts.get(f'case_a:{ds}')} != {ref['rows']}"))
            got = None
            if "top" in ref:
                top = (spark.read.parquet(f"{wh}/most_search_keyword_history")
                       .filter(F.col("dt") == ds).collect())
                got = tuple(top[0][c] for c in ("search_keyword", "search_result_count",
                                                "user_id")) if top else None
            if got != ref.get("top"):
                failures.append((f"case_a:{ds}", f"top {got} != {ref.get('top')}"))
        tx = spark.read.parquet(f"{wh}/transactions_table")
        for ds, (n, amount, qty) in self.ref_b.items():
            r = tx.filter(F.col("dt") == ds).agg(
                F.count(F.lit(1)), F.sum("purchase_amount"), F.sum("purchase_quantity")).first()
            got = (r[0], round(r[1] or 0.0, 4), r[2] or 0)
            if got != (n, amount, qty):
                failures.append((f"case_b:{ds}", f"{got} != {(n, amount, qty)}"))
        if not counts.get(f"llm_corpus:{self.C_DATE}"):
            failures.append((f"llm_corpus:{self.C_DATE}", "no rows written"))
        return failures


def make(name: str):
    if name == "query_mix":
        return QueryWorkload(QUERY_MIX, streams=False)
    if name == "stream_drain":
        return QueryWorkload(STREAM_DRAIN, streams=True)
    if name == "pipeline_backfill":
        return PipelineWorkload()
    raise SystemExit(f"unknown workload {name!r}")
