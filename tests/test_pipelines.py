"""End-to-end tests for the Case A / Case B pipelines (SURVEY.md §5.2
plan item 2): synthesized reference-faithful inputs, several run dates
including a re-run to prove idempotency, and checks that the reference's
silent-junk defects are fixed (NULLs, never '' / nondeterministic ties).
"""

from __future__ import annotations

import datetime as dt
import os

import pytest

from etl_cloud_batch_processing_spark.pipelines import backfill, case_a, case_b
from etl_cloud_batch_processing_spark.sources.readers import read_parquet

DAYS_A = ["2021-03-10", "2021-03-11", "2021-03-12"]


def _write_case_a_csvs(root: str) -> None:
    """One CSV per day (FIXTURES.md §1.1): numeric text plus junk rows
    exercising SAFE_CAST null-on-failure."""
    os.makedirs(f"{root}/keyword_search", exist_ok=True)
    rows_by_day = {
        "2021-03-10": [
            ("1", "spark", "120", "2021-03-10 08:00:00"),
            ("2", "duck", "340", "2021-03-10 09:30:00"),
            ("3", "flink", "junk", "2021-03-10 10:00:00"),   # junk count
        ],
        "2021-03-11": [
            ("4", "spark", "999", "2021-03-11 11:00:00"),
            ("5", "pandas", "999", "2021-03-11 12:00:00"),   # tie on count
            ("x", "arrow", "10", "not-a-timestamp"),         # junk id + ts
        ],
        "2021-03-12": [
            ("6", "polars", "77", "2021-03-12 23:59:59"),
        ],
    }
    for ds, rows in rows_by_day.items():
        path = f"{root}/{case_a.csv_object_name(ds)}"
        with open(path, "w") as f:
            f.write("user_id,search_keyword,search_result_count,created_at\n")
            for r in rows:
                f.write(",".join(r) + "\n")


@pytest.fixture(scope="module")
def case_a_out(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("case_a_src"))
    wh = str(tmp_path_factory.mktemp("case_a_wh"))
    _write_case_a_csvs(src)
    backfill(lambda ds: case_a.run(spark, ds, src, wh),
             DAYS_A[0], DAYS_A[-1])
    return wh


def test_case_a_safe_cast_nulls(spark, case_a_out):
    results = read_parquet(spark, f"{case_a_out}/{case_a.SEARCH_RESULTS}")
    assert dict(results.dtypes)["user_id"] == "bigint"
    assert dict(results.dtypes)["search_result_count"] == "bigint"
    junk = results.filter("search_keyword = 'flink'").collect()[0]
    assert junk.search_result_count is None          # SAFE_CAST, not error
    assert results.count() == 7                      # nothing dropped


def test_case_a_most_searched_per_day(spark, case_a_out):
    top = (read_parquet(spark, f"{case_a_out}/{case_a.MOST_SEARCHED}")
           .orderBy("created_date").collect())
    assert [r.search_keyword for r in top] == ["duck", "pandas", "polars"]
    # 2021-03-11 is a 999/999 tie: deterministic keyword-asc tiebreak.
    assert top[1].search_result_count == 999
    # the malformed-timestamp row never matches any day filter
    assert all(r.created_date is not None for r in top)


def test_case_a_rerun_overwrites_partition(spark, tmp_path):
    """Re-running a whole day replaces its dt partition — the reference's
    WRITE_APPEND would duplicate the 3 rows (SURVEY.md §2.9 defects)."""
    src = str(tmp_path / "src")
    wh = str(tmp_path / "wh")
    _write_case_a_csvs(src)
    case_a.run(spark, "2021-03-11", src, wh)
    case_a.run(spark, "2021-03-11", src, wh)   # retry of the whole run
    results = read_parquet(spark, f"{wh}/{case_a.SEARCH_RESULTS}")
    assert results.count() == 3                # not 6: no duplication
    top = read_parquet(spark, f"{wh}/{case_a.MOST_SEARCHED}")
    assert top.count() == 1


def _case_b_events(spark):
    """Synthesized unified_events rows (FIXTURES.md §1.2): full 21-param
    shape, sparse 2-param shape, a wrong-event row, an out-of-window row."""
    def v_int(n):
        return {"value": {"int_value": n, "string_value": None,
                          "float_value": None}}

    def v_str(s):
        return {"value": {"int_value": None, "string_value": s,
                          "float_value": None}}

    def v_flt(x):
        return {"value": {"int_value": None, "string_value": None,
                          "float_value": x}}

    def pad(params):
        return params + [v_int(0)] * (case_b.FULL_SHAPE_LEN - len(params))

    full = pad([v_int(100), v_int(200), v_str("TRX-1"), v_int(3),
                v_flt(49.5), v_str("card"), v_str("web"), v_int(77)])
    sparse = [v_str("TRX-2"), v_int(88)]
    t = dt.datetime
    rows = [
        ("purchase_item", t(2021, 3, 21, 10), full, "u1", "WA", "SEA",
         "2021-03-21"),
        ("purchase_item", t(2021, 3, 23, 23, 59), sparse, "u2", "OR", "PDX",
         "2021-03-23"),
        ("page_view", t(2021, 3, 22, 9), full, "u3", "CA", "SFO",
         "2021-03-22"),                                   # wrong event_name
        ("purchase_item", t(2021, 3, 24, 0), full, "u4", "CA", "LAX",
         "2021-03-24"),                                   # outside [ds,ds+2]
    ]
    return spark.createDataFrame(rows, case_b.UNIFIED_EVENTS_SCHEMA)


@pytest.fixture(scope="module")
def case_b_out(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("case_b_src"))
    wh = str(tmp_path_factory.mktemp("case_b_wh"))
    _case_b_events(spark).write.parquet(f"{src}/unified_events.parquet")
    case_b.run(spark, "2021-03-21", f"{src}/unified_events.parquet", wh)
    return wh


def test_case_b_full_shape_unnest(spark, case_b_out):
    final = read_parquet(spark, f"{case_b_out}/{case_b.FINAL_TABLE}")
    r = final.filter("user_id = 'u1'").collect()[0]
    assert (r.transaction_id, r.transaction_detail_id) == (100, 200)
    assert r.transaction_number == "TRX-1"
    assert r.purchase_quantity == 3
    assert r.purchase_amount == 49.5
    assert r.purchase_payment_method == "card"
    assert r.purchase_source == "web"
    assert r.product_id == 77
    assert r.ext_created_at == "2021-03-21"


def test_case_b_sparse_shape_total_nulls(spark, case_b_out):
    """Short arrays yield typed NULLs — the fixed form of the reference's
    swallowed-ValueError '' placeholders (SURVEY.md §2.9 defects)."""
    r = (read_parquet(spark, f"{case_b_out}/{case_b.FINAL_TABLE}")
         .filter("user_id = 'u2'").collect()[0])
    assert r.transaction_number == "TRX-2"
    assert r.product_id == 88
    assert r.transaction_id is None
    assert r.purchase_amount is None
    assert r.purchase_payment_method is None


def test_case_b_filters_and_window(spark, case_b_out):
    final = read_parquet(spark, f"{case_b_out}/{case_b.FINAL_TABLE}")
    users = {r.user_id for r in final.select("user_id").collect()}
    assert users == {"u1", "u2"}     # u3 wrong event, u4 out of window


def test_case_b_rerun_idempotent(spark, tmp_path):
    src = str(tmp_path / "src")
    wh = str(tmp_path / "wh")
    _case_b_events(spark).write.parquet(f"{src}/unified_events.parquet")
    case_b.run(spark, "2021-03-21", f"{src}/unified_events.parquet", wh)
    case_b.run(spark, "2021-03-21", f"{src}/unified_events.parquet", wh)
    final = read_parquet(spark, f"{wh}/{case_b.FINAL_TABLE}")
    assert final.count() == 2        # dt partition overwritten, not doubled


def test_cli_runs_case_b_single_date(spark, tmp_path):
    """python -m etl_cloud_batch_processing_spark case_b --ds ... must
    run one pipeline date end-to-end and reuse the active session."""
    from etl_cloud_batch_processing_spark.__main__ import main

    src = str(tmp_path / "src")
    wh = str(tmp_path / "wh")
    _case_b_events(spark).write.parquet(f"{src}/unified_events.parquet")
    main(["case_b", "--ds", "2021-03-21",
          "--source", f"{src}/unified_events.parquet",
          "--warehouse", wh])
    out = read_parquet(spark, f"{wh}/{case_b.FINAL_TABLE}")
    assert out.count() > 0
    assert spark.sparkContext._jsc is not None  # session survived


def test_llm_corpus_pipeline_gate_curate_mix_write(spark, tmp_path):
    from etl_cloud_batch_processing_spark.pipelines import llm_corpus

    src = "/root/testdata/sf0.001/documents.parquet"
    wh = str(tmp_path / "wh")
    m1 = llm_corpus.run(spark, "2021-03-10", src, wh)
    assert m1["rows"] > 0 and m1["nulls_lang"] == 0
    out = read_parquet(spark, f"{wh}/{llm_corpus.CORPUS_TABLE}")
    assert out.filter("dt = '2021-03-10'").count() == m1["rows"]
    # deterministic mixture + dedup: re-run replaces, not duplicates
    m2 = llm_corpus.run(spark, "2021-03-10", src, wh)
    assert m2["rows"] == m1["rows"]
    out = read_parquet(spark, f"{wh}/{llm_corpus.CORPUS_TABLE}")
    assert out.count() == m1["rows"]
    # every kept doc respects the curation bounds
    from pyspark.sql import functions as F

    kept = out.select(F.min("n_tokens"), F.max("n_tokens")).collect()[0]
    assert kept[0] >= 5 and kept[1] <= 1000


def test_llm_corpus_pipeline_gate_fails_on_bad_batch(spark, tmp_path):
    import pytest

    from etl_cloud_batch_processing_spark.operators.expectations import (
        AuditError)
    from etl_cloud_batch_processing_spark.pipelines import llm_corpus

    bad = spark.createDataFrame(
        [(1, "a b c d e f", "en", "web"), (1, "dup key", "en", "web")],
        "doc_id long, text string, lang string, source string")
    p = str(tmp_path / "bad.parquet")
    bad.write.parquet(p)
    with pytest.raises(AuditError):
        llm_corpus.run(spark, "2021-03-10", p, str(tmp_path / "wh"))


def test_case_a_observe_metrics(spark, tmp_path):
    """run() returns df.observe metrics captured ON the write job (no
    extra scan): row count and SAFE_CAST failure tallies must match the
    fixture's known junk rows."""
    src, wh = str(tmp_path / "src"), str(tmp_path / "wh")
    _write_case_a_csvs(src)
    m10 = case_a.run(spark, "2021-03-10", src, wh)
    assert m10 == {"rows_written": 3, "user_id_cast_failures": 0,
                   "count_cast_failures": 1}        # 'junk' count
    m11 = case_a.run(spark, "2021-03-11", src, wh)
    assert m11 == {"rows_written": 3, "user_id_cast_failures": 1,
                   "count_cast_failures": 0}        # 'x' user id


def test_rollup_job_scheduled_backfill_is_stable(spark):
    """The scheduled form of rollup maintenance (round-3 verdict item
    7): drive maintain_daily_rollup(run_date=...) for two consecutive
    days through the standard backfill runner, then re-run the same
    window — per-day dt= partitions must end up identical (idempotent
    partition overwrite), and other days' partitions untouched."""
    from pyspark.sql import functions as F

    from etl_cloud_batch_processing_spark.pipelines import rollup_job
    from etl_cloud_batch_processing_spark.plans import temporal as T
    from etl_cloud_batch_processing_spark.plans.registry import table

    sf = "/root/testdata/sf0.001"
    path = T.maintain_daily_rollup(spark, sf)     # ensure table exists
    events = table(spark, sf, "events")
    d0 = (events.agg(F.min(F.to_date("ts"))).collect()[0][0])
    days = [d0.isoformat(),
            (d0 + __import__("datetime").timedelta(days=1)).isoformat()]

    def snapshot():
        return {str(r["dt"]): r["n"] for r in
                spark.read.option("basePath", path).parquet(path)
                .groupBy("dt").agg(F.count(F.lit(1)).alias("n"))
                .collect()}

    before = snapshot()
    ran = rollup_job.backfill_rollup(spark, sf, days[0], days[1])
    assert ran == days
    rollup_job.backfill_rollup(spark, sf, days[0], days[1])  # retry
    assert snapshot() == before and before[days[0]] > 0


def test_case_a_empty_day_zeroes_metrics(spark, tmp_path):
    """A day whose CSV holds zero data rows must complete with all-zero
    metrics: sum() over an empty frame observes NULL, which the runner
    coalesces to 0 instead of crashing on int(None) (round-3 ADVICE)."""
    src, wh = str(tmp_path / "src"), str(tmp_path / "wh")
    os.makedirs(f"{src}/keyword_search", exist_ok=True)
    ds = "2021-03-13"
    with open(f"{src}/{case_a.csv_object_name(ds)}", "w") as f:
        f.write("user_id,search_keyword,search_result_count,created_at\n")
    m = case_a.run(spark, ds, src, wh)
    assert m == {"rows_written": 0, "user_id_cast_failures": 0,
                 "count_cast_failures": 0}


def test_case_b_empty_window_completes(spark, tmp_path):
    """A run whose 3-day window matches zero purchase events must
    complete: the unpartitioned staging overwrite writes a schema-
    bearing empty parquet (so even a footer read of it works), and
    the final partitioned append simply writes no dt= partition."""
    src, wh = str(tmp_path / "src"), str(tmp_path / "wh")
    _case_b_events(spark).write.parquet(f"{src}/unified_events.parquet")
    case_b.run(spark, "1999-01-01", f"{src}/unified_events.parquet", wh)
    raw = read_parquet(spark, f"{wh}/{case_b.RAW_TABLE}")
    assert raw.count() == 0
    assert "transaction_number" in raw.columns


def test_case_a_and_b_runs_launch_no_footer_jobs(spark, tmp_path, total_jobs):
    """The read-backs of the engine's own staging and results tables
    take the writer's schema, so a non-empty run's jobs are its writes
    (and, for Case B, the footer read of the external events source)."""
    src, wh = str(tmp_path / "a_src"), str(tmp_path / "a_wh")
    _write_case_a_csvs(src)
    j0 = total_jobs()
    assert case_a.run(spark, "2021-03-10", src, wh)["rows_written"] == 3
    assert total_jobs() - j0 == 3

    src, wh = str(tmp_path / "b_src"), str(tmp_path / "b_wh")
    _case_b_events(spark).write.parquet(f"{src}/unified_events.parquet")
    j0 = total_jobs()
    case_b.run(spark, "2021-03-21", f"{src}/unified_events.parquet", wh)
    assert total_jobs() - j0 == 3
    assert read_parquet(spark, f"{wh}/{case_b.FINAL_TABLE}").count() == 2
