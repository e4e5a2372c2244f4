"""Expectations engine pins: the suite must CATCH planted violations
(clean fixtures alone would let a vacuous always-pass implementation
through), count them exactly, stay NULL-safe, and the registered
queries must match their DuckDB oracles.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from etl_cloud_batch_processing_spark import plans
from etl_cloud_batch_processing_spark.operators import expectations as X


def _report(df, name, checks):
    return {r["check_name"]: r for r in X.run_checks(df, name, checks).collect()}


def test_clean_fixture_suite_all_pass(spark, sf_dir):
    rows = (plans.REGISTRY["dq_expectation_report"]
            .builder(spark, sf_dir).collect())
    assert len(rows) == 12
    assert all(r["passed"] for r in rows)
    assert all(r["violations"] == 0 for r in rows)
    assert {r["table_name"] for r in rows} == {"events", "documents", "orders"}


def test_planted_violations_are_counted_exactly(spark):
    df = spark.createDataFrame(
        [(1, "click", 5.0), (1, "click", -2.0), (None, "zzz", 7.0),
         (3, None, None), (4, "view", 2.0)],
        "id bigint, kind string, v double")
    rep = _report(df, "t", [
        X.not_null("id"),
        X.unique("id"),
        X.accepted_values("kind", ["click", "view"]),
        X.in_range("v", 0, 10.0),
        X.matches("kind", "^c"),
        X.min_rows(6),
    ])
    assert rep["id_not_null"]["violations"] == 1
    assert rep["id_unique"]["violations"] == 1          # one surplus dup
    # NULL kind and 'zzz' both violate accepted_values (NULL-safe)
    assert rep["kind_accepted_values"]["violations"] == 2
    # -2.0 out of range, NULL v counts as violation
    assert rep["v_in_range"]["violations"] == 2
    assert rep["kind_matches"]["violations"] == 3       # zzz, NULL, view
    assert rep["min_rows_6"]["violations"] == 1         # one row short
    assert all(r["rows_scanned"] == 5 for r in rep.values())
    assert not any(r["passed"] for r in rep.values())

    # an empty frame fails only min_rows, short by n; the row-level and
    # unique checks report 0 violations, not NULL
    empty = _report(df.limit(0), "t", [
        X.not_null("id"), X.unique("id"), X.in_range("v", 0, 10.0),
        X.min_rows(3)])
    assert empty["min_rows_3"]["violations"] == 3
    assert [n for n, r in empty.items() if not r["passed"]] == ["min_rows_3"]
    assert all(r["rows_scanned"] == 0 for r in empty.values())
    with pytest.raises(X.AuditError) as exc:
        X.gate(df.limit(0), "t", [X.not_null("id"), X.min_rows(3)])
    assert [r.check_name for r in exc.value.failures] == ["min_rows_3"]


def test_expression_check_null_safe(spark):
    df = spark.createDataFrame([(1, 1), (2, 3), (None, 1), (4, None)],
                               "a bigint, b bigint")
    rep = _report(df, "t", [X.expression("a_eq_b", F.col("a") == F.col("b"))])
    # NULL comparison results count as violations, never vanish
    assert rep["a_eq_b"]["violations"] == 3


def test_fk_audit_finds_planted_orphans(spark):
    child = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 99), (4, None), (5, 98)],
        "row_id bigint, fk bigint")
    parent = spark.createDataFrame([(10,), (11,)], "pk bigint")
    r = X.fk_audit(child, "child", "fk", parent, "pk").collect()[0]
    assert r["child_rows"] == 5
    assert r["distinct_keys"] == 3
    assert r["null_fks"] == 1        # reported separately, not an orphan
    assert r["orphan_rows"] == 2
    assert r["orphan_keys"] == 2
    assert not r["intact"]


def test_ri_query_matches_oracle(spark, duck, sf_dir):
    spec = plans.REGISTRY["dq_referential_integrity"]
    got = {(r["child_table"], r["fk_column"]): r
           for r in spec.builder(spark, sf_dir).collect()}
    want = duck.execute(spec.oracle).fetchdf()
    assert len(got) == len(want) == 8
    for _, w in want.iterrows():
        g = got[(w["child_table"], w["fk_column"])]
        for c in ["child_rows", "distinct_keys", "null_fks",
                  "orphan_rows", "orphan_keys", "intact"]:
            assert g[c] == w[c], (w["child_table"], w["fk_column"], c)
    assert all(r["intact"] for r in got.values())       # fixtures are clean
    assert all(r["child_rows"] > 0 for r in got.values())


def test_suite_query_matches_oracle(spark, duck, sf_dir):
    spec = plans.REGISTRY["dq_expectation_report"]
    got = [tuple(r) for r in spec.builder(spark, sf_dir).collect()]
    want = [tuple(r) for r in duck.execute(spec.oracle).fetchall()]
    assert got == want


def test_suite_is_single_scan_per_table(spark, sf_dir):
    """N checks must not mean N scans: the compiled plan reads the
    events parquet exactly once for its five-check suite, min_rows
    (the gate's empty-run guard) included."""
    ev = plans.registry.table(spark, sf_dir, "events")
    rep = X.run_checks(ev, "events", [
        X.not_null("event_id"), X.unique("event_id"),
        X.in_range("value", 0, 1e6), X.not_null("user_id"),
        X.min_rows(1)])
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") <= 1


def test_quality_checks_single_pass(spark, sf_dir):
    ev = plans.registry.table(spark, sf_dir, "events")
    rules = [X.not_null("event_id"), X.unique("event_id"),
             X.not_null("event_type"),
             X.accepted_values("event_type",
                               ["click", "error", "purchase",
                                "signup", "view"]),
             X.min_rows(100)]
    report = X.gate(ev, "events", rules)
    assert len(report) == len(rules)
    assert all(r.passed for r in report), report

    # and failures are detected, not swallowed
    bad = [X.in_range("value", 0.0, 1e-12), X.unique("user_id"),
           X.min_rows(10**12)]
    with pytest.raises(X.AuditError) as exc:
        X.gate(ev, "events", bad)
    assert ({r.check_name for r in exc.value.failures}
            == {c.name for c in bad}), exc.value.failures


def test_k_anonymity_ladder_invariants(spark, duck, sf_dir):
    spec = plans.REGISTRY["k_anonymity_audit"]
    rows = {r["qi_level"]: r for r in spec.builder(spark, sf_dir).collect()}
    assert list(rows) == ["type", "type+day", "type+day+valbucket"]
    coarse, mid, fine = (rows["type"], rows["type+day"],
                         rows["type+day+valbucket"])
    # refining the QI can only split classes: count grows, k shrinks
    assert coarse["n_classes"] <= mid["n_classes"] <= fine["n_classes"]
    assert coarse["k_min"] >= mid["k_min"] >= fine["k_min"]
    assert coarse["rows_below_k5"] <= mid["rows_below_k5"] \
        <= fine["rows_below_k5"]
    for r in rows.values():
        assert r["l_min"] <= r["k_min"]  # distinct users <= class rows
        assert 0.0 <= r["pct_rows_below_k5"] <= 1.0
        assert r["n_rows"] == coarse["n_rows"]  # same release, all rungs
    # oracle parity
    want = [tuple(r) for r in duck.execute(spec.oracle).fetchall()]
    got = [tuple(r) for r in spec.builder(spark, sf_dir).collect()]
    assert got == want


def test_entity_resolution_recall_and_conservation(spark, duck, sf_dir):
    spec = plans.REGISTRY["entity_resolution_dirty_customers"]
    rows = spec.builder(spark, sf_dir).collect()
    n_cust = plans.registry.table(spark, sf_dir, "customer").count()
    total_pert = sum(r["n_perturbed"] for r in rows)
    assert total_pert > 0, "no perturbed records planted — fixture too small"
    # conservation: every registry record lands in exactly one cluster
    assert sum(r["n_records"] for r in rows) == n_cust + total_pert
    # planted-pair recall = 1.0: the balance-block guarantees the true
    # pair co-blocks, so a perturbed record ALWAYS clusters with its
    # clean source — no cluster is perturbed-only
    for r in rows:
        if r["n_perturbed"] > 0:
            assert r["n_records"] > r["n_perturbed"], dict(r.asDict())
    # overmerge flag is consistent with entity counts
    for r in rows:
        assert r["overmerged"] == (r["n_entities"] > 1)
        assert r["n_entities"] <= r["n_records"]
    # oracle parity
    want = [tuple(r) for r in duck.execute(spec.oracle).fetchall()]
    got = [tuple(r) for r in rows]
    assert got == want


def test_ht_estimator_envelope_and_design(spark, duck, sf_dir):
    import math
    spec = plans.REGISTRY["ht_sampled_total_estimate"]
    rows = spec.builder(spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["within_bound"], dict(r.asDict())
        assert r["err_cents"] == r["ht_estimate_cents"] - r["exact_cents"]
        # the sample size itself sits inside its binomial 4-sigma band
        p = r["rate_pct"] / 100.0
        sd = math.sqrt(r["n_pop"] * p * (1 - p))
        assert abs(r["n_sampled"] - r["n_pop"] * p) <= 4 * sd + 1
        assert r["se_cents"] > 0
    # it genuinely estimates (a disguised exact sum would always be 0)
    assert any(r["err_cents"] != 0 for r in rows)
    want = [tuple(r) for r in duck.execute(spec.oracle).fetchall()]
    assert [tuple(r) for r in rows] == want


def test_poisson_bootstrap_se_tracks_analytic_variance(spark, duck, sf_dir):
    spec = plans.REGISTRY["bootstrap_se_poisson_replicas"]
    rows = spec.builder(spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["within_bound"], dict(r.asDict())
        assert r["n_replicas"] == 32
        assert 0.55 <= r["se_ratio"] <= 1.65
        assert r["boot_se_cents"] > 0 and r["analytic_se_cents"] > 0
    # the replicas genuinely differ (a broken weight path collapses
    # every replica to the same total and the SE to zero — the failure
    # mode the first draft hit when the hash cast returned NULL)
    assert any(abs(r["se_ratio"] - 1.0) > 1e-6 for r in rows)
    want = [tuple(r) for r in duck.execute(spec.oracle).fetchall()]
    assert [tuple(r) for r in rows] == want


def test_poisson_weights_have_unit_mean_and_variance(spark):
    """The inlined inverse-CDF thresholds must reproduce Poisson(1)
    moments over a dense uniform grid (E[w] ~ 1, Var[w] ~ 1)."""
    from etl_cloud_batch_processing_spark.plans.filtering import (
        _boot_w_sql)
    rows = (spark.range(0, 1000000, 97)  # ~10309 grid points
            .selectExpr(f"{_boot_w_sql('id')} AS w")
            .groupBy().agg(F.avg("w").alias("m"),
                           F.var_samp("w").alias("v")).collect()[0])
    assert abs(rows["m"] - 1.0) < 0.03
    assert abs(rows["v"] - 1.0) < 0.06
