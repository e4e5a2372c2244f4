"""Round-9 pins: self-auditing sketch envelopes (verdict item 6),
the steady-state IVF probe (item 3), and the manifest lifecycle query.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_cloud_batch_processing_spark import plans


# ---------------------------------------------------------------------------
# Self-auditing rows-only queries: the error envelope EXECUTES inside
# the query, so even a rows-only driver grade runs the assertion.
# ---------------------------------------------------------------------------

def test_approx_distinct_users_audits_itself(spark, sf_dir):
    rows = (plans.REGISTRY["approx_distinct_users"]
            .builder(spark, sf_dir).collect())
    assert rows
    for r in rows:
        assert r["within_bound"], (
            f"{r['event_type']}: approx={r['approx_users']} "
            f"exact={r['exact_users']} rel_error={r['rel_error']}")
        assert r["rel_error"] == pytest.approx(
            abs(r["approx_users"] - r["exact_users"]) / r["exact_users"],
            abs=1e-6)


def test_approx_value_percentiles_audits_itself(spark, sf_dir):
    rows = (plans.REGISTRY["approx_value_percentiles"]
            .builder(spark, sf_dir).collect())
    assert rows
    for r in rows:
        assert r["within_bound"], dict(r.asDict())
        assert r["approx_p25"] <= r["approx_p50"] <= r["approx_p75"]
        assert 0.0 <= r["max_rank_rel_err"] <= 1.0


def test_percentile_audit_catches_a_wrong_quantile(spark, sf_dir):
    """The envelope must be a real tripwire: rank-auditing a value that
    is NOT near the target rank must flag out-of-bound."""
    from etl_cloud_batch_processing_spark.plans.analytics import (
        APPROX_PCT_ACCURACY)
    from etl_cloud_batch_processing_spark.plans.registry import table

    events = table(spark, sf_dir, "events")
    # claim the p75 value is the p25 quantile — audit must reject
    sk = (events.groupBy("event_type")
          .agg(F.expr("percentile(value, 0.75)").alias("fake_p25"),
               F.count(F.lit(1)).alias("n")))
    audit = (events.select("event_type", "value")
             .join(F.broadcast(sk), "event_type")
             .groupBy("event_type", "fake_p25", "n")
             .agg(F.sum(F.when(F.col("value") <= F.col("fake_p25"), 1)
                        .otherwise(0)).alias("le")))
    tol = F.col("n") / APPROX_PCT_ACCURACY + 2
    bad = audit.filter(
        F.abs(F.col("le") - F.col("n") * 0.25) <= tol).count()
    assert bad == 0


# ---------------------------------------------------------------------------
# Steady-state IVF probe: identical results to the full-cycle query,
# with the build genuinely memoized (no re-train on the second run).
# ---------------------------------------------------------------------------

def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_steady_probe_matches_full_cycle(spark, sf_dir):
    full = plans.REGISTRY["ivf_index_probe_topk"].builder(spark, sf_dir)
    steady = plans.REGISTRY["ivf_index_steady_probe"].builder(spark, sf_dir)
    assert _sorted_rows(full) == _sorted_rows(steady)


def test_steady_probe_reuses_memoized_build(spark, sf_dir, monkeypatch):
    from etl_cloud_batch_processing_spark.operators import similarity as S

    # prime the memo, then make any re-build explode
    S._steady_index(spark, sf_dir)

    def boom(*a, **k):
        raise AssertionError("steady probe re-trained the base index")

    monkeypatch.setattr(S, "build_ivf_index", boom)
    out = plans.REGISTRY["ivf_index_steady_probe"].builder(spark, sf_dir)
    assert out.count() > 0


def test_steady_probe_keeps_same_basename_fixtures_apart(spark, sf_dir,
                                                         tmp_path):
    """A second fixture dir with the same basename but other embeddings
    builds its own base index: the first dir's memoized index must not
    be overwritten by the second build."""
    import os

    import pyarrow.parquet as pq

    twin = tmp_path / os.path.basename(sf_dir.rstrip("/"))
    twin.mkdir()
    for name in os.listdir(sf_dir):
        if name != "embeddings.parquet":
            os.symlink(os.path.join(sf_dir, name), twin / name)
    emb = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    flipped = emb["embedding"].take(list(range(emb.num_rows - 1, -1, -1)))
    pq.write_table(emb.set_column(emb.schema.get_field_index("embedding"),
                                  "embedding", flipped),
                   twin / "embeddings.parquet")

    steady = plans.REGISTRY["ivf_index_steady_probe"].builder
    want = _sorted_rows(
        plans.REGISTRY["ivf_index_probe_topk"].builder(spark, sf_dir))
    assert _sorted_rows(steady(spark, sf_dir)) == want
    assert _sorted_rows(steady(spark, str(twin))) != want
    assert _sorted_rows(steady(spark, sf_dir)) == want


# ---------------------------------------------------------------------------
# Manifest lifecycle query: sanity beyond the parity test.
# ---------------------------------------------------------------------------

def test_manifest_snapshot_read_drops_exactly_the_subjects(spark, sf_dir):
    from etl_cloud_batch_processing_spark.plans.registry import table

    got = (plans.REGISTRY["manifest_snapshot_read"]
           .builder(spark, sf_dir))
    ev = table(spark, sf_dir, "events")
    keep = ev.filter(~((F.col("user_id") % 97) == 13))
    assert (got.agg(F.sum("n_events")).collect()[0][0]
            == keep.count() < ev.count())


# ---------------------------------------------------------------------------
# Round-10 (verdict item 4): the remaining rows-only queries carry
# EXECUTED self-audits — pin every one true on the fixture.
# ---------------------------------------------------------------------------

def test_hll_user_rollup_self_audit(spark, sf_dir):
    from etl_cloud_batch_processing_spark.plans.analytics import (
        hll_user_rollup,
    )

    rows = hll_user_rollup(spark, sf_dir).collect()
    assert rows and all(r["within_bound"] for r in rows)
    # and the audit is live, not vacuous: exact and approx are both
    # positive and genuinely compared
    assert all(r["exact_users"] > 0 for r in rows)


def test_pca_gram_self_audit(spark, sf_dir):
    from etl_cloud_batch_processing_spark.operators.linalg import (
        pca_top_components_gram,
    )

    rows = pca_top_components_gram(spark, sf_dir).collect()
    assert rows and all(r["audit_ok"] for r in rows)
    assert all(r["eigen_residual"] >= 0 for r in rows)


def test_pca_projection_self_audit(spark, sf_dir):
    from etl_cloud_batch_processing_spark.operators.linalg import (
        embedding_pca_projection,
    )

    rows = embedding_pca_projection(spark, sf_dir).collect()
    assert rows
    assert all(r["mean_centered_ok"] and r["var_rank_ok"] for r in rows)


def test_mllib_ann_pairs_self_audit(spark, sf_dir):
    from etl_cloud_batch_processing_spark.operators.similarity import (
        mllib_ann_pairs,
    )

    rows = mllib_ann_pairs(spark, sf_dir).collect()
    assert rows and all(r["dist_ok"] for r in rows)
    # recall of in-threshold exact top-5 neighbours: LSH with 4 tables
    # is allowed misses, but a collapsed index (recall ~0) must fail
    assert rows[0]["query_recall_top5"] >= 0.6


def test_mllib_near_dup_pairs_self_audit(spark, sf_dir):
    from etl_cloud_batch_processing_spark.operators.dedup import (
        mllib_near_dup_pairs,
    )

    rows = mllib_near_dup_pairs(spark, sf_dir).collect()
    assert rows and all(r["within_bound"] for r in rows)
    # exact_jaccard_dist really is the md5-shingle Jaccard: in [0, 1]
    assert all(0.0 <= r["exact_jaccard_dist"] <= 1.0 for r in rows)


def test_multimodal_byte_features_self_audit(spark, sf_dir):
    from etl_cloud_batch_processing_spark.operators.multimodal import (
        multimodal_byte_features,
    )

    rows = multimodal_byte_features(spark, sf_dir).collect()
    assert rows and all(r["audit_ok"] for r in rows)
