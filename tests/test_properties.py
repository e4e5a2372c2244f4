"""Property-based tests (hypothesis): algebraic invariants that must
hold for ANY input, not just the fixtures — the SURVEY.md §5 upgrade
over example-based checks."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_cloud_batch_processing_spark.operators import skew

KEYS = st.sampled_from(["a", "b", "c", "hot"])
ROWS = st.lists(st.tuples(KEYS, st.integers(-1000, 1000)),
                min_size=1, max_size=60)

_slow = settings(max_examples=12, deadline=None,
                 suppress_health_check=list(HealthCheck))


@given(rows=ROWS)
@_slow
def test_salted_agg_is_plan_identity(spark, rows):
    df = spark.createDataFrame(rows, ["k", "v"])
    plain = {(r.k, r.n, r.s) for r in
             df.groupBy("k").agg(F.count(F.lit(1)).alias("n"),
                                 F.sum("v").alias("s")).collect()}
    salted = {(r.k, r.n, r.s) for r in
              skew.salted_agg(df, ["k"],
                              [F.count(F.lit(1)).alias("pn"),
                               F.sum("v").alias("pv")],
                              [F.sum("pn").alias("n"),
                               F.sum("pv").alias("s")],
                              salt=3).collect()}
    assert plain == salted


@given(rows=ROWS, small=st.lists(st.tuples(KEYS, st.text("xy", max_size=2)),
                                 min_size=1, max_size=8, unique_by=lambda t: t))
@_slow
def test_salted_join_is_plan_identity(spark, rows, small):
    big = spark.createDataFrame(rows, ["k", "v"])
    dim = spark.createDataFrame(small, ["k", "tag"])
    plain = sorted(map(tuple, big.join(dim, "k").collect()))
    salted = sorted(map(tuple,
                        skew.salted_join(big, dim, on="k", salt=3)
                        .select(*big.join(dim, "k").columns).collect()))
    assert plain == salted


@given(texts=st.lists(
    st.text(alphabet="ab c", min_size=1, max_size=40).map(
        lambda s: " ".join(s.split()) or "a"),
    min_size=1, max_size=6))
@_slow
def test_quality_score_bounded(spark, texts):
    from etl_cloud_batch_processing_spark.functions.text import quality_score
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    for r in df.select(quality_score("text").alias("q")).collect():
        assert 0.0 <= r.q <= 1.0 + 1e-9


@given(shared=st.text(alphabet="abcdef ", min_size=30, max_size=60).map(
    lambda s: " ".join((s.split() + ["x"] * 8)[:12])))
@_slow
def test_winnowing_shared_run_shares_fingerprint(spark, shared):
    """Winnowing guarantee: two docs sharing a ≥ k+w-1 = 6-token run
    share at least one fingerprint."""
    from etl_cloud_batch_processing_spark.plans.registry import REGISTRY
    import etl_cloud_batch_processing_spark.plans.llm  # noqa: F401
    doc_a = "p q r s t u v w " + shared
    doc_b = shared + " z1 z2 z3 z4 z5 z6 z7 z8"
    df = spark.createDataFrame([(1, doc_a), (2, doc_b)],
                               ["doc_id", "text"])
    # reuse the registered builder's internals on constructed data
    from pyspark.sql.window import Window
    from etl_cloud_batch_processing_spark.functions import text as T
    toks = df.select("doc_id",
                     F.posexplode(T.tokens("text")).alias("pos", "tok"))
    wseq = Window.partitionBy("doc_id").orderBy("pos")
    grams = (toks.withColumn("t1", F.lead("tok", 1).over(wseq))
             .withColumn("t2", F.lead("tok", 2).over(wseq))
             .filter(F.col("t2").isNotNull())
             .select("doc_id", "pos",
                     T.token_hash60(
                         F.concat_ws(" ", "tok", "t1", "t2")).alias("h")))
    wmin = (Window.partitionBy("doc_id").orderBy("pos")
            .rowsBetween(Window.currentRow, 3))
    fps = (grams.select("doc_id", F.min("h").over(wmin).alias("fp"))
           .distinct().collect())
    a = {r.fp for r in fps if r.doc_id == 1}
    b = {r.fp for r in fps if r.doc_id == 2}
    assert a & b, "shared token run produced no shared fingerprint"


MERGE_TGT = st.lists(
    st.tuples(st.integers(0, 9), st.one_of(st.none(),
                                           st.integers(-100, 100))),
    min_size=0, max_size=12, unique_by=lambda t: t[0])
MERGE_SRC = st.lists(
    st.tuples(st.integers(0, 14), st.one_of(st.none(),
                                            st.integers(-100, 100))),
    min_size=0, max_size=12, unique_by=lambda t: t[0])


@given(tgt=MERGE_TGT, src=MERGE_SRC)
@_slow
def test_merge_upsert_is_idempotent_and_total(spark, tgt, src):
    """MERGE invariants for any target/source: (1) applying the same
    source twice equals applying it once (idempotence — the retry
    guarantee); (2) output keys = target keys ∪ source keys; (3) keys
    untouched by the source keep their exact target row."""
    from etl_cloud_batch_processing_spark.operators.merge import merge_upsert

    schema = "k int, v int"
    t = spark.createDataFrame(tgt, schema) if tgt \
        else spark.createDataFrame([], schema)
    s = spark.createDataFrame(src, schema) if src \
        else spark.createDataFrame([], schema)
    once = merge_upsert(t, s, keys=["k"])
    twice = merge_upsert(once, s, keys=["k"])
    r1 = {r.k: r.v for r in once.collect()}
    r2 = {r.k: r.v for r in twice.collect()}
    assert r1 == r2
    assert set(r1) == {k for k, _ in tgt} | {k for k, _ in src}
    src_keys = {k for k, _ in src}
    for k, v in tgt:
        if k not in src_keys:
            assert r1[k] == v


def test_dsir_weights_favor_target_language(spark):
    """DSIR importance weights must rank target-language documents
    above the rest on average: the mean log-weight of lang='de' docs
    (the target) must exceed the mean over all other docs.  (The
    fixture languages share most of their vocabulary, so the gap is
    small but must be strictly positive.)"""
    from etl_cloud_batch_processing_spark.plans import filtering

    sf = "/root/testdata/sf0.001"
    w = {r["doc_id"]: r["dsir_logweight"]
         for r in filtering.dsir_importance_weights(spark, sf).collect()}
    langs = {r["doc_id"]: r["lang"]
             for r in spark.read.parquet(f"{sf}/documents.parquet")
             .select("doc_id", "lang").collect()}
    target = [w[d] for d in w if langs[d] == filtering.DSIR_TARGET_LANG]
    rest = [w[d] for d in w if langs[d] != filtering.DSIR_TARGET_LANG]
    assert target and rest
    assert (sum(target) / len(target)) > (sum(rest) / len(rest)) + 0.001


@given(frames=st.lists(
    st.lists(st.integers(0, 255), min_size=32, max_size=32),
    min_size=1, max_size=5))
@_slow
def test_y4m_roundtrip_is_identity(frames):
    """encode_y4m → decode_y4m must be the identity for ANY frame
    content, not just the fixture's ASCII-derived lumas — the codec
    pair is a real container implementation, so arbitrary bytes
    (including values that look like b'FRAME' or b'\\n') must survive
    the round trip."""
    import numpy as np

    from etl_cloud_batch_processing_spark.operators.multimodal import (
        VID_H,
        VID_W,
        decode_y4m,
        encode_y4m,
    )

    arrs = [np.array(f, dtype=np.uint8).reshape(VID_H, VID_W)
            for f in frames]
    w, h, got = decode_y4m(encode_y4m(arrs))
    assert (w, h, len(got)) == (VID_W, VID_H, len(arrs))
    for a, b in zip(arrs, got):
        assert (a == b).all()


@given(grid=st.lists(st.integers(0, 205), min_size=64, max_size=64),
       shift=st.integers(0, 50))
@_slow
def test_dhash_is_brightness_invariant(grid, shift):
    """dHash compares ADJACENT pixels, so adding a constant brightness
    offset (no clipping) must leave every bit — and therefore the
    hash — unchanged; that is the property that makes it a perceptual
    hash rather than a byte hash."""
    import pandas as pd

    from etl_cloud_batch_processing_spark.operators.multimodal import (
        make_dhash_decoder,
    )

    fn = make_dhash_decoder()
    base = bytes(grid)
    shifted = bytes(v + shift for v in grid)
    out = pd.concat(list(fn(iter([pd.DataFrame(
        {"media_id": [1, 2], "content": [base, shifted]})]))))
    h = dict(zip(out["media_id"], out["dhash"]))
    assert h[1] == h[2]
    assert 0 <= h[1] < (1 << 56)


def test_cusum_telescopes_to_zero(spark):
    """The CUSUM series ends at Σ(mdᵢ − μ) ≈ 0 by construction (μ is
    the series mean), so the LAST running-sum value per type must be
    within rounding slack of zero — a telescoping identity any broken
    window frame or wrong μ join would violate."""
    from pyspark.sql.window import Window

    from etl_cloud_batch_processing_spark.plans.registry import table

    sf = "/root/testdata/sf0.001"
    events = table(spark, sf, "events")
    daily = (events.groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.round(F.avg("value"), 6).alias("md")))
    mu = F.broadcast(daily.groupBy("event_type").agg(
        F.round(F.avg("md"), 6).alias("mu"),
        F.count(F.lit(1)).alias("n_days")))
    run = (Window.partitionBy("event_type").orderBy("day")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    s = (daily.join(mu, "event_type")
         .select("event_type", "day", "n_days",
                 F.sum(F.col("md") - F.col("mu")).over(run)
                 .alias("cusum")))
    w = Window.partitionBy("event_type").orderBy(F.desc("day"))
    last = (s.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1).collect())
    assert last
    for r in last:
        # μ is rounded to 6 decimals, so the telescoped end point can
        # sit up to n_days · 5e-7 away from exact zero
        assert abs(r.cusum) <= r.n_days * 5e-7 + 1e-9


# ---------------------------------------------------------------- round 6

@given(st.lists(st.integers(0, 200), min_size=1, max_size=80),
       st.integers(1, 9))
@_slow
def test_interval_overlap_bucketing_equals_quadratic_reference(
        spark, starts, durs_seed):
    """The (custkey, 10-day cell) bucketed interval-overlap join must
    find EXACTLY the pairs a brute-force quadratic scan finds, for any
    interval layout with durations <= the bucket width."""
    import datetime
    import itertools

    from pyspark.sql import functions as F

    base = datetime.date(1995, 1, 1)
    rows = []
    for idx, s_off in enumerate(starts):
        dur = (s_off * durs_seed) % 10 + 1  # 1..10 days, <= bucket
        rows.append((1, idx,
                     base + datetime.timedelta(days=s_off),
                     base + datetime.timedelta(days=s_off + dur)))
    # brute-force reference: overlap iff max(start) < min(end)
    want = set()
    for (c1, k1, s1, e1), (c2, k2, s2, e2) in \
            itertools.combinations(rows, 2):
        lo, hi = (k1, k2) if k1 < k2 else (k2, k1)
        if max(s1, s2) < min(e1, e2):
            want.add((lo, hi))
    # bucketed plan (same construction as overlapping_customer_orders)
    df = spark.createDataFrame(
        rows, "custkey int, okey int, s date, e date")
    epoch = F.lit("1990-01-01").cast("date")
    win = df.withColumn(
        "bucket", F.floor(F.datediff("s", epoch) / 10))
    x = win.select("custkey", F.col("okey").alias("xk"),
                   F.col("s").alias("xs"), F.col("e").alias("xe"),
                   F.explode(F.array(F.col("bucket"),
                                     F.col("bucket") + 1)).alias("p"))
    y = win.select("custkey", F.col("okey").alias("yk"),
                   F.col("s").alias("ys"), F.col("e").alias("ye"),
                   F.col("bucket").alias("p"))
    earlier = ((F.col("xs") < F.col("ys"))
               | ((F.col("xs") == F.col("ys"))
                  & (F.col("xk") < F.col("yk"))))
    got = {(min(r.xk, r.yk), max(r.xk, r.yk)) for r in
           (x.join(y, ["custkey", "p"])
            .filter(earlier & (F.col("ys") < F.col("xe")))
            .collect())}
    assert got == want


@given(st.lists(st.sampled_from(
    ["hot1", "hot2"] + [f"t{i}" for i in range(40)]),
    min_size=20, max_size=400),
    st.integers(64, 512))
@_slow
def test_misra_gries_candidates_contain_all_heavy_hitters(
        spark, stream, batch_size):
    """For ANY stream and batching, the MG summary must retain every
    token whose count exceeds n/MG_K, and no lower bound may exceed
    the true count."""
    import collections

    import pandas as pd

    from etl_cloud_batch_processing_spark.plans.llm import (
        MG_K, _mg_summaries)

    batches = [pd.DataFrame({"token": stream[i: i + batch_size]})
               for i in range(0, len(stream), batch_size)]
    out = list(_mg_summaries(iter(batches)))[0]
    true = collections.Counter(stream)
    n = len(stream)
    survivors = set(out.token)
    for tok, c in true.items():
        if c * MG_K > n:
            assert tok in survivors, (tok, c, n)
    for _, r in out.iterrows():
        assert r.lower_bound <= true[r.token]


@given(st.lists(
    st.tuples(st.one_of(st.none(), st.integers(-5, 5)),
              st.one_of(st.none(), st.floats(-100, 100,
                                             allow_nan=False))),
    min_size=1, max_size=60))
@_slow
def test_expectations_counts_match_python_recount(spark, rows):
    """For ANY small table (including NULLs and duplicates), every
    violation count from the single-pass compiled suite must equal a
    row-by-row Python recount — the NULL-safety contract under fuzz."""
    from etl_cloud_batch_processing_spark.operators import (
        expectations as X)

    df = spark.createDataFrame(rows, "k bigint, v double")
    rep = {r["check_name"]: r["violations"]
           for r in X.run_checks(df, "t", [
               X.not_null("k"), X.unique("k"),
               X.in_range("v", -50.0, 50.0),
               X.accepted_values("k", [1, 2, 3]),
               X.min_rows(30),
           ]).collect()}
    ks = [k for k, _ in rows]
    vs = [v for _, v in rows]
    assert rep["k_not_null"] == sum(k is None for k in ks)
    nn = [k for k in ks if k is not None]
    assert rep["k_unique"] == len(nn) - len(set(nn))
    assert rep["v_in_range"] == sum(
        v is None or not (-50.0 < v <= 50.0) for v in vs)
    assert rep["k_accepted_values"] == sum(k not in (1, 2, 3) for k in ks)
    assert rep["min_rows_30"] == max(30 - len(rows), 0)


@given(st.lists(st.integers(1, 10 ** 7), min_size=1, max_size=80),
       st.sampled_from([0.25, 0.5, 0.9, 0.99]))
@_slow
def test_hdr_bucket_quantile_envelope_property(spark, values, p):
    """For ANY positive integer multiset and ANY percentile, the HDR
    bucket-estimate quantile never overshoots the exact discrete
    quantile and stays within the 25% one-sided relative envelope."""
    import math

    df = spark.createDataFrame([(v,) for v in values], "scaled bigint")
    bucketed = df.selectExpr(
        "scaled",
        "CASE WHEN length(bin(scaled)) - 1 < 2 THEN scaled"
        " ELSE shiftleft(shiftright(scaled, length(bin(scaled)) - 3),"
        " length(bin(scaled)) - 3) END AS bucket_lo").collect()
    rank = math.ceil(p * len(values))
    exact = sorted(values)[rank - 1]
    # estimate = lower bound of the bucket holding the rank-th element
    by_bucket = sorted(r["bucket_lo"] for r in bucketed)
    est = by_bucket[rank - 1]
    assert est <= exact
    assert exact * 4 <= est * 5


# ---------------------------------------------------------------------------
# Round-10: incremental SCD2 MERGE equals a sequential python reference
# for ANY batch sequence (operators/merge.py merge_scd2).
# ---------------------------------------------------------------------------

_SCD2_KEYS = st.integers(1, 4)
_SCD2_VALS = st.sampled_from(["a", "b", "c", None])
#: a run = per-key at most one observation; 1-3 runs with increasing ts
_SCD2_RUNS = st.lists(
    st.dictionaries(_SCD2_KEYS, _SCD2_VALS, min_size=1, max_size=4),
    min_size=1, max_size=3)


def _scd2_reference(runs):
    """Sequential python SCD2: dict key -> list of
    [val, valid_from, valid_to, is_current]."""
    hist: dict = {}
    for t, batch in enumerate(runs, start=1):
        for k, v in batch.items():
            versions = hist.setdefault(k, [])
            cur = versions[-1] if versions else None
            if cur is None or not cur[3]:
                versions.append([v, t, None, True])
            elif cur[0] == v or t <= cur[1]:
                continue                      # unchanged / stale
            else:
                cur[2], cur[3] = t, False     # close
                versions.append([v, t, None, True])
    out = []
    for k, versions in hist.items():
        for v, vf, vt, cur in versions:
            out.append((k, v, vf, vt, cur))
    return sorted(out, key=lambda r: (r[0], r[2]))


@given(runs=_SCD2_RUNS)
@_slow
def test_merge_scd2_matches_sequential_reference(spark, runs):
    import datetime as dt

    from etl_cloud_batch_processing_spark.operators.merge import (
        merge_scd2, scd2_schema_from)

    def ts(t):
        return dt.datetime(2024, 1, t)

    def batch(d, t):
        return spark.createDataFrame(
            [(k, v, ts(t)) for k, v in d.items()],
            "k bigint, val string, obs_ts timestamp_ntz")

    dim = scd2_schema_from(batch(runs[0], 1), ["k"], "obs_ts")
    for t, d in enumerate(runs, start=1):
        dim = merge_scd2(dim, batch(d, t), ["k"], "obs_ts")
    got = sorted(((r.k, r.val, r.valid_from.day,
                   r.valid_to.day if r.valid_to else None,
                   r.is_current) for r in dim.collect()),
                 key=lambda r: (r[0], r[2]))
    assert got == _scd2_reference(runs)
