"""Unit tests for the operators/ package beyond the registry parity
checks: multimodal Arrow plumbing, LSH properties, stub behavior."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from etl_cloud_batch_processing_spark.operators import (
    dedup,
    multimodal,
    similarity,
)


def test_multimodal_features_match_numpy(spark):
    rows = [(1, "hello world"), (2, "aa"), (3, "Ζ ünïcode")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    media = multimodal.attach_media(docs)
    got = {r.media_id: r for r in
           multimodal.extract_features(media).collect()}
    for doc_id, text in rows:
        b = np.frombuffer(text.encode(), dtype=np.uint8)
        r = got[doc_id]
        assert r.n_bytes == b.size
        assert r.byte_mean == pytest.approx(float(b.mean()))
        assert (r.byte_min, r.byte_max) == (int(b.min()), int(b.max()))
        assert r.histogram4 == [int(x) for x in
                                np.bincount(b >> 6, minlength=4)]


def test_multimodal_metadata_prunes_payload(spark):
    docs = spark.createDataFrame([(1, "abc")], ["doc_id", "text"])
    media = multimodal.attach_media(docs)
    r = media.select("meta.uri", "meta.mime", "meta.n_bytes").collect()[0]
    assert r.uri == "corpus://documents/1"
    assert r.mime == "text/plain"
    assert r.n_bytes == 3


def test_ppm_roundtrip_exact():
    import numpy as np
    rgb = np.arange(60, dtype=np.uint8).reshape(4, 5, 3)
    out = multimodal.decode_image(multimodal.encode_ppm(rgb))
    assert out.shape == (4, 5, 3) and (out == rgb).all()
    gray = np.arange(20, dtype=np.uint8).reshape(4, 5)
    out = multimodal.decode_image(multimodal.encode_ppm(gray))
    assert out.shape == (4, 5) and (out == gray).all()


def test_ascii_pnm_and_comments():
    import numpy as np
    body = " ".join(str(v) for v in range(12))
    img = multimodal.decode_image(
        b"P2\n# a comment\n4 3\n255\n" + body.encode())
    assert img.shape == (3, 4)
    assert (img == np.arange(12, dtype=np.uint8).reshape(3, 4)).all()
    img3 = multimodal.decode_image(b"P3\n2 2\n255\n" + body.encode())
    assert img3.shape == (2, 2, 3)
    assert (img3.reshape(-1) == np.arange(12)).all()


def test_bmp_24bit_bottom_up_with_padding():
    import numpy as np
    # 3x2 RGB image; BMP stores BGR, bottom row first, rows padded to 4B
    rgb = np.array([[[1, 2, 3], [4, 5, 6], [7, 8, 9]],
                    [[10, 11, 12], [13, 14, 15], [16, 17, 18]]],
                   dtype=np.uint8)
    stride = (3 * 3 + 3) & ~3                    # 12 bytes (9 + 3 pad)
    pixel_data = b""
    for row in rgb[::-1]:                        # bottom-up
        raw = row[:, ::-1].tobytes()             # BGR
        pixel_data += raw + b"\x00" * (stride - len(raw))
    header = (b"BM" + (54 + len(pixel_data)).to_bytes(4, "little")
              + b"\x00\x00\x00\x00" + (54).to_bytes(4, "little")
              + (40).to_bytes(4, "little")
              + (3).to_bytes(4, "little", signed=True)
              + (2).to_bytes(4, "little", signed=True)
              + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
              + (0).to_bytes(4, "little") + b"\x00" * 20)
    out = multimodal.decode_image(header + pixel_data)
    assert out.shape == (2, 3, 3) and (out == rgb).all()


def test_resize_nearest_neighbor_exact():
    import numpy as np
    rgb = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    small = multimodal.decode_image(
        multimodal.resize_image(multimodal.encode_ppm(rgb), 2, 2))
    # nearest-neighbor with floor((i*src)/dst): picks rows/cols 0 and 2
    assert (small == rgb[::2, ::2]).all()
    big = multimodal.decode_image(
        multimodal.resize_image(multimodal.encode_ppm(rgb), 8, 8))
    ys = (np.arange(8) * 4) // 8
    assert (big == rgb[ys][:, ys]).all()


def test_decode_rejects_compressed_formats():
    with pytest.raises(ValueError):
        multimodal.decode_image(b"\x89PNG\r\n\x1a\n" + b"\x00" * 64)


def test_minhash_identical_docs_collide(spark):
    text = "a b c d e f g h i j"
    docs = spark.createDataFrame(
        [(1, text), (2, text), (3, "z y x w v u t s r q")],
        ["doc_id", "text"])
    mh = dedup.minhash_table(docs)
    mh_cols = [f"mh{i}" for i in range(dedup.N_HASHES)]
    sig = {r.doc_id: tuple(r[c] for c in mh_cols) for r in mh.collect()}
    assert sig[1] == sig[2]                 # identical text, identical sig
    assert sig[1] != sig[3]
    assert len(sig[1]) == dedup.N_HASHES
    assert all(0 <= v < dedup.P for v in sig[1] + sig[3])
    bands = {r.doc_id: tuple(r.b) for r in
             mh.select("doc_id",
                       F.array(*dedup.band_key_exprs()).alias("b"))
             .collect()}
    assert bands[1] == bands[2]
    assert bands[1] != bands[3]
    assert len(bands[1]) == dedup.N_BANDS


def test_lsh_bucket_matches_python_reference(spark):
    emb = [0.5] * 16 + [-0.25] * 48
    df = spark.createDataFrame([(1, emb)], ["vec_id", "embedding"])
    got = df.select(
        similarity.bucket_of("embedding").alias("b")).collect()[0].b

    expected = 0
    for p, row in enumerate(similarity.PLANES):
        if sum(c * x for c, x in zip(row, emb)) >= 0:
            expected |= 1 << p
    assert got == expected


def test_planes_are_md5_deterministic():
    h = int(hashlib.md5(b"0,0").hexdigest()[:15], 16)
    assert similarity.PLANES[0][0] == (h % 2001 - 1000) / 1000.0
    assert all(len(r) == similarity.DIM for r in similarity.PLANES)
    flat = [c for row in similarity.PLANES for c in row]
    assert all(-1.0 <= c <= 1.0 for c in flat)


def test_frame_sampler_matches_python(spark):
    text = "x" * 300          # 5 frames of 64 → sampled idx 0 and 4
    docs = spark.createDataFrame([(7, text)], ["doc_id", "text"])
    media = multimodal.attach_media(docs)
    rows = (media.select("media_id", "content")
            .mapInPandas(multimodal.make_frame_sampler(),
                         schema=multimodal.FRAME_SCHEMA)
            .collect())
    got = {(r.media_id, r.frame_idx): r.frame_md5 for r in rows}
    expect = {(7, i): hashlib.md5(f).hexdigest()
              for i, f in multimodal.sample_frames(text.encode())}
    assert got == expect
    assert set(got) == {(7, 0), (7, 4)}
    assert hashlib.md5(text.encode()[:64]).hexdigest() == got[(7, 0)]


def test_asof_join_semantics(spark):
    from etl_cloud_batch_processing_spark.plans import temporal  # noqa: F401
    from etl_cloud_batch_processing_spark.plans.registry import REGISTRY
    import datetime as dt
    # Constructed case: event before any order → NULL; on the order
    # date → that order (inclusive >=); after two orders → latest one.
    sf = "/root/testdata/sf0.001"
    out = REGISTRY["asof_latest_order_per_event"].builder(spark, sf)
    events = spark.read.parquet(f"{sf}/events.parquet")
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    ev = {r.event_id: r for r in out.collect()}
    # cross-check 20 events against a brute-force python resolution
    odates = [(r.o_custkey, r.o_orderdate.date(), r.o_orderkey)
              for r in orders.collect()]
    import collections
    by_cust = collections.defaultdict(list)
    for ck, d, ok in odates:
        by_cust[ck].append((d, ok))
    checked = 0
    for r in events.limit(200).collect():
        e = ev[r.event_id]
        ts = r.ts
        if isinstance(ts, dt.datetime):       # fixture ts is TIMESTAMP
            d = ts.date()
        else:                                  # older fixtures: epoch-ns int
            d = dt.datetime.utcfromtimestamp(ts // 10**9).date()
        cands = [(cd, ok) for cd, ok in by_cust.get(r.user_id, [])
                 if cd <= d]
        if not cands:
            assert e.asof_orderkey is None
        else:
            best_date = max(cd for cd, _ in cands)
            expect = max(ok for cd, ok in cands if cd == best_date)
            assert e.asof_orderkey == expect
        checked += 1
    assert checked == 200


def test_ivf_ann_recall_against_exact(spark):
    """IVF with nprobe=2 should recover most of the exact top-5."""
    from etl_cloud_batch_processing_spark.plans.registry import REGISTRY
    sf = "/root/testdata/sf0.001"
    exact = REGISTRY["knn_cosine_topk"].builder(spark, sf).collect()
    approx = REGISTRY["ivf_ann_topk"].builder(spark, sf).collect()
    ex = {(r.query_id, r.vec_id) for r in exact if r.rnk <= 5}
    ap = {(r.query_id, r.vec_id) for r in approx}
    assert len(ap) == 25                      # 5 queries × top-5
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.4, f"IVF recall collapsed: {recall}"


def test_salted_join_equals_plain_join(spark):
    from etl_cloud_batch_processing_spark.operators import skew
    sf = "/root/testdata/sf0.001"
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    cust = spark.read.parquet(f"{sf}/customer.parquet")
    plain = orders.join(cust.withColumnRenamed("c_custkey", "o_custkey"),
                        "o_custkey").select("o_orderkey", "c_name")
    salted = skew.salted_join(
        orders, cust.withColumnRenamed("c_custkey", "o_custkey"),
        on="o_custkey").select("o_orderkey", "c_name")
    assert sorted(map(tuple, plain.collect())) == \
        sorted(map(tuple, salted.collect()))


def test_salted_agg_equals_plain_agg(spark):
    from etl_cloud_batch_processing_spark.operators import skew
    sf = "/root/testdata/sf0.001"
    events = spark.read.parquet(f"{sf}/events.parquet")
    plain = (events.groupBy("event_type")
             .agg(F.count(F.lit(1)).alias("n"))
             .collect())
    salted = skew.salted_agg(
        events, ["event_type"],
        partial_aggs=[F.count(F.lit(1)).alias("pn")],
        final_aggs=[F.sum("pn").alias("n")]).collect()
    assert {(r.event_type, r.n) for r in plain} == \
        {(r.event_type, r.n) for r in salted}


def test_stateful_running_totals_equal_batch(spark, tmp_path):
    """Two micro-batches through applyInPandasWithState: state carries
    across batches and the final emission equals the whole-input aggregate."""
    import pandas as pd
    from etl_cloud_batch_processing_spark.streaming import stateful as S
    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame({"user_id": [1, 1, 2], "value": [1.0, 2.0, 5.0]}
                 ).to_parquet(src / "a.parquet")
    pd.DataFrame({"user_id": [1, 3], "value": [4.0, 7.0]}
                 ).to_parquet(src / "b.parquet")
    stream = (spark.readStream
              .schema("user_id long, value double")
              .option("maxFilesPerTrigger", "1")
              .parquet(str(src)))
    out, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    S.drain_running_totals(S.user_running_totals_stream(stream), out, ckpt)
    log = spark.read.parquet(out)
    final = {r.user_id: (r.n_events, r.total_value)
             for r in log.orderBy("n_events").collect()}  # last wins
    assert final[1] == (3, 7.0)      # state carried across two batches
    assert final[2] == (1, 5.0)
    assert final[3] == (1, 7.0)
    # the log shows user 1 was emitted twice (once per touching batch)
    assert log.filter(F.col("user_id") == 1).count() == 2


def test_clustered_write_gives_disjoint_file_ranges(spark, tmp_path):
    """write_clustered must produce files covering disjoint key ranges —
    the property that makes parquet min/max skipping effective."""
    import pyarrow.parquet as pq
    from etl_cloud_batch_processing_spark.sources.writers import write_clustered

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = str(tmp_path / "clustered")
    write_clustered(ev.select("event_id", "user_id"), out,
                    ["user_id"], num_files=4)

    ranges = []
    for f in sorted((tmp_path / "clustered").glob("*.parquet")):
        meta = pq.ParquetFile(str(f)).metadata
        idx = {meta.schema.column(i).name: i
               for i in range(meta.num_columns)}["user_id"]
        los = [meta.row_group(g).column(idx).statistics.min
               for g in range(meta.num_row_groups)]
        his = [meta.row_group(g).column(idx).statistics.max
               for g in range(meta.num_row_groups)]
        if los:
            ranges.append((min(los), max(his)))
    assert len(ranges) >= 2
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges {(lo1, hi1)} {(lo2, hi2)}"


def test_compact_reduces_files_preserves_rows(spark, tmp_path):
    from etl_cloud_batch_processing_spark.sources.writers import compact

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = str(tmp_path / "shredded")
    ev.repartition(32).write.parquet(out)
    before = len(list((tmp_path / "shredded").glob("*.parquet")))
    checksum = ev.agg(F.sum("event_id"), F.count("*")).collect()[0]

    n_after = compact(spark, out, target_file_bytes=64 * 1024 * 1024)

    after_files = list((tmp_path / "shredded").glob("*.parquet"))
    assert n_after == len(after_files) < before
    back = spark.read.parquet(out)
    assert back.agg(F.sum("event_id"), F.count("*")).collect()[0] == checksum


def test_connected_components_chain_and_islands(spark):
    from etl_cloud_batch_processing_spark.operators.graph import (
        connected_components)

    # chain 1-2-3-4 (diameter > 1 forces multiple propagation rounds),
    # pair 10-11, and edges given in one direction + the swap.
    undirected = [(1, 2), (3, 2), (3, 4), (11, 10)]
    edges = spark.createDataFrame(
        undirected + [(b, a) for a, b in undirected], ["src", "dst"])
    got = {(r.id, r.comp)
           for r in connected_components(edges).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}


def test_zorder_write_tightens_ranges_on_both_keys(spark, tmp_path):
    """write_zordered must give BOTH cluster columns locality: each
    file's min/max span on each key is a fraction of the global span
    (single-key clustering gives this only for its leading key).  Also
    preserves rows exactly and leaves no helper columns behind."""
    import pyarrow.parquet as pq
    from etl_cloud_batch_processing_spark.sources.writers import write_zordered

    ev = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
          .select("event_id", "user_id", "value"))
    out = str(tmp_path / "zorder")
    write_zordered(ev, out, ["user_id", "value"], num_files=16)

    back = spark.read.parquet(out)
    assert back.count() == ev.count()
    assert sorted(back.columns) == sorted(ev.columns)

    spans = {"user_id": [], "value": []}
    glo = {c: (float("inf"), float("-inf")) for c in spans}
    for f in sorted((tmp_path / "zorder").glob("*.parquet")):
        meta = pq.ParquetFile(str(f)).metadata
        idx = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
        for c in spans:
            st = [meta.row_group(g).column(idx[c]).statistics
                  for g in range(meta.num_row_groups)]
            if not st:
                continue
            lo = min(s.min for s in st)
            hi = max(s.max for s in st)
            spans[c].append(float(hi) - float(lo))
            glo[c] = (min(glo[c][0], float(lo)), max(glo[c][1], float(hi)))
    for c in spans:
        assert len(spans[c]) >= 8
        global_span = glo[c][1] - glo[c][0]
        mean_span = sum(spans[c]) / len(spans[c])
        # 16 files z-ordered on 2 keys → ~4 distinct cells per dim;
        # require at least a 2x tightening on BOTH dims
        assert mean_span < 0.5 * global_span, (c, mean_span, global_span)


def test_merge_upsert_all_three_paths(spark):
    """merge_upsert must honor MERGE semantics: matched rows take the
    source value (including explicit source NULL), target-only rows
    are untouched, source-only rows insert (target-only columns NULL)."""
    from etl_cloud_batch_processing_spark.operators.merge import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None)],
        "k int, name string, bal double")
    source = spark.createDataFrame(
        [(2, 99.0), (3, None), (4, 40.0)], "k int, bal double")
    got = {r["k"]: r for r in
           merge_upsert(target, source, keys=["k"]).collect()}
    assert got[1]["bal"] == 10.0 and got[1]["name"] == "a"   # kept
    assert got[2]["bal"] == 99.0                             # updated
    assert got[3]["bal"] is None                             # source NULL wins
    assert got[4]["bal"] == 40.0 and got[4]["name"] is None  # inserted
    assert len(got) == 4


def test_observed_write_reports_metrics_without_second_scan(spark, tmp_path):
    from etl_cloud_batch_processing_spark.sources.writers import (
        observed_write,
    )

    df = spark.createDataFrame(
        [(1, "x"), (2, None), (3, "z"), (4, None)], "id int, s string")
    out = str(tmp_path / "observed")
    metrics = observed_write(df, out, metric_cols=["s"])
    assert metrics == {"rows": 4, "nulls_s": 2}
    assert spark.read.parquet(out).count() == 4


def test_hll_rollup_converges_to_exact(spark):
    """The sketch-union rollup must track the exact per-day distinct
    user count within HLL's error envelope (lgK=12 → ~2% rel. std)."""
    import pyspark.sql.functions as F
    from etl_cloud_batch_processing_spark.plans.registry import REGISTRY

    approx = {r["day"]: r["approx_users"] for r in
              REGISTRY["hll_user_rollup"]
              .builder(spark, "/root/testdata/sf0.01").collect()}
    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    if dict(ev.dtypes).get("ts") == "bigint":  # older epoch-ns fixtures
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    exact = {r["day"]: r["n"] for r in
             (ev.groupBy(F.to_date("ts").alias("day"))
              .agg(F.countDistinct("user_id").alias("n")).collect())}
    assert set(approx) == set(exact)
    for d, e in exact.items():
        assert abs(approx[d] - e) <= max(2, 0.05 * e), (d, approx[d], e)


def test_python_datasource_partitioned_and_deterministic(spark):
    """The custom Python DataSource must (1) expose the declared schema,
    (2) split into the requested number of input partitions, (3) yield
    identical data on re-read (task-retry safety)."""
    from etl_cloud_batch_processing_spark.sources import pysource

    pysource.register(spark)
    df = (spark.read.format("synthetic_events")
          .option("rows", 1000).option("numPartitions", 8).load())
    assert [f.name for f in df.schema.fields] == [
        "event_id", "user_id", "event_type", "value"]
    assert df.rdd.getNumPartitions() == 8
    assert df.count() == 1000
    a = sorted(map(tuple, df.collect()))
    b = sorted(map(tuple, (spark.read.format("synthetic_events")
                           .option("rows", 1000).option("numPartitions", 8)
                           .load()).collect()))
    assert a == b
    assert a[0] == (0, 0, "click", 0.0)
    assert a[97][1] == 0  # user_id cycles mod 97


def test_python_datasource_streams_with_batch_parity(spark, tmp_path):
    """The streaming face of the custom Python DataSource
    (SimpleDataSourceStreamReader): an AvailableNow drain over
    index-offset micro-batches must produce exactly the batch read —
    same rows, no duplicates, no gaps — and a restart from the same
    checkpoint must be a no-op (offsets are committed)."""
    from etl_cloud_batch_processing_spark.sources import pysource

    pysource.register(spark)
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (spark.readStream.format("synthetic_events")
             .option("rows", 300).option("batchRows", 100).load()
             .writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    # The simple reader prefetches one micro-batch per start under
    # AvailableNow; repeated restarts from the SAME checkpoint must
    # resume from the committed offset (no duplicates, no gaps) and
    # converge to the full row range, then go quiescent.
    prev, rounds = -1, 0
    while rounds < 10:
        drain()
        cur = spark.read.parquet(out).count()
        if cur == prev:
            break
        prev, rounds = cur, rounds + 1
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    want = sorted(map(tuple, (spark.read.format("synthetic_events")
                              .option("rows", 300).load()).collect()))
    assert got == want
    assert rounds < 10, "stream never went quiescent"


def test_jaccard_shingle_df_cap_is_wired(spark, monkeypatch):
    """The exact all-pairs Jaccard baseline must honor MAX_SHINGLE_DF:
    with the cap forced to 0 every shingle is excluded and no pair
    survives; with the default cap the fixture result is unaffected
    (the full oracle sweep asserts exact equality separately)."""
    from etl_cloud_batch_processing_spark.plans import llm

    sf = "/root/testdata/sf0.001"
    monkeypatch.setattr(llm, "MAX_SHINGLE_DF", 0)
    assert llm.ngram_jaccard_top_pairs(spark, sf).count() == 0


def test_knn_brute_force_row_cap_raises(spark, monkeypatch):
    from etl_cloud_batch_processing_spark.plans import llm

    sf = "/root/testdata/sf0.001"
    monkeypatch.setattr(llm, "MAX_BRUTE_FORCE_ROWS", 10)
    with pytest.raises(ValueError, match="ivf_ann_topk"):
        llm.knn_cosine_topk(spark, sf)


def test_power_iteration_matches_numpy(spark):
    """The distributed 2-step power iteration must equal the same two
    iterations done densely in numpy (identical init e0, identical
    centering and normalization) to float tolerance."""
    import numpy as np

    from etl_cloud_batch_processing_spark.plans import llm

    sf = "/root/testdata/sf0.001"
    got = {r["dim"]: r["component"]
           for r in llm.embedding_top_pc_power_iter(spark, sf).collect()}
    X = np.array(spark.read.parquet(f"{sf}/embeddings.parquet")
                 .toPandas()["embedding"].tolist(), dtype=np.float64)
    Xc = X - X.mean(axis=0)
    v = np.zeros(X.shape[1]); v[0] = 1.0
    for _ in range(2):
        v = Xc.T @ (Xc @ v) / X.shape[0]
    v = v / np.sqrt((v * v).sum())        # single final normalization
    for d in range(X.shape[1]):
        assert abs(got[d] - round(float(v[d]), 6)) <= 1e-6


def test_pagerank_mass_conserved(spark):
    """Undirected candidate graph has no dangling nodes, so total rank
    mass stays 1 after every iteration."""
    from etl_cloud_batch_processing_spark.plans import llm

    sf = "/root/testdata/sf0.001"
    pr = llm.pagerank_near_dup(spark, sf).toPandas()
    assert len(pr) > 0
    assert abs(pr["pagerank"].sum() - 1.0) < 1e-3
    assert (pr["pagerank"] > 0).all()


def test_minhash_estimate_error_bounded(spark):
    """k=16 MinHash: the mean |estimate − exact| over candidate pairs
    should sit well inside the σ ≈ √(J(1−J)/k) ≤ 0.125 envelope."""
    from etl_cloud_batch_processing_spark.operators import dedup

    sf = "/root/testdata/sf0.001"
    rep = dedup.minhash_estimate_accuracy(spark, sf).toPandas()
    assert len(rep) > 0
    assert rep["abs_err"].mean() < 0.2
    assert (rep["est_jaccard"].between(0, 1)).all()


def test_line_dedup_rewrite_agrees_with_audit(spark):
    """The rewrite and the audit are two views of one dedup decision:
    per-doc n_kept must match, docs with 0 kept spans must be exactly
    the ones absent from the rewrite, and each rewritten text must
    contain exactly n_kept spans' worth of tokens."""
    from etl_cloud_batch_processing_spark.plans import filtering

    sf = "/root/testdata/sf0.001"
    audit = {r["doc_id"]: r for r in
             filtering.line_dedup_spans(spark, sf).collect()}
    rewrite = {r["doc_id"]: r for r in
               filtering.line_dedup_rewrite(spark, sf).collect()}
    assert set(rewrite) == {d for d, r in audit.items() if r["n_kept"] > 0}
    for d, r in rewrite.items():
        assert r["n_kept"] == audit[d]["n_kept"]
        n_toks = len(r["text_dedup"].split(" "))
        # every span has LINE_TOKENS tokens except possibly one tail
        assert n_toks <= r["n_kept"] * filtering.LINE_TOKENS
        assert n_toks > (r["n_kept"] - 1) * (filtering.LINE_TOKENS - 1)


def test_pmi_doc_token_cap_is_wired(spark, monkeypatch):
    """token_pmi_top_pairs must honor MAX_PMI_DOC_TOKENS: cap 0 excludes
    every document, so no pair survives; the default cap leaves the
    fixture result unchanged (full oracle sweep asserts equality)."""
    from etl_cloud_batch_processing_spark.plans import filtering

    sf = "/root/testdata/sf0.001"
    monkeypatch.setattr(filtering, "MAX_PMI_DOC_TOKENS", 0)
    assert filtering.token_pmi_top_pairs(spark, sf).count() == 0


def test_mips_brute_force_row_cap_raises(spark, monkeypatch):
    from etl_cloud_batch_processing_spark.plans import llm

    sf = "/root/testdata/sf0.001"
    monkeypatch.setattr(llm, "MAX_BRUTE_FORCE_ROWS", 10)
    with pytest.raises(ValueError, match="ivf_ann_topk"):
        llm.vector_mips_topk(spark, sf)


def test_mips_top1_matches_numpy(spark):
    """The distributed MIPS top-1 per query must equal a dense numpy
    argmax over the same embeddings (self excluded)."""
    import numpy as np

    from etl_cloud_batch_processing_spark.plans import llm

    sf = "/root/testdata/sf0.001"
    emb = (spark.read.parquet(f"{sf}/embeddings.parquet")
           .orderBy("vec_id").toPandas())
    mat = np.array([np.asarray(v, dtype=np.float64)
                    for v in emb["embedding"]])
    ids = emb["vec_id"].to_numpy()
    got = {r["query_id"]: r["vec_id"]
           for r in llm.vector_mips_topk(spark, sf)
           .filter(F.col("rnk") == 1).collect()}
    for qi in range(5):
        scores = mat @ mat[ids == qi][0]
        scores[ids == qi] = -np.inf
        assert got[qi] == ids[int(np.argmax(scores))]


def test_heaps_law_matches_numpy_polyfit(spark):
    """Per-lang Heaps' beta/K from the regression aggregates must equal
    numpy's least-squares fit over the same per-doc log-log points."""
    import numpy as np

    from etl_cloud_batch_processing_spark.plans import filtering

    sf = "/root/testdata/sf0.001"
    rows = filtering.vocab_growth_heaps_law(spark, sf).collect()
    docs = spark.read.parquet(f"{sf}/documents.parquet").toPandas()
    for r in rows:
        sub = docs[docs["lang"] == r["lang"]]
        toks = sub["text"].str.split(" ")
        x = np.log(toks.str.len().to_numpy(dtype=np.float64))
        y = np.log(toks.apply(lambda t: len(set(t)))
                   .to_numpy(dtype=np.float64))
        beta, logk = np.polyfit(x, y, 1)
        assert abs(r["heaps_beta"] - beta) < 1e-5
        assert abs(r["heaps_k"] - np.exp(logk)) < 1e-4
        assert 0.0 < r["heaps_beta"] < 1.0   # natural-text sanity band


def test_weighted_sample_is_exact_k_and_deterministic(spark):
    from etl_cloud_batch_processing_spark.plans import filtering

    sf = "/root/testdata/sf0.001"
    a = filtering.weighted_sample_exponential(spark, sf).toPandas()
    b = filtering.weighted_sample_exponential(spark, sf).toPandas()
    assert (a.groupby("lang")["doc_id"].count() == 5).all()
    key = lambda d: sorted(map(tuple, d[["lang", "doc_id", "rnk"]]
                               .to_numpy()))
    assert key(a) == key(b)  # no RNG state anywhere — retry-stable


def test_winsorized_mean_within_clamp_band(spark):
    from etl_cloud_batch_processing_spark.plans import analytics

    sf = "/root/testdata/sf0.001"
    for r in analytics.winsorized_value_stats(spark, sf).collect():
        assert r["p05"] <= r["win_mean"] <= r["p95"]
        assert r["win_std"] >= 0.0


def test_value_histogram_partitions_all_events(spark):
    """Bucket counts must partition the event set exactly: every event
    in exactly one bucket, all bucket ids inside [0, 19]."""
    from etl_cloud_batch_processing_spark.plans import analytics

    sf = "/root/testdata/sf0.001"
    h = analytics.value_bucket_histogram(spark, sf).toPandas()
    n_events = spark.read.parquet(f"{sf}/events.parquet").count()
    assert int(h["n"].sum()) == n_events
    assert h["bucket"].between(0, 19).all()


def test_pq_encode_matches_numpy(spark):
    """The distributed PQ encode must equal the same algorithm done
    densely in numpy: identical seeds (16 lowest vec_ids), one Lloyd
    update with 6-decimal codebook rounding, final assignment with
    lowest-cid tiebreak."""
    import numpy as np

    from etl_cloud_batch_processing_spark.operators import similarity as S

    sf = "/root/testdata/sf0.001"
    emb = (spark.read.parquet(f"{sf}/embeddings.parquet")
           .orderBy("vec_id").toPandas())
    mat = np.array([np.asarray(v, dtype=np.float64)
                    for v in emb["embedding"]])
    ids = emb["vec_id"].to_numpy()
    got = {r["vec_id"]: r["codes_csv"]
           for r in S.vector_pq_encode(spark, sf).collect()}

    order = np.argsort(ids)
    mat, ids = mat[order], ids[order]
    for sub in range(S.PQ_SUBS):
        block = mat[:, sub * S.PQ_SUBDIM:(sub + 1) * S.PQ_SUBDIM]
        cb = block[:S.PQ_K].copy()                      # seeds
        d = ((block[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
        a1 = d.argmin(axis=1)                           # ties -> lowest cid
        cb1 = np.array([np.round(block[a1 == c].mean(axis=0), 6)
                        if (a1 == c).any() else cb[c]
                        for c in range(S.PQ_K)])
        present = sorted(set(a1))                       # empty codes vanish
        d2 = ((block[:, None, :] - cb1[None, present, :]) ** 2).sum(axis=2)
        a2 = np.array(present)[d2.argmin(axis=1)]
        for i, vid in enumerate(ids):
            assert int(got[vid].split(",")[sub]) == a2[i], (sub, vid)


def test_pq_adc_ranks_monotonic_and_recall_floor(spark):
    """ADC invariants: per-query adc_dist is non-decreasing in rank,
    distances non-negative, and recall@10 against the exact numpy
    top-10 clears a floor (measured 0.38 mean on this fixture with
    16 codes/subspace; 0.25 guards against a silently broken encode
    without flaking on codebook-sensitive ties)."""
    import numpy as np

    from etl_cloud_batch_processing_spark.operators import similarity as S

    sf = "/root/testdata/sf0.001"
    emb = (spark.read.parquet(f"{sf}/embeddings.parquet")
           .orderBy("vec_id").toPandas())
    mat = np.array([np.asarray(v, dtype=np.float64)
                    for v in emb["embedding"]])
    ids = emb["vec_id"].to_numpy()
    adc = S.vector_pq_adc_topk(spark, sf).toPandas()
    recalls = []
    for qi in range(5):
        sub = adc[adc.query_id == qi].sort_values("rnk")
        assert (sub["adc_dist"].diff().dropna() >= 0).all()
        assert (sub["adc_dist"] >= 0).all()
        d = ((mat - mat[ids == qi][0]) ** 2).sum(axis=1)
        d[ids == qi] = np.inf
        exact10 = set(ids[np.argsort(d, kind="stable")[:10]])
        recalls.append(len(exact10 & set(sub["vec_id"])) / 10)
    assert sum(recalls) / len(recalls) >= 0.25, recalls


def test_pq_maintained_codebook_encode_equals_inline(spark, tmp_path):
    """The persisted-codebook encode path (train_pq_codebook +
    pq_encode_with_codebook — the scheduled-maintenance form) must
    produce exactly the self-contained vector_pq_encode query's output:
    same codes, same reconstruction error."""
    from etl_cloud_batch_processing_spark.operators import similarity as S

    sf = "/root/testdata/sf0.001"
    cb = S.train_pq_codebook(spark, sf, str(tmp_path / "pq_codebook"))
    via_table = (S.pq_encode_with_codebook(spark, sf, cb)
                 .orderBy("vec_id").collect())
    inline = S.vector_pq_encode(spark, sf).orderBy("vec_id").collect()
    assert [tuple(r) for r in via_table] == [tuple(r) for r in inline]


def test_y4m_roundtrip_and_malformed_inputs():
    """decode_y4m must invert encode_y4m exactly and reject malformed
    streams (wrong magic, missing geometry, unsupported chroma, broken
    FRAME marker, truncated frame) with ValueError — the same
    error-path contract as the image decoder."""
    import numpy as np
    import pytest as _pytest

    from etl_cloud_batch_processing_spark.operators.multimodal import (
        decode_y4m,
        encode_y4m,
    )

    rng = np.random.default_rng(7)
    frames = [rng.integers(0, 256, size=(4, 8), dtype=np.uint8)
              for _ in range(3)]
    stream = encode_y4m(frames)
    w, h, got = decode_y4m(stream)
    assert (w, h, len(got)) == (8, 4, 3)
    for a, b in zip(frames, got):
        assert (a == b).all()

    with _pytest.raises(ValueError, match="not a YUV4MPEG2"):
        decode_y4m(b"RIFF....")
    with _pytest.raises(ValueError, match="missing W/H"):
        decode_y4m(b"YUV4MPEG2 F25:1\nFRAME\n")
    with _pytest.raises(ValueError, match="unsupported chroma"):
        decode_y4m(b"YUV4MPEG2 W8 H4 C444\nFRAME\n" + bytes(96))
    with _pytest.raises(ValueError, match="FRAME marker"):
        decode_y4m(stream[:len(stream) - 48 - 6] + b"JUNK!\n"
                   + stream[len(stream) - 48:])
    with _pytest.raises(ValueError, match="truncated"):
        decode_y4m(stream[:-5])
    # unterminated FRAME header: marker present but no trailing newline
    # ever arrives — must raise, not spin forever re-reading offset 0.
    with _pytest.raises(ValueError, match="unterminated FRAME"):
        decode_y4m(b"YUV4MPEG2 W8 H4 C420jpeg\nFRAME")
    with _pytest.raises(ValueError, match="unterminated FRAME"):
        decode_y4m(stream + b"FRAME")


def test_incremental_band_index_probe_equals_batch(spark, tmp_path):
    """Split the corpus into an indexed 'old' half and a 'new' batch:
    probing the persisted band index with the batch must surface
    exactly the (new, old) collision pairs the full-batch LSH band join
    produces — and appending the batch then makes the index answer for
    the whole corpus."""
    from etl_cloud_batch_processing_spark.operators import dedup as D

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    cut = 400
    old = docs.filter(F.col("doc_id") < cut)
    new = docs.filter(F.col("doc_id") >= cut)

    idx = D.build_minhash_band_index(old, str(tmp_path / "band_index"))
    probed = {(r["new_doc"], r["indexed_doc"])
              for r in D.probe_band_index(spark, new, idx).collect()}

    full = D.band_table(docs)
    a, b = full.alias("a"), full.alias("b")
    batch_pairs = {(r["na"], r["oa"]) for r in
                   (a.join(b, (F.col("a.band") == F.col("b.band"))
                           & (F.col("a.band_key") == F.col("b.band_key"))
                           & (F.col("a.doc_id") >= cut)
                           & (F.col("b.doc_id") < cut))
                    .select(F.col("a.doc_id").alias("na"),
                            F.col("b.doc_id").alias("oa"))
                    .distinct().collect())}
    assert probed == batch_pairs and probed  # non-empty on the fixture

    D.append_to_band_index(new, idx, batch_id="b1")
    n_idx = spark.read.parquet(idx).select("doc_id").distinct().count()
    assert n_idx == docs.filter(
        F.size(F.split("text", " ")) >= 3).count()

    # retry safety: re-running the same batch overwrites its own
    # ingest partition, so row counts (not just distinct ids) hold.
    n_rows = spark.read.parquet(idx).count()
    D.append_to_band_index(new, idx, batch_id="b1")
    assert spark.read.parquet(idx).count() == n_rows


def test_band_index_steady_probe_matches_from_scratch(spark, sf_dir):
    """The registered steady-state query (memoized base index + O(batch)
    append + probe) must produce exactly the collision pairs+counts the
    from-scratch band join over the whole corpus produces for the same
    batch split — and re-running it must be idempotent (the b1 append
    overwrites its own ingest partition, so counts don't inflate)."""
    from etl_cloud_batch_processing_spark.operators import dedup as D

    got = {(r["new_doc"], r["indexed_doc"]): r["n_band_collisions"]
           for r in D.band_index_steady_probe(spark, sf_dir).collect()}

    full = D.band_table(D._par_docs(spark, sf_dir))
    a, b = full.alias("a"), full.alias("b")
    want = {(r["na"], r["ia"]): r["n"] for r in
            (a.join(b, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.band_key") == F.col("b.band_key"))
                    & (F.col("a.doc_id") != F.col("b.doc_id"))
                    & (F.col("a.doc_id") % D.BAND_BATCH_MOD
                       == D.BAND_BATCH_REM))
             .groupBy(F.col("a.doc_id").alias("na"),
                      F.col("b.doc_id").alias("ia"))
             .agg(F.count(F.lit(1)).alias("n")).collect())}
    assert got == want

    # idempotency: a second run re-appends b1 into the same ingest
    # partition — identical result, no doubled collision counts.
    again = {(r["new_doc"], r["indexed_doc"]): r["n_band_collisions"]
             for r in D.band_index_steady_probe(spark, sf_dir).collect()}
    assert again == got


def test_budget_allocation_waterfilling_invariants(spark):
    """The waterfilling plan must (1) spend exactly the budget,
    (2) never allocate beyond a source's availability, (3) give every
    saturated source keep_rate 1.0, and (4) give all unsaturated
    sources allocations proportional to their weights (shared λ)."""
    from etl_cloud_batch_processing_spark.plans import filtering as FL

    sf = "/root/testdata/sf0.001"
    rows = FL.weighted_token_budget_allocation(spark, sf).collect()
    total_avail = sum(r["avail_tokens"] for r in rows)
    spent = sum(r["allocated_tokens"] for r in rows)
    assert abs(spent - FL.BUDGET_FRACTION * total_avail) < 1e-3
    lams = []
    for r in rows:
        assert 0 < r["keep_rate"] <= 1.0 + 1e-9
        assert r["allocated_tokens"] <= r["avail_tokens"] + 1e-6
        if r["saturated"]:
            assert r["keep_rate"] == 1.0
        else:
            lams.append(r["allocated_tokens"] / r["weight"])
    if lams:   # shared water level across all unsaturated sources
        assert max(lams) - min(lams) < 1e-2


def test_dhash_decoder_bits_and_dup_invariance(spark):
    """The dHash must set bit (r,c) exactly when grid[r,c] < grid[r,c+1]
    after the real PGM round trip, and exact-duplicate payloads must
    land at Hamming distance 0 (so the band join can never miss them)."""
    import numpy as np
    import pandas as pd

    from etl_cloud_batch_processing_spark.operators.multimodal import (
        DHASH_SIDE,
        make_dhash_decoder,
    )

    fn = make_dhash_decoder()
    # ramp grid: every adjacent comparison is < ⇒ all 56 bits set
    ramp = bytes(range(DHASH_SIDE * DHASH_SIDE))
    flat = bytes([7] * (DHASH_SIDE * DHASH_SIDE))
    pdf = pd.DataFrame({"media_id": [1, 2, 3],
                        "content": [ramp, flat, ramp]})
    out = pd.concat(list(fn(iter([pdf]))))
    h = dict(zip(out["media_id"], out["dhash"]))
    assert h[1] == (1 << 56) - 1          # strictly increasing rows
    assert h[2] == 0                      # constant grid: no bit set
    assert h[1] == h[3]                   # identical payload ⇒ equal hash
    # short payload pads with spaces deterministically
    short = pd.DataFrame({"media_id": [9], "content": [b"abc"]})
    again = pd.concat(list(fn(iter([short, short.copy()]))))
    assert len(set(again["dhash"])) == 1


def test_unseen_ngram_novelty_invariants(spark):
    """Every shingle's first occurrence is credited exactly once: the
    sum of n_novel over docs equals the number of distinct shingle
    hashes in the corpus, and novelty stays in [0, 1]."""
    from etl_cloud_batch_processing_spark.operators.dedup import (
        hashed_shingles,
    )
    from etl_cloud_batch_processing_spark.plans.llm import (
        unseen_ngram_novelty,
    )

    sf = "/root/testdata/sf0.001"
    rows = unseen_ngram_novelty(spark, sf).collect()
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    n_distinct = hashed_shingles(docs).select("h").distinct().count()
    assert sum(r["n_novel"] for r in rows) == n_distinct
    assert all(0.0 <= r["novelty"] <= 1.0 for r in rows)
    assert all(r["n_novel"] <= r["n_shingles"] for r in rows)


def test_sq8_fidelity_matches_numpy(spark):
    """The SQ8 report must equal a direct numpy implementation of the
    per-dim [min, max] grid quantizer: floor(x*255 + 0.5) codes,
    dequantize, L2 reconstruction error and cosine agreement."""
    import numpy as np

    from etl_cloud_batch_processing_spark.operators import similarity as S

    sf = "/root/testdata/sf0.001"
    emb = np.array(
        [r.embedding for r in
         spark.read.parquet(f"{sf}/embeddings.parquet")
         .orderBy("vec_id").collect()], dtype=np.float64)
    ids = [r.vec_id for r in
           spark.read.parquet(f"{sf}/embeddings.parquet")
           .orderBy("vec_id").select("vec_id").collect()]
    lo = emb.min(axis=0)
    rng = np.maximum(emb.max(axis=0) - lo, 1e-12)
    deq = lo + np.floor((emb - lo) / rng * 255 + 0.5) / 255.0 * rng
    recon = ((emb - deq) ** 2).sum(axis=1)
    cos = (emb * deq).sum(axis=1) / np.sqrt(
        (emb ** 2).sum(axis=1) * (deq ** 2).sum(axis=1))
    got = {r.vec_id: r for r in
           S.vector_sq8_fidelity(spark, sf).collect()}
    for i, vid in enumerate(ids):
        assert got[vid].recon_err == pytest.approx(recon[i], abs=2e-6)
        assert got[vid].cos_agreement == pytest.approx(cos[i], abs=2e-6)
    # quantization is lossy but close: cosine agreement stays near 1
    assert min(r.cos_agreement for r in got.values()) > 0.999


def test_quality_canonical_picks_best_member(spark, sf_dir):
    """The kept doc is the (quality desc, doc_id asc)-argmax of its
    cluster; gain over the cluster mean is non-negative; every
    reported cluster really has >= 2 members."""
    from etl_cloud_batch_processing_spark.operators.dedup import (
        near_dup_clusters,
        near_dup_quality_canonical,
    )
    from etl_cloud_batch_processing_spark.functions import text as T
    from pyspark.sql import functions as F

    labeled = {r["doc_id"]: r["cluster_id"]
               for r in near_dup_clusters(spark, sf_dir).collect()}
    q = {r["doc_id"]: r["q"]
         for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
         .select("doc_id", F.round(T.quality_score("text"), 6)
                 .alias("q")).collect()}
    picks = near_dup_quality_canonical(spark, sf_dir).collect()
    for r in picks:
        members = [d for d, c in labeled.items() if c == r["cluster_id"]]
        assert len(members) == r["n_members"] >= 2
        assert r["n_dropped"] == r["n_members"] - 1
        best = sorted(members, key=lambda d: (-q[d], d))[0]
        assert r["kept_doc_id"] == best
        assert r["quality_gain_vs_mean"] >= 0.0


def test_delete_where_rewrites_only_affected_files(spark, tmp_path):
    """Targeted delete on a clustered layout: only the files whose
    footer ranges contain the subject are rewritten, every other file
    is bit-untouched (same name, same bytes), the subject's rows are
    gone, and everyone else's rows survive exactly."""
    from etl_cloud_batch_processing_spark.sources.writers import (
        delete_where, write_clustered)

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = str(tmp_path / "gdpr")
    write_clustered(ev, out, ["user_id"], num_files=8)
    before = {f.name: f.stat().st_size
              for f in (tmp_path / "gdpr").glob("*.parquet")}
    keep_sum = (ev.filter(F.col("user_id") != 3)
                .agg(F.sum("event_id"), F.count("*")).collect()[0])
    n_subject = ev.filter(F.col("user_id") == 3).count()
    assert n_subject > 0

    stats = delete_where(spark, out, F.col("user_id") == 3)

    assert stats["rows_deleted"] == n_subject
    assert 0 < stats["files_affected"] < stats["files_total"] == len(before)
    back = spark.read.parquet(out)
    assert back.filter(F.col("user_id") == 3).count() == 0
    assert back.agg(F.sum("event_id"), F.count("*")).collect()[0] == keep_sum
    after = {f.name: f.stat().st_size
             for f in (tmp_path / "gdpr").glob("*.parquet")}
    untouched = {n: s for n, s in before.items() if n in after}
    # every surviving original is byte-identical; the rewritten ones
    # are gone from the listing (replaced by new part files)
    assert len(before) - len(untouched) == stats["files_affected"]
    for n in untouched:
        assert after[n] == before[n]
    # no helper dirs left behind
    assert not (tmp_path / "gdpr" / ".delete_tmp").exists()
    assert not (tmp_path / "gdpr" / ".delete_trash").exists()


def test_delete_where_is_idempotent_and_noop_safe(spark, tmp_path):
    from etl_cloud_batch_processing_spark.sources.writers import (
        delete_where, write_clustered)

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = str(tmp_path / "gdpr2")
    write_clustered(ev, out, ["user_id"], num_files=4)
    delete_where(spark, out, F.col("user_id") == 5)
    again = delete_where(spark, out, F.col("user_id") == 5)
    assert again == {"files_affected": 0,
                     "files_total": again["files_total"],
                     "rows_deleted": 0, "rows_rewritten": 0}
    # deleting a value that never existed is also a clean no-op
    none = delete_where(spark, out, F.col("user_id") == 10**9)
    assert none["files_affected"] == none["rows_deleted"] == 0


def test_2core_peel_is_at_fixpoint_and_sound(spark, sf_dir):
    """The unrolled 3-round peel must have converged on the fixtures
    (one more round changes nothing), every survivor must have >= 2
    neighbours INSIDE the core (the 2-core definition), and pendant
    (degree-1) nodes must always be peeled."""
    from etl_cloud_batch_processing_spark.operators.dedup import (
        dup_graph_2core)

    rows = dup_graph_2core(spark, sf_dir).collect()
    core = {r["doc_id"] for r in rows if r["in_2core"]}
    deg = {r["doc_id"]: r["degree"] for r in rows}
    assert all(deg[n] >= 2 for n in core)
    assert all(not r["in_2core"] for r in rows if r["degree"] < 2)

    # rebuild the undirected edge set and check core-internal degrees +
    # fixpoint (peeling the core once more removes nobody)
    from etl_cloud_batch_processing_spark.operators.dedup import (
        CLUSTER_JACCARD, scored_pairs)
    from pyspark.sql import functions as SF
    pairs = (scored_pairs(spark, sf_dir)
             .filter(SF.col("jaccard") >= CLUSTER_JACCARD)
             .select("doc_a", "doc_b").collect())
    adj: dict = {}
    for p in pairs:
        adj.setdefault(p["doc_a"], set()).add(p["doc_b"])
        adj.setdefault(p["doc_b"], set()).add(p["doc_a"])
    assert core, "fixtures must exercise a non-empty 2-core"
    for n in core:
        assert len(adj[n] & core) >= 2


def test_local_hour_profile_shifts_date_boundaries(spark, sf_dir):
    """Kolkata (+5:30) must shift some events across the local date
    boundary relative to UTC, and every zone's hour histogram must
    cover the same total events."""
    from etl_cloud_batch_processing_spark import plans
    rows = (plans.REGISTRY["events_local_hour_profile"]
            .builder(spark, sf_dir).collect())
    by_tz: dict[str, list] = {}
    for r in rows:
        by_tz.setdefault(r["tz"], []).append(r)
    assert len(by_tz) == 4
    totals = {tz: sum(r["n_events"] for r in rs) for tz, rs in by_tz.items()}
    assert len(set(totals.values())) == 1  # same events, every zone
    ev = plans.registry.table(spark, sf_dir, "events")
    utc_days = ev.selectExpr("cast(ts as date) d").distinct().count()
    tokyo_days = ev.selectExpr(
        "cast(convert_timezone('UTC', 'Asia/Tokyo', ts) as date) d"
    ).distinct().count()
    # a +9 zone pushes late-UTC events into a day UTC never saw
    assert tokyo_days >= utc_days
    # and the hour-bucket day counts never exceed the zone's day span
    assert max(r["n_local_days"] for r in by_tz["Asia/Tokyo"]) <= tokyo_days
    for r in rows:
        assert 0 <= r["local_hour"] <= 23
