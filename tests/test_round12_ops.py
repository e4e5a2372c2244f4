"""Round-12 pins.

Part 1 — round-11 advice fixes the oracle hashes cannot see:

* ``apply_feed_to_grouped_sum`` against an EMPTY state must APPLY the
  feed (the NULL max(__applied_v) watermark coalesces to −1) instead of
  silently discarding every insert, and a feed STRICTLY OLDER than the
  watermark must raise (unapplied out-of-order feed = data loss), while
  replaying the exact applied version stays a no-op;
* the protobuf shim must never trust a pre-existing dir this uid does
  not own (squatter fallback builds a private 0700 shim instead);
* the per-process band/IVF index token dirs must register their own
  atexit removal and sweep stale crashed-process siblings.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

_STATE_SCHEMA = ("grp BIGINT, n_rows BIGINT, sum_cents BIGINT, "
                 "__applied_v BIGINT")
_FEED_SCHEMA = ("event_id BIGINT, change_type STRING, "
                "old_cents BIGINT, new_cents BIGINT")


def _feed(spark, rows):
    return spark.createDataFrame(rows, _FEED_SCHEMA)


def test_feed_apply_to_empty_state_applies(spark):
    """Initial load: a zero-row state's watermark is NULL; the coalesced
    −1 watermark must let the first feed through instead of silently
    discarding it (round-11 advice — inserts to an empty aggregate
    state were lost with no error)."""
    from etl_cloud_batch_processing_spark.plans.evolution import (
        apply_feed_to_grouped_sum,
    )

    state = spark.createDataFrame([], _STATE_SCHEMA)
    feed = _feed(spark, [(7, "insert", None, 100),
                         (14, "insert", None, 250),
                         (8, "insert", None, 30)])
    got = sorted(tuple(r) for r in
                 apply_feed_to_grouped_sum(state, feed, 1).collect())
    assert got == [(0, 2, 350, 1), (1, 1, 30, 1)]


def test_feed_apply_older_feed_raises(spark):
    """A feed version STRICTLY BELOW the applied watermark is not a
    replay — skipping it silently would lose its changes, so the gate
    raises at execution time."""
    from etl_cloud_batch_processing_spark.plans.evolution import (
        apply_feed_to_grouped_sum,
    )

    state = spark.createDataFrame([(0, 2, 350, 5)], _STATE_SCHEMA)
    feed = _feed(spark, [(7, "insert", None, 100)])
    with pytest.raises(Exception, match="OLDER than the applied"):
        apply_feed_to_grouped_sum(state, feed, 3).collect()
    # the exact applied version replayed is still a silent no-op
    same = apply_feed_to_grouped_sum(state, feed, 5)
    assert [tuple(r) for r in same.collect()] == [(0, 2, 350, 5)]


def test_feed_apply_after_full_delete_then_insert(spark):
    """The empty-state edge the advice singled out: a feed that deletes
    every row empties the state (n_rows > 0 filter drops all groups);
    the NEXT feed's inserts must still apply against that empty state."""
    from etl_cloud_batch_processing_spark.plans.evolution import (
        apply_feed_to_grouped_sum,
    )

    state = spark.createDataFrame([(0, 1, 100, 1)], _STATE_SCHEMA)
    wipe = _feed(spark, [(7, "delete", 100, None)])
    emptied = apply_feed_to_grouped_sum(state, wipe, 2)
    assert emptied.count() == 0
    refill = _feed(spark, [(14, "insert", None, 40)])
    got = [tuple(r) for r in
           apply_feed_to_grouped_sum(emptied, refill, 3).collect()]
    assert got == [(0, 1, 40, 3)]


def test_protobuf_shim_rejects_squatted_dir(tmp_path):
    """A pre-existing shim dir NOT trustable by this uid (here:
    world-writable stands in for foreign-owned — the same _owned_by_me
    gate rejects both) must not be returned; the builder falls back to
    a fresh private dir it owns."""
    from etl_cloud_batch_processing_spark.streaming import stateful as S

    vendor = str(tmp_path / "vendor")
    os.makedirs(os.path.join(vendor, "google", "protobuf"))
    squat = str(tmp_path / "shim")
    os.makedirs(os.path.join(squat, "google", "protobuf"))
    os.chmod(squat, 0o777)
    assert not S._owned_by_me(squat)
    got = S.build_protobuf_shim(vendor=vendor, shim=squat)
    assert got is not None and got != squat
    assert S._owned_by_me(got)
    assert os.path.isdir(os.path.join(got, "google", "protobuf"))
    import shutil

    shutil.rmtree(got, ignore_errors=True)


def test_protobuf_shim_reuses_own_dir(tmp_path):
    """An absent shim is built at the requested path (0700, owned) and
    a second call reuses it."""
    from etl_cloud_batch_processing_spark.streaming import stateful as S

    vendor = str(tmp_path / "vendor")
    os.makedirs(os.path.join(vendor, "google", "protobuf"))
    shim = str(tmp_path / "fresh_shim")
    got = S.build_protobuf_shim(vendor=vendor, shim=shim)
    assert got == shim and S._owned_by_me(shim)
    assert S.build_protobuf_shim(vendor=vendor, shim=shim) == shim


# ---------------------------------------------------------------------------
# Atomic REPLACE (round-11 verdict ask #1): delete + insert land as ONE
# manifest version flip — no intermediate deletes-applied-inserts-missing
# version can ever be observed.
# ---------------------------------------------------------------------------

def _kv(spark, rows):
    return spark.createDataFrame(rows, "k BIGINT, v BIGINT")


def test_replace_manifested_is_one_commit(spark, tmp_path):
    """An UPDATE through replace_manifested (delete old rows + insert
    their replacements) advances the manifest by EXACTLY ONE version:
    a reader pinned at any existing version sees either the complete
    old or the complete new table — the doc-vanishes-from-search
    window of the two-commit apply cannot exist because the
    intermediate version is never created."""
    from etl_cloud_batch_processing_spark.sources import manifest as M

    path = str(tmp_path / "t")
    M.publish_manifested(_kv(spark, [(1, 10), (2, 20), (3, 30)]),
                         path, "base")
    _, hpath, fs = M._fs(spark, path)
    assert M._versions(hpath, fs, path) == [1]

    rep = M.replace_manifested(
        spark, path, F.col("k") == 2,
        _kv(spark, [(2, 99), (4, 40)]), "b1")
    # exactly one new version, no gap, no intermediate
    assert M._versions(hpath, fs, path) == [1, 2]
    assert rep["version"] == 2
    assert rep["rows_deleted"] == 1 and rep["rows_inserted"] == 2

    def snap(v):
        return sorted(tuple(r) for r in
                      (M.read_manifest(spark, path, version=v)
                       .select("k", "v").collect()))

    assert snap(1) == [(1, 10), (2, 20), (3, 30)]   # complete OLD
    assert snap(2) == [(1, 10), (2, 99), (3, 30), (4, 40)]  # complete NEW
    # key 2 is present in EVERY readable version — never vanished
    for v in (1, 2):
        assert any(k == 2 for k, _ in snap(v))


def test_replace_manifested_reapply_is_idempotent(spark, tmp_path):
    """Re-applying the same feed batch (same run_date, same delete
    predicate) replaces its own earlier insert run instead of
    doubling it — at-least-once feed delivery is safe."""
    from etl_cloud_batch_processing_spark.sources import manifest as M

    path = str(tmp_path / "t")
    M.publish_manifested(_kv(spark, [(1, 10), (2, 20)]), path, "base")
    for _ in range(2):
        M.replace_manifested(spark, path, F.col("k") == 2,
                             _kv(spark, [(2, 99)]), "b1")
    got = sorted(tuple(r) for r in
                 (M.read_manifest(spark, path)
                  .select("k", "v").collect()))
    assert got == [(1, 10), (2, 99)]


def test_replace_manifested_zero_hit_delete_still_inserts(spark, tmp_path):
    """A feed with no matching deletes degrades to a pure insert run in
    the same single commit (files_affected == 0, one version flip)."""
    from etl_cloud_batch_processing_spark.sources import manifest as M

    path = str(tmp_path / "t")
    M.publish_manifested(_kv(spark, [(1, 10)]), path, "base")
    rep = M.replace_manifested(spark, path, F.col("k") == 777,
                               _kv(spark, [(5, 50)]), "b1")
    assert rep["files_affected"] == 0 and rep["version"] == 2
    got = sorted(tuple(r) for r in
                 (M.read_manifest(spark, path)
                  .select("k", "v").collect()))
    assert got == [(1, 10), (5, 50)]


# ---------------------------------------------------------------------------
# MERGE INTO (keyed upsert) on manifested tables.
# ---------------------------------------------------------------------------

def test_merge_manifested_upsert_semantics(spark, tmp_path):
    """Matched keys take the source's values, unmatched table rows
    survive, new keys insert, files without matches are byte-untouched,
    and the whole merge is ONE commit."""
    from etl_cloud_batch_processing_spark.sources import manifest as M

    path = str(tmp_path / "t")
    (spark.createDataFrame([(1, 10), (2, 20)], "k BIGINT, v BIGINT")
     .coalesce(1).write.mode("overwrite").parquet(path))
    (spark.createDataFrame([(3, 30), (4, 40)], "k BIGINT, v BIGINT")
     .coalesce(1).write.mode("append").parquet(path))
    M.init_manifest(spark, path)
    pre = {f: b for f, b in _file_bytes(path).items()
           if not f.startswith(".data/")}
    rep = M.merge_manifested(
        spark, path,
        spark.createDataFrame([(2, 99), (5, 50)], "k BIGINT, v BIGINT"),
        "k")
    assert rep["version"] == 2                      # ONE commit
    assert rep["rows_updated"] == 1 and rep["rows_inserted"] == 1
    got = sorted((r["k"], r["v"]) for r in
                 M.read_manifest(spark, path).collect())
    assert got == [(1, 10), (2, 99), (3, 30), (4, 40), (5, 50)]
    # the file holding ONLY unmatched keys (3, 4) is byte-untouched
    post = {f: b for f, b in _file_bytes(path).items()
            if not f.startswith(".data/")}
    untouched = [f for f in pre if pre[f] == post.get(f)]
    assert len(untouched) >= 1
    # pre-merge snapshot intact (time travel across the merge)
    assert M.read_manifest(spark, path, version=1).count() == 4


def test_merge_manifested_is_idempotent(spark, tmp_path):
    from etl_cloud_batch_processing_spark.sources import manifest as M

    path = str(tmp_path / "t")
    M.publish_manifested(_kv(spark, [(1, 10), (2, 20)]), path, "base")
    src = spark.createDataFrame([(2, 99), (5, 50)], "k BIGINT, v BIGINT")
    M.merge_manifested(spark, path, src, "k", "m1")
    once = sorted(tuple(r) for r in
                  M.read_manifest(spark, path).select("k", "v").collect())
    M.merge_manifested(spark, path, src, "k", "m1")
    twice = sorted(tuple(r) for r in
                   M.read_manifest(spark, path).select("k", "v").collect())
    assert once == twice == [(1, 10), (2, 99), (5, 50)]


# ---------------------------------------------------------------------------
# Merge-on-read deletes (round-11 verdict ask #2): deletion vectors.
# ---------------------------------------------------------------------------

def _file_bytes(root):
    """{relative parquet path: content bytes} under a table root."""
    import pathlib

    r = pathlib.Path(root)
    return {str(p.relative_to(r)): p.read_bytes()
            for p in r.rglob("*.parquet")}


def test_mor_delete_leaves_data_files_byte_identical(spark, tmp_path):
    """The MoR contract: after delete_where_mor every pre-existing data
    file is byte-identical, the snapshot read masks the deleted rows,
    and the result hash-equals the copy-on-write twin on an identical
    table."""
    from etl_cloud_batch_processing_spark.sources import manifest as M

    rows = [(i, i * 10) for i in range(40)]
    cow_path, mor_path = str(tmp_path / "cow"), str(tmp_path / "mor")
    for p in (cow_path, mor_path):
        df = spark.createDataFrame(rows, "k BIGINT, v BIGINT")
        df.repartition(4).write.mode("overwrite").parquet(p)
        M.init_manifest(spark, p)

    pre = {f: b for f, b in _file_bytes(mor_path).items()
           if not f.startswith(".data/")}
    rep = M.delete_where_mor(spark, mor_path, F.col("k") % 5 == 0)
    assert rep["rows_deleted"] == 8 and rep["files_affected"] >= 1
    post = {f: b for f, b in _file_bytes(mor_path).items()
            if not f.startswith(".data/")}
    assert pre == post                       # zero data files rewritten

    M.delete_where_manifested(spark, cow_path, F.col("k") % 5 == 0)
    mor = sorted(tuple(r) for r in
                 M.read_manifest(spark, mor_path).select("k", "v")
                 .collect())
    cow = sorted(tuple(r) for r in
                 M.read_manifest(spark, cow_path).select("k", "v")
                 .collect())
    assert mor == cow == [(i, i * 10) for i in range(40) if i % 5]
    # time travel to v1 ignores the DV (pre-delete snapshot intact)
    assert M.read_manifest(spark, mor_path, version=1).count() == 40


def test_mor_dvs_accumulate_and_compaction_folds_them(spark, tmp_path):
    """Two MoR deletes stack DV references on the same entries without
    re-deleting already-masked rows; compact_manifested folds the DVs
    into a rewrite (post-compact entries carry no dv and the raw files
    hold exactly the surviving rows)."""
    from etl_cloud_batch_processing_spark.sources import manifest as M

    path = str(tmp_path / "t")
    (spark.createDataFrame([(i, i) for i in range(30)],
                           "k BIGINT, v BIGINT")
     .repartition(2).write.mode("overwrite").parquet(path))
    M.init_manifest(spark, path)
    M.delete_where_mor(spark, path, F.col("k") < 10)
    rep2 = M.delete_where_mor(spark, path, F.col("k") < 20)
    assert rep2["rows_deleted"] == 10        # 0-9 already masked
    _, entries = M.current_manifest(spark, path)
    assert all(len(e.get("dv") or ()) >= 1 for e in entries)
    assert M.read_manifest(spark, path).count() == 10

    M.compact_manifested(spark, path)
    _, entries = M.current_manifest(spark, path)
    assert all(not e.get("dv") for e in entries)   # folded
    raw = sorted(r["k"] for r in spark.read.parquet(
        *[f"{path}/{e['file']}" for e in entries]).collect())
    assert raw == list(range(20, 30))


def test_mor_vacuum_keeps_live_dv_sidecars(spark, tmp_path):
    """vacuum must treat referenced DV sidecars as live (they are
    .parquet files too) — after retiring the pre-delete version the
    masked read still works and still excludes the deleted rows."""
    from etl_cloud_batch_processing_spark.sources import manifest as M

    path = str(tmp_path / "t")
    (spark.createDataFrame([(i,) for i in range(20)], "k BIGINT")
     .coalesce(1).write.mode("overwrite").parquet(path))
    M.init_manifest(spark, path)
    M.delete_where_mor(spark, path, F.col("k") >= 15)
    M.vacuum(spark, path, retain_versions=1)
    got = sorted(r["k"] for r in
                 M.read_manifest(spark, path).collect())
    assert got == list(range(15))


def test_change_feed_sees_mor_delete(spark, tmp_path):
    """The CDF composes with MoR deletes: diffing the pre-delete
    version against the DV-masked snapshot reports exactly the deleted
    keys — consumers (SCD2 close-out, IVM, index maintenance) need no
    knowledge of WHICH delete flavor produced the change."""
    from etl_cloud_batch_processing_spark.plans.evolution import (
        change_feed,
    )
    from etl_cloud_batch_processing_spark.sources import manifest as M

    path = str(tmp_path / "t")
    M.publish_manifested(_kv(spark, [(1, 10), (2, 20), (3, 30)]),
                         path, "r1")
    M.delete_where_mor(spark, path, F.col("k") == 2)
    feed = change_feed(spark, path, "k", ["v"], v_old=1)
    got = [(r["k"], r["change_type"], r["old_v"], r["new_v"])
           for r in feed.collect()]
    assert got == [(2, "delete", 20, None)]


def test_cow_delete_on_dvd_table_does_not_resurrect(spark, tmp_path):
    """A copy-on-write delete whose rewrite touches DV'd files must
    fold the DVs into the survivor rewrite — never resurrect
    MoR-deleted rows."""
    from etl_cloud_batch_processing_spark.sources import manifest as M

    path = str(tmp_path / "t")
    (spark.createDataFrame([(i,) for i in range(12)], "k BIGINT")
     .coalesce(1).write.mode("overwrite").parquet(path))
    M.init_manifest(spark, path)
    M.delete_where_mor(spark, path, F.col("k") < 3)       # mask 0-2
    M.delete_where_manifested(spark, path, F.col("k") >= 9)  # CoW 9-11
    got = sorted(r["k"] for r in
                 M.read_manifest(spark, path).collect())
    assert got == [3, 4, 5, 6, 7, 8]
    _, entries = M.current_manifest(spark, path)
    assert all(not e.get("dv") for e in entries)  # rewrite folded the DV


# ---------------------------------------------------------------------------
# Manifest-recorded schema (round-11 verdict ask #3): evolution on
# manifested tables — per-version schema, typed NULLs, time travel.
# ---------------------------------------------------------------------------

def _publish_evolved(spark, M, path):
    M.publish_manifested(_kv(spark, [(1, 10), (2, 20)]), path, "r1")
    M.publish_manifested(
        spark.createDataFrame([(3, 30, 7)], "k BIGINT, v BIGINT, w BIGINT"),
        path, "r2")


def test_manifest_schema_evolution_and_time_travel(spark, tmp_path):
    from etl_cloud_batch_processing_spark.sources import manifest as M

    path = str(tmp_path / "t")
    _publish_evolved(spark, M, path)
    latest = M.read_manifest(spark, path)
    assert "w" in latest.columns
    rows = {r["k"]: r["w"] for r in latest.collect()}
    assert rows == {1: None, 2: None, 3: 7}   # typed NULLs, not zeros
    # time travel returns v1's OWN schema
    v1 = M.read_manifest(spark, path, version=1)
    assert "w" not in v1.columns and v1.count() == 2
    assert M.manifest_schema(spark, path, version=1) != \
        M.manifest_schema(spark, path)


def test_manifest_schema_survives_vacuum_and_maintenance(spark, tmp_path):
    """Evolve → vacuum: the merged schema stays recorded and readable
    after GC retires the pre-evolution version; evolve → CoW delete:
    the maintenance commit carries the schema forward and the rewrite
    keeps typed NULLs instead of dropping the new column."""
    from etl_cloud_batch_processing_spark.sources import manifest as M

    path = str(tmp_path / "t")
    _publish_evolved(spark, M, path)
    M.vacuum(spark, path, retain_versions=1)
    latest = M.read_manifest(spark, path)
    assert "w" in latest.columns and latest.count() == 3
    import pytest as _pt

    with _pt.raises(FileNotFoundError):
        M.read_manifest(spark, path, version=1)
    # CoW delete touching a pre-evolution file folds the schema in
    M.delete_where_manifested(spark, path, F.col("k") == 1)
    got = {r["k"]: r["w"] for r in
           M.read_manifest(spark, path).collect()}
    assert got == {2: None, 3: 7}
    assert M.manifest_schema(spark, path) is not None


def test_change_feed_aligns_evolved_schema(spark, tmp_path):
    """CDF across an evolution: a tracked column added after v_old
    reads as typed NULL on the old side (latest-schema alignment) —
    pre-existing rows whose other tracked values are unchanged stay
    out of the feed; new rows classify as inserts."""
    from etl_cloud_batch_processing_spark.plans.evolution import (
        change_feed,
    )
    from etl_cloud_batch_processing_spark.sources import manifest as M

    path = str(tmp_path / "t")
    _publish_evolved(spark, M, path)
    feed = change_feed(spark, path, "k", ["v", "w"], v_old=1)
    got = sorted((r["k"], r["change_type"], r["new_w"])
                 for r in feed.collect())
    assert got == [(3, "insert", 7)]


def test_manifest_schema_type_conflict_refused(spark, tmp_path):
    from etl_cloud_batch_processing_spark.sources import manifest as M

    path = str(tmp_path / "t")
    M.publish_manifested(_kv(spark, [(1, 10)]), path, "r1")
    with pytest.raises(ValueError, match="type conflict"):
        M.publish_manifested(
            spark.createDataFrame([(2, "oops")], "k BIGINT, v STRING"),
            path, "r2")


# ---------------------------------------------------------------------------
# Age-based vacuum retention (round-11 verdict ask #5): RETAIN n HOURS.
# ---------------------------------------------------------------------------

def _set_commit_age(path, version, age_hours, now_ms):
    """Rewrite a committed manifest's committed_at_ms to simulate age
    (test-only: exclusivity matters for commits, not for edits)."""
    import json
    import pathlib

    mf = pathlib.Path(path) / f"_manifest.v{version:010d}.json"
    doc = json.loads(mf.read_text())
    doc["committed_at_ms"] = now_ms - int(age_hours * 3600 * 1000)
    mf.write_text(json.dumps(doc))


def test_vacuum_retain_hours_keeps_inside_window(spark, tmp_path):
    """The time-based twin of the retain_versions window test: v1 aged
    past the window expires (files GC'd, manifest gone), v2/v3 inside
    it survive — a reader pinned at v2 keeps working through the GC
    and the expired v1 fails LOUDLY."""
    from etl_cloud_batch_processing_spark.sources import manifest as M

    path = str(tmp_path / "t")
    M.publish_manifested(_kv(spark, [(1, 10)]), path, "r1")   # v1
    M.publish_manifested(_kv(spark, [(2, 20)]), path, "r1")   # v2: replace
    M.publish_manifested(_kv(spark, [(3, 30)]), path, "r2")   # v3
    now_ms = 1_000_000_000_000
    _set_commit_age(path, 1, 10.0, now_ms)     # 10 h old — expired
    _set_commit_age(path, 2, 2.0, now_ms)      # 2 h old — retained
    _set_commit_age(path, 3, 0.0, now_ms)
    rep = M.vacuum(spark, path, retain_hours=5.0, now_ms=now_ms)
    assert rep["manifests_removed"] == 1 and rep["files_removed"] >= 1
    # pinned reader INSIDE the window survives the GC
    assert ({tuple(r) for r in
             M.read_manifest(spark, path, version=2)
             .select("k", "v").collect()} == {(2, 20)})
    assert M.read_manifest(spark, path).count() == 2   # latest untouched
    with pytest.raises(FileNotFoundError):
        M.read_manifest(spark, path, version=1)        # expired: LOUD


def test_vacuum_retain_hours_zero_keeps_only_latest(spark, tmp_path):
    """retain_hours=0 with aged commits degrades to the latest-only
    default — the latest version is ALWAYS retained regardless of age."""
    from etl_cloud_batch_processing_spark.sources import manifest as M

    path = str(tmp_path / "t")
    M.publish_manifested(_kv(spark, [(1, 10)]), path, "r1")
    M.publish_manifested(_kv(spark, [(2, 20)]), path, "r1")
    now_ms = 1_000_000_000_000
    _set_commit_age(path, 1, 9.0, now_ms)
    _set_commit_age(path, 2, 9.0, now_ms)      # latest is ALSO old
    rep = M.vacuum(spark, path, retain_hours=0.0, now_ms=now_ms)
    assert rep["manifests_removed"] == 1
    assert M.read_manifest(spark, path).count() == 1


def test_vacuum_retain_hours_unions_with_versions(spark, tmp_path):
    """Both windows keep versions alive: retain_versions=2 keeps v2/v3
    by count even when only v3 is inside the age window."""
    from etl_cloud_batch_processing_spark.sources import manifest as M

    path = str(tmp_path / "t")
    for run, kv in (("r1", (1, 10)), ("r1", (2, 20)), ("r2", (3, 30))):
        M.publish_manifested(_kv(spark, [kv]), path, run)
    now_ms = 1_000_000_000_000
    for v, age in ((1, 10.0), (2, 10.0), (3, 0.0)):
        _set_commit_age(path, v, age, now_ms)
    M.vacuum(spark, path, retain_versions=2, retain_hours=1.0,
             now_ms=now_ms)
    assert M.read_manifest(spark, path, version=2).count() == 1
    with pytest.raises(FileNotFoundError):
        M.read_manifest(spark, path, version=1)


# ---------------------------------------------------------------------------
# SQL pipe syntax (round-11 verdict ask #6): parse-time sugar, zero
# plan cost.
# ---------------------------------------------------------------------------

def test_sql_pipe_plan_equals_plain_sql_twin(spark):
    """Catalyst must optimize the |> form to the SAME plan as the
    classic nested form — sameResult normalizes expression ids, so
    this is plan identity, not string comparison."""
    from etl_cloud_batch_processing_spark.plans.analytics import (
        sql_pipe_plain_twin, sql_pipe_revenue_report,
    )

    pipe = sql_pipe_revenue_report(spark, SF)
    plain = sql_pipe_plain_twin(spark, SF)
    p1 = pipe._jdf.queryExecution().optimizedPlan()
    p2 = plain._jdf.queryExecution().optimizedPlan()
    assert p1.sameResult(p2)
    assert sorted(tuple(r) for r in pipe.collect()) \
        == sorted(tuple(r) for r in plain.collect())


def test_udtf_plan_uses_arrow_batch_path(spark):
    """The registered UDTF query must run on the Arrow batch path
    (ArrowEvalPythonUDTF), never the row-pickling fallback
    (BatchEvalPythonUDTF) — the whole point of useArrow=True."""
    from etl_cloud_batch_processing_spark.plans.analytics import (
        udtf_lateral_token_stats,
    )

    df = udtf_lateral_token_stats(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPythonUDTF" in plan
    assert "BatchEvalPythonUDTF" not in plan


def test_token_dir_cleanup_sweeps_stale_siblings(tmp_path):
    """_register_token_dir_cleanup removes crashed processes' stale
    token dirs (mtime past the staleness window) but never fresh
    siblings or the process's own root."""
    import time

    from etl_cloud_batch_processing_spark.session import (
        _TOKEN_DIR_STALE_SECS, _register_token_dir_cleanup,
    )

    own = tmp_path / "band_index_steady-own1"
    stale = tmp_path / "band_index_steady-dead"
    fresh = tmp_path / "band_index_steady-live"
    other = tmp_path / "unrelated-dir"
    for d in (stale, fresh, other):
        d.mkdir()
    old = time.time() - _TOKEN_DIR_STALE_SECS - 60
    os.utime(stale, (old, old))
    os.utime(other, (old, old))
    _register_token_dir_cleanup(str(own), "band_index_steady-")
    assert not stale.exists()          # swept
    assert fresh.exists()              # within window
    assert other.exists()              # wrong prefix never touched
