"""delete_where durability fixes (round-8 advice) + the manifest-
committed reader-atomic layer (round-8 verdict item 4).

The raw-directory delete must (a) keep rows whose predicate evaluates
to NULL — three-valued logic drops them from BOTH filter(p) and
filter(~p) — and (b) recover, not destroy, the set-aside originals of
a crashed prior run.  The manifest layer must give a reader the
complete old or complete new file set at every crash/race point.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from etl_cloud_batch_processing_spark.operators.expectations import (
    AuditError)
from etl_cloud_batch_processing_spark.sources import manifest as M
from etl_cloud_batch_processing_spark.sources.writers import (
    delete_where, write_clustered)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _events_with_nulls(spark):
    """events with user_id nulled for every 7th event — fixture tables
    have no NULL keys, which is exactly why the round-8 advice bug
    survived the round-8 tests."""
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    return ev.withColumn(
        "user_id",
        F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(
            F.col("user_id")))


# ---------------------------------------------------------------------------
# Advice (high): NULL-predicate rows must survive a delete.
# ---------------------------------------------------------------------------

def test_delete_where_keeps_null_predicate_rows(spark, tmp_path):
    ev = _events_with_nulls(spark)
    out = str(tmp_path / "t")
    write_clustered(ev, out, ["user_id"], num_files=4)
    n_total = ev.count()
    n_null = ev.filter(F.col("user_id").isNull()).count()
    n_subject = ev.filter(F.col("user_id") == 3).count()
    assert n_null > 0 and n_subject > 0

    stats = delete_where(spark, out, F.col("user_id") == 3)

    back = spark.read.parquet(out)
    assert stats["rows_deleted"] == n_subject
    assert back.count() == n_total - n_subject
    # every NULL-key row is still present — the old ~predicate survivor
    # filter silently dropped any that shared a file with the subject
    assert back.filter(F.col("user_id").isNull()).count() == n_null


def test_delete_where_accepts_sql_string_predicate(spark, tmp_path):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    out = str(tmp_path / "t")
    write_clustered(ev, out, ["user_id"], num_files=4)
    n_subject = ev.filter(F.col("user_id") == 5).count()
    stats = delete_where(spark, out, "user_id = 5")
    assert stats["rows_deleted"] == n_subject
    assert spark.read.parquet(out).filter("user_id = 5").count() == 0


# ---------------------------------------------------------------------------
# Advice (medium): crashed-run recovery must restore, never destroy.
# ---------------------------------------------------------------------------

def _file_bytes(d):
    return {f.name: f.read_bytes() for f in d.glob("*.parquet")}


def test_delete_where_recovers_crash_mid_swap(spark, tmp_path):
    """Emulate a crash mid step 3 (journal present, one original
    set aside, one survivor file already published): the next run must
    roll back to the exact pre-delete bytes, then complete its own
    delete normally."""
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    out = tmp_path / "t"
    write_clustered(ev, str(out), ["user_id"], num_files=4)
    pristine = _file_bytes(out)

    victim = sorted(pristine)[0]
    trash = out / ".delete_trash"
    trash.mkdir()
    shutil.move(str(out / victim), str(trash / victim))
    fake_survivor = "part-00000-crashed-rewrite.c000.snappy.parquet"
    # any parquet bytes will do for the un-publish check
    (out / fake_survivor).write_bytes((trash / victim).read_bytes())
    (out / ".delete_tmp").mkdir()
    (out / ".delete_journal").write_text(json.dumps(
        {"affected": [victim], "survivors": [fake_survivor]}))

    n_subject = ev.filter(F.col("user_id") == 2).count()
    stats = delete_where(spark, str(out), F.col("user_id") == 2)

    assert stats["rows_deleted"] == n_subject
    back = spark.read.parquet(str(out))
    assert back.filter(F.col("user_id") == 2).count() == 0
    assert back.count() == ev.count() - n_subject
    # the crashed run's survivor file was un-published during recovery
    # (else its rows would double-count), and no helper state remains
    for leftover in (".delete_tmp", ".delete_trash",
                     ".delete_journal", ".delete_journal.committed"):
        assert not (out / leftover).exists()


def test_delete_where_rolls_forward_committed_crash(spark, tmp_path):
    """Crash AFTER the commit marker rename: helper dirs are garbage;
    the next run deletes them and the table is untouched."""
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    out = tmp_path / "t"
    write_clustered(ev, str(out), ["user_id"], num_files=4)
    before = _file_bytes(out)
    (out / ".delete_tmp").mkdir()
    trash = out / ".delete_trash"
    trash.mkdir()
    (trash / "garbage.parquet").write_bytes(b"x")
    (out / ".delete_journal.committed").write_text(
        json.dumps({"affected": [], "survivors": []}))

    stats = delete_where(spark, str(out), F.col("user_id") == 10**9)
    assert stats["rows_deleted"] == 0
    assert _file_bytes(out) == before
    assert not (out / ".delete_trash").exists()
    assert not (out / ".delete_journal.committed").exists()


def test_delete_where_refuses_trash_without_journal(spark, tmp_path):
    """A trash dir with no journal cannot be attributed to any known
    crash state — the old code DELETED it (destroying what might be
    the only copy of set-aside originals); now it refuses loudly and
    leaves the trash untouched."""
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    out = tmp_path / "t"
    write_clustered(ev, str(out), ["user_id"], num_files=2)
    trash = out / ".delete_trash"
    trash.mkdir()
    (trash / "orphan.parquet").write_bytes(b"precious")

    with pytest.raises(IOError, match="refusing"):
        delete_where(spark, str(out), F.col("user_id") == 1)
    assert (trash / "orphan.parquet").read_bytes() == b"precious"


# ---------------------------------------------------------------------------
# Manifest layer: atomic commit, snapshot reads, vacuum.
# ---------------------------------------------------------------------------

def test_init_and_read_manifest_round_trip(spark, tmp_path):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    out = str(tmp_path / "t")
    write_clustered(ev, out, ["user_id"], num_files=3)
    assert not M.has_manifest(spark, out)
    v = M.init_manifest(spark, out)
    assert v == 1 and M.has_manifest(spark, out)
    assert M.read_manifest(spark, out).count() == ev.count()
    with pytest.raises(FileExistsError):
        M.init_manifest(spark, out)


def test_publish_manifested_replaces_run_date_and_prunes_dt(spark, tmp_path):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").limit(200)
    out = str(tmp_path / "t")
    M.publish_manifested(ev.limit(50), out, "2024-01-01")
    M.publish_manifested(ev.limit(80), out, "2024-01-02")
    assert M.read_manifest(spark, out).count() == 130
    # re-publish day 1 with different rows: REPLACES, never duplicates
    M.publish_manifested(ev.limit(60), out, "2024-01-01")
    got = M.read_manifest(spark, out)
    assert got.count() == 140
    assert got.filter(F.col("dt") == "2024-01-01").count() == 60
    # manifest-level dt prune: only day-2 files are handed to the scan
    day2 = M.read_manifest_files(spark, out, dts=["2024-01-02"])
    assert day2 and all("2024-01-02" in f for f in day2)
    assert M.read_manifest(spark, out, dts=["2024-01-02"]).count() == 80


def test_publish_manifested_reads_staging_with_writer_schema(
        spark, tmp_path, total_jobs):
    """With no rules the publish is one job, the write: the staged
    read-back takes the written frame's schema, so no job merges the
    staged footers.  The recorded schema is the one a footer read of
    the staged files reports."""
    df = spark.createDataFrame([(1, "a", 2.5), (2, None, None)],
                               "id bigint, tag string, v double")
    out = str(tmp_path / "t")
    j0 = total_jobs()
    M.publish_manifested(df, out, "2024-01-01")
    assert total_jobs() - j0 == 1
    staged = spark.read.parquet(f"{out}/.data/*")
    assert M._manifest_doc(spark, out)[1]["schema"] == \
        staged.schema.jsonValue()


def test_publish_manifested_audit_failure_commits_nothing(spark, tmp_path):
    from etl_cloud_batch_processing_spark.operators.expectations import (
        min_rows)

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").limit(10)
    out = str(tmp_path / "t")
    M.publish_manifested(ev, out, "2024-01-01")
    v_before = M.current_manifest(spark, out)[0]
    with pytest.raises(AuditError):
        M.publish_manifested(ev, out, "2024-01-02", rules=[min_rows(100)])
    assert M.current_manifest(spark, out)[0] == v_before
    assert M.read_manifest(spark, out).count() == 10


def test_manifest_delete_is_snapshot_isolated(spark, tmp_path):
    """The headline property: a reader holding the pre-delete manifest
    version keeps reading the complete OLD table after the delete
    commits; the latest version is the complete NEW table; and an
    uncommitted crash leaves the latest read bit-unchanged."""
    ev = _events_with_nulls(spark)
    out = str(tmp_path / "t")
    write_clustered(ev, out, ["user_id"], num_files=4)
    M.init_manifest(spark, out)
    v_old, _ = M.current_manifest(spark, out)
    n_total = ev.count()
    n_null = ev.filter(F.col("user_id").isNull()).count()
    n_subject = ev.filter(F.col("user_id") == 3).count()

    # crash BEFORE commit: orphan rewrite files exist, manifest silent
    os.makedirs(f"{out}/.data/delete-deadbeef")
    ev.limit(5).write.mode("overwrite").parquet(
        f"{out}/.data/delete-deadbeef")
    assert M.read_manifest(spark, out).count() == n_total

    # delete_where auto-detects the manifest and commits atomically
    stats = delete_where(spark, out, F.col("user_id") == 3)
    assert stats["rows_deleted"] == n_subject
    new = M.read_manifest(spark, out)
    assert new.count() == n_total - n_subject
    assert new.filter(F.col("user_id").isNull()).count() == n_null
    # the pre-delete reader still sees its complete snapshot
    old = M.read_manifest(spark, out, version=v_old)
    assert old.count() == n_total

    # vacuum retires the old snapshot + the crashed run's orphans
    rep = M.vacuum(spark, out)
    assert rep["files_removed"] > 0
    assert M.read_manifest(spark, out).count() == n_total - n_subject
    with pytest.raises(FileNotFoundError):
        M.read_manifest(spark, out, version=v_old)
    assert not os.path.exists(f"{out}/.data/delete-deadbeef")

    # idempotent: nothing left to delete
    again = delete_where(spark, out, F.col("user_id") == 3)
    assert again["rows_deleted"] == again["files_affected"] == 0


def test_compact_manifested_preserves_rows_and_snapshots(spark, tmp_path):
    """Compaction must change the file layout and NOTHING else: same
    rows after, pre-compact version still readable until vacuum."""
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    out = str(tmp_path / "t")
    write_clustered(ev, out, ["user_id"], num_files=8)
    M.init_manifest(spark, out)
    v_old, entries = M.current_manifest(spark, out)
    assert len(entries) == 8

    rep = M.compact_manifested(spark, out)
    assert rep["files_before"] == 8
    assert rep["files_after"] < 8
    got = M.read_manifest(spark, out)
    assert got.count() == ev.count()
    assert (got.agg(F.sum("event_id")).collect()[0][0]
            == ev.agg(F.sum("event_id")).collect()[0][0])
    # snapshot isolation holds across a compaction too
    assert M.read_manifest(spark, out, version=v_old).count() == ev.count()
    M.vacuum(spark, out)
    assert M.read_manifest(spark, out).count() == ev.count()


def test_manifest_commit_rejects_duplicate_files(spark, tmp_path):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").limit(10)
    out = str(tmp_path / "t")
    M.publish_manifested(ev, out, "2024-01-01")
    _, entries = M.current_manifest(spark, out)
    with pytest.raises(ValueError, match="twice"):
        M.commit_manifest(spark, out, add=[entries[0]])


# ---------------------------------------------------------------------------
# Round-9 verdict item 3: RACE two committers — exactly one wins, the
# loser's bounded retry lands a correct v(N+2).
# ---------------------------------------------------------------------------

def _seed_manifested(spark, path):
    df = spark.range(10).select(F.col("id").alias("k"))
    M.publish_manifested(df, path, "2024-01-01")
    return M.current_manifest(spark, path)[0]


def test_manifest_commit_race_exactly_one_wins(spark, tmp_path):
    """Two barrier-synchronized committers both read version N and
    both attempt v(N+1) with retries=0: exactly one must win, the
    other must raise IOError, and the committed manifest must carry
    exactly the winner's entry — never a clobber, never two winners.
    (Hadoop local-FS rename REPLACES an existing destination, so this
    test is what forced the link(2)-based exclusive commit.)"""
    import threading

    path = str(tmp_path / "t")
    v0 = _seed_manifested(spark, path)

    barrier = threading.Barrier(2)
    results: dict = {}

    def committer(tag):
        barrier.wait()
        try:
            results[tag] = M.commit_manifest(
                spark, path, add=[{"file": f"{tag}.parquet", "dt": None}])
        except IOError as exc:
            results[tag] = exc

    ts = [threading.Thread(target=committer, args=(t,))
          for t in ("racer_a", "racer_b")]
    for t in ts:
        t.start()
    for t in ts:
        t.join()

    wins = {t: r for t, r in results.items() if isinstance(r, int)}
    losses = {t: r for t, r in results.items() if isinstance(r, IOError)}
    assert len(wins) == 1 and len(losses) == 1, results
    assert next(iter(wins.values())) == v0 + 1
    files = {e["file"] for e in M.current_manifest(spark, path)[1]}
    winner = next(iter(wins))
    loser = next(iter(losses))
    assert f"{winner}.parquet" in files
    assert f"{loser}.parquet" not in files

    # loser retry: re-enters read-modify-write, lands v(N+2), and the
    # final manifest carries BOTH committers' files
    v2 = M.commit_manifest(
        spark, path, add=[{"file": f"{loser}.parquet", "dt": None}],
        retries=3)
    assert v2 == v0 + 2
    files = {e["file"] for e in M.current_manifest(spark, path)[1]}
    assert {f"{winner}.parquet", f"{loser}.parquet"} <= files


def test_manifest_commit_retry_is_bounded(spark, tmp_path, monkeypatch):
    """retries=K means at most K+1 attempts, then the IOError
    propagates — the loop can never spin unbounded."""
    from etl_cloud_batch_processing_spark.sources import writers as W

    path = str(tmp_path / "t")
    _seed_manifested(spark, path)

    calls = {"n": 0}

    def always_lose(jvm, fs, path_str, text):
        calls["n"] += 1
        raise IOError("exclusive write lost the race (simulated)")

    monkeypatch.setattr(W, "_fs_write_exclusive", always_lose)
    with pytest.raises(IOError, match="lost the race 3 time"):
        M.commit_manifest(spark, path,
                          add=[{"file": "x.parquet", "dt": None}],
                          retries=2)
    assert calls["n"] == 3


def test_publish_manifested_retries_past_a_racing_commit(spark, tmp_path):
    """publish_manifested's commit carries retries=3: a manifest
    version landed by a concurrent committer between the staging write
    and the publish commit must not fail the publish — the loser
    replays onto the racer's version and BOTH changes survive."""
    path = str(tmp_path / "t")
    _seed_manifested(spark, path)
    # give the simulated racer a REAL data file (read_manifest scans
    # every listed file)
    live0 = M.read_manifest_files(spark, path)[0]
    shutil.copyfile(live0, f"{path}/racer.parquet")

    real_exclusive = {}
    from etl_cloud_batch_processing_spark.sources import writers as W
    real_exclusive["fn"] = W._fs_write_exclusive

    steals = {"left": 1}

    def steal_first_attempt(jvm, fs, path_str, text):
        if steals["left"] > 0:
            steals["left"] -= 1
            # a concurrent committer lands this exact version first
            real_exclusive["fn"](
                jvm, fs, path_str,
                json.dumps({"version": 999,
                            "entries": M.current_manifest(spark, path)[1]
                            + [{"file": "racer.parquet", "dt": None}]}))
            raise IOError("lost the race (simulated steal)")
        return real_exclusive["fn"](jvm, fs, path_str, text)

    import unittest.mock as mock
    with mock.patch.object(W, "_fs_write_exclusive",
                           side_effect=steal_first_attempt):
        df = spark.range(5).select(F.col("id").alias("k"))
        M.publish_manifested(df, path, "2024-01-02")

    files = {e["file"] for e in M.current_manifest(spark, path)[1]}
    assert "racer.parquet" in files          # the racer's commit survives
    assert any(e.get("dt") == "2024-01-02"
               for e in M.current_manifest(spark, path)[1])  # ours too
    # and the data reads back complete (the racer's dt=None file is
    # conservatively included by manifest pruning, so filter the column)
    assert (M.read_manifest(spark, path, dts=["2024-01-02"])
            .filter("dt = '2024-01-02'").count() == 5)


# ---------------------------------------------------------------------------
# Round-9 verdict item 6: OPTIMIZE ZORDER as ONE manifest commit.
# ---------------------------------------------------------------------------

def test_optimize_zorder_manifested_snapshot_isolated(spark, tmp_path):
    """The z-order rewrite must be a transaction: same rows before and
    after, one version flip, a reader pinned to the pre-rewrite
    version keeps its snapshot even after the flip, and vacuum only
    then retires the old layout's files."""
    path = str(tmp_path / "t")
    df = (spark.range(2000)
          .select((F.col("id") % 97).alias("x"),
                  (F.col("id") % 31).alias("y"),
                  F.col("id").alias("payload")))
    df.repartition(4).write.mode("overwrite").parquet(path)
    v1 = M.init_manifest(spark, path)
    before = sorted(r["payload"] for r in
                    M.read_manifest(spark, path).collect())
    old_files = set(M.read_manifest_files(spark, path))

    stats = M.optimize_zorder_manifested(spark, path, ["x", "y"], 6,
                                         bits=8)
    assert stats == {"files_before": 4, "files_after": 6,
                     "version": v1 + 1}

    after = sorted(r["payload"] for r in
                   M.read_manifest(spark, path).collect())
    assert after == before                      # zero row loss/dup
    assert set(M.read_manifest_files(spark, path)).isdisjoint(old_files)

    # snapshot isolation: v1 still reads the OLD files, completely
    snap = sorted(r["payload"] for r in
                  M.read_manifest(spark, path, version=v1).collect())
    assert snap == before
    assert set(M.read_manifest_files(spark, path, version=v1)) \
        == old_files

    # the rewrite actually clustered: per-file x/y extents must be
    # narrower than the table-wide range for at least one file
    zm = (M.read_manifest(spark, path)
          .withColumn("f", F.input_file_name())
          .groupBy("f").agg(F.min("x").alias("lo"), F.max("x").alias("hi")))
    assert any(r["hi"] - r["lo"] < 96 for r in zm.collect())

    # vacuum retires the old layout + superseded manifest
    gone = M.vacuum(spark, path)
    assert gone["files_removed"] >= 4 and gone["manifests_removed"] == 1
    for f in old_files:
        assert not os.path.exists(f)
    assert sorted(r["payload"] for r in
                  M.read_manifest(spark, path).collect()) == before


# ---------------------------------------------------------------------------
# Vacuum vs pinned reader: the retention window (round-10 verdict #3).
# ---------------------------------------------------------------------------

def _three_version_table(spark, tmp_path):
    """v1 publishes d1 (files A), v2 republishes d1 (files B retire A),
    v3 adds d2 (files C) — so v1 holds files no later version shares."""
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    out = str(tmp_path / "t")
    M.publish_manifested(ev.limit(100), out, "d1")   # v1: A
    M.publish_manifested(ev.limit(70), out, "d1")    # v2: B replaces A
    M.publish_manifested(ev.limit(50), out, "d2")    # v3: B + C
    return out


def test_vacuum_retention_window_keeps_pinned_readers_alive(spark,
                                                            tmp_path):
    """retain_versions=N is the retention-window refusal: a reader
    pinned at any of the last N versions survives the vacuum unharmed;
    only versions past the window lose their files + manifest."""
    out = _three_version_table(spark, tmp_path)
    pinned_v2 = M.read_manifest(spark, out, version=2)   # pre-vacuum
    rep = M.vacuum(spark, out, retain_versions=2)
    assert rep["files_removed"] > 0                      # v1's A files
    assert rep["manifests_removed"] == 1                 # v1's manifest
    # both retained versions execute fine AFTER the vacuum
    assert pinned_v2.count() == 70
    assert M.read_manifest(spark, out, version=2).count() == 70
    assert M.read_manifest(spark, out).count() == 120
    # the expired version is gone as a version, not torn
    with pytest.raises(FileNotFoundError):
        M.read_manifest(spark, out, version=1)
    with pytest.raises(ValueError):
        M.vacuum(spark, out, retain_versions=0)


def test_vacuum_default_fails_expired_pinned_reader_loudly(spark,
                                                           tmp_path):
    """The documented failure mode of the DEFAULT vacuum (retain only
    the latest): a reader still holding an older version fails AT
    EXECUTION with the missing-input error every snapshot store
    documents past retention — never a silent partial read — and the
    LATEST version is unaffected before and after."""
    out = _three_version_table(spark, tmp_path)
    pinned_v1 = M.read_manifest(spark, out, version=1)
    assert pinned_v1.count() == 100                      # alive pre-vacuum
    rep = M.vacuum(spark, out)                           # retain latest only
    assert rep["files_removed"] > 0 and rep["manifests_removed"] == 2
    assert M.read_manifest(spark, out).count() == 120    # latest unharmed
    with pytest.raises(Exception) as ei:                 # loud, not partial
        pinned_v1.count()
    msg = str(ei.value)
    assert ("FileNotFound" in msg or "does not exist" in msg
            or "FILE_NOT_FOUND" in msg)
    # re-resolving the expired version also fails loudly (manifest gone)
    with pytest.raises(FileNotFoundError):
        M.read_manifest(spark, out, version=1)
    # and the latest keeps working after the failed old-reader attempt
    assert M.read_manifest(spark, out).count() == 120
