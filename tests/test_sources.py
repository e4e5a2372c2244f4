"""Format coverage: ORC / JSON-lines / CSV roundtrips through the
schema-explicit readers and disposition-aware writers.

Every roundtrip asserts value equality against the source DataFrame, not
just row counts — a format that silently loses type fidelity (e.g. CSV
without explicit schema) would still "have the right number of rows".
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_cloud_batch_processing_spark.sources import readers as R
from etl_cloud_batch_processing_spark.sources import writers as W

SF = "/root/testdata/sf0.001"


def _nation(spark):
    return R.read_parquet(spark, f"{SF}/nation.parquet")


def _sorted_rows(df):
    return [tuple(r) for r in
            df.orderBy(*sorted(df.columns)).collect()]


def test_orc_roundtrip_preserves_values(spark, tmp_path):
    src = _nation(spark)
    path = str(tmp_path / "nation_orc")
    W.write_overwrite(src, path, fmt="orc")
    back = R.read_orc(spark, path)
    assert back.schema == src.schema
    assert _sorted_rows(back) == _sorted_rows(src)


def test_json_lines_roundtrip_with_explicit_schema(spark, tmp_path):
    src = _nation(spark)
    path = str(tmp_path / "nation_json")
    W.write_overwrite(src, path, fmt="json")
    back = R.read_json(spark, path, src.schema)
    assert back.schema == src.schema
    assert _sorted_rows(back) == _sorted_rows(src)


def test_csv_roundtrip_with_explicit_schema(spark, tmp_path):
    # CSV can't carry nested/complex types; nation is flat, but write
    # with header so the permissive-load path (all-string schema, cast
    # later — the reference's pattern) is also exercised below.
    src = _nation(spark)
    path = str(tmp_path / "nation_csv")
    src.write.mode("overwrite").option("header", "true").csv(path)
    back = R.read_csv(spark, path, src.schema, header=True)
    assert back.schema == src.schema
    assert _sorted_rows(back) == _sorted_rows(src)


def test_csv_permissive_load_then_cast(spark, tmp_path):
    """The reference's "load permissively, cast safely" path: read every
    CSV column as string, then cast — non-numeric junk becomes NULL
    (ANSI off), never a job failure."""
    from pyspark.sql.types import StringType, StructField, StructType

    src = _nation(spark)
    path = str(tmp_path / "nation_csv2")
    src.write.mode("overwrite").option("header", "true").csv(path)
    all_str = StructType([StructField(f.name, StringType(), True)
                          for f in src.schema.fields])
    raw = R.read_csv(spark, path, all_str, header=True)
    casted = raw.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name)
          for f in src.schema.fields])
    assert _sorted_rows(casted) == _sorted_rows(src)


def test_read_csv_quarantine_splits_malformed(spark, tmp_path):
    """PERMISSIVE ingest: well-formed rows come back typed under the
    declared schema; rows with the wrong field count are quarantined
    with their raw text, and nothing is silently dropped."""
    from pyspark.sql.types import StringType, StructField, StructType

    from etl_cloud_batch_processing_spark.sources.readers import (
        read_csv_quarantine,
    )

    path = str(tmp_path / "in.csv")
    with open(path, "w") as f:
        f.write("a,b\n")
        f.write("1,x\n")
        f.write("2,y,EXTRA,FIELDS\n")     # wrong arity -> quarantine
        f.write("3,z\n")
    schema = StructType([StructField("a", StringType()),
                         StructField("b", StringType())])
    good, bad = read_csv_quarantine(spark, path, schema)
    assert sorted(r["a"] for r in good.collect()) == ["1", "3"]
    bad_rows = [r["raw_line"] for r in bad.collect()]
    assert bad_rows == ["2,y,EXTRA,FIELDS"]


def test_xml_roundtrip_preserves_values(spark, tmp_path):
    """XML (built-in since Spark 4) roundtrips through write_overwrite
    and the row-tag reader with explicit schema — value equality, not
    just row counts (attribute/element type widening is XML's version
    of CSV's silent stringification)."""
    src = _nation(spark)
    path = str(tmp_path / "nation_xml")
    (src.write.mode("overwrite").format("xml")
     .option("rootTag", "nations").option("rowTag", "nation")
     .save(path))
    back = R.read_xml(spark, path, row_tag="nation", schema=src.schema)
    assert back.schema == src.schema
    assert _sorted_rows(back) == _sorted_rows(src)


# ---------------------------------------------------------------------------
# Write-audit-publish (round 7): stage -> audit staged files -> atomic
# publish; a failed audit publishes NOTHING and a re-run publishes
# exactly once.
# ---------------------------------------------------------------------------

def _wap_frame(spark, rows):
    return spark.createDataFrame(rows, "id bigint, v double")


def test_write_audit_publish_happy_path(spark, tmp_path):
    from etl_cloud_batch_processing_spark.operators import expectations as X

    path = str(tmp_path / "wap")
    df = _wap_frame(spark, [(1, 0.5), (2, 0.7), (3, 0.9)])
    report = W.write_audit_publish(
        df, path, "2021-03-10",
        [X.not_null("id"), X.unique("id"), X.min_rows(1)])
    assert all(r.passed for r in report)
    back = spark.read.parquet(path)
    assert back.count() == 3
    # partition value materializes from the directory name
    assert back.select("dt").distinct().collect()[0]["dt"] is not None
    assert str(back.select(F.min("dt")).collect()[0][0]) == "2021-03-10"


def test_write_audit_publish_failed_audit_publishes_nothing(spark, tmp_path):
    import pytest

    from etl_cloud_batch_processing_spark.operators import expectations as X

    path = str(tmp_path / "wap_fail")
    # duplicate ids -> the unique() rule must fail
    df = _wap_frame(spark, [(1, 0.5), (1, 0.7)])
    with pytest.raises(X.AuditError) as exc:
        W.write_audit_publish(df, path, "2021-03-10",
                              [X.not_null("id"), X.unique("id")])
    assert any("unique" in r.check_name for r in exc.value.failures)
    # no published partition, no staging residue
    import os
    assert not os.path.exists(f"{path}/dt=2021-03-10")
    assert not os.path.exists(f"{path}/.staging/dt=2021-03-10")


def test_write_audit_publish_rerun_publishes_exactly_once(spark, tmp_path):
    from etl_cloud_batch_processing_spark.operators import expectations as X

    path = str(tmp_path / "wap_rerun")
    rules = [X.not_null("id"), X.min_rows(1)]
    W.write_audit_publish(
        _wap_frame(spark, [(1, 0.5), (2, 0.7)]), path, "2021-03-10", rules)
    # retry of the same run (possibly with corrected data) REPLACES
    W.write_audit_publish(
        _wap_frame(spark, [(1, 0.6), (2, 0.8), (3, 1.0)]),
        path, "2021-03-10", rules)
    back = spark.read.parquet(path)
    assert back.count() == 3  # not 5: no duplicate accumulation
    assert back.filter(F.col("dt") == "2021-03-10").count() == 3


def test_write_audit_publish_failed_rerun_keeps_prior_publish(spark, tmp_path):
    """A later failed run must not clobber the previously published
    good partition (the audit gate fires BEFORE the swap)."""
    import pytest

    from etl_cloud_batch_processing_spark.operators import expectations as X

    path = str(tmp_path / "wap_keep")
    rules = [X.unique("id")]
    W.write_audit_publish(
        _wap_frame(spark, [(1, 0.5), (2, 0.7)]), path, "2021-03-10", rules)
    with pytest.raises(X.AuditError):
        W.write_audit_publish(
            _wap_frame(spark, [(9, 0.1), (9, 0.2)]),
            path, "2021-03-10", rules)
    back = spark.read.parquet(path)
    assert sorted(r["id"] for r in back.collect()) == [1, 2]


def test_write_audit_publish_rerun_leaves_no_prev_residue(spark, tmp_path):
    """The crash-safe replace parks the old partition at
    ``.staging/<part>.prev`` during the swap; after a successful re-run
    the set-aside copy must be gone (only the swap WINDOW may hold it)."""
    import os

    from etl_cloud_batch_processing_spark.operators import expectations as X

    path = str(tmp_path / "wap_prev")
    rules = [X.min_rows(1)]
    W.write_audit_publish(
        _wap_frame(spark, [(1, 0.5)]), path, "2021-03-10", rules)
    W.write_audit_publish(
        _wap_frame(spark, [(2, 0.6)]), path, "2021-03-10", rules)
    assert not os.path.exists(f"{path}/.staging/dt=2021-03-10.prev")
    back = spark.read.parquet(path)
    assert sorted(r["id"] for r in back.collect()) == [2]


def test_write_audit_publish_rerun_survives_stale_prev(spark, tmp_path):
    """A ``.prev`` left by a re-run that crashed mid-swap must not wedge
    the next attempt: the stale copy is discarded and the new partition
    publishes normally."""
    import os

    from etl_cloud_batch_processing_spark.operators import expectations as X

    path = str(tmp_path / "wap_stale_prev")
    rules = [X.min_rows(1)]
    W.write_audit_publish(
        _wap_frame(spark, [(1, 0.5)]), path, "2021-03-10", rules)
    # simulate a prior re-run that crashed after the set-aside rename
    _wap_frame(spark, [(7, 7.0)]).write.parquet(
        f"{path}/.staging/dt=2021-03-10.prev")
    W.write_audit_publish(
        _wap_frame(spark, [(3, 0.9)]), path, "2021-03-10", rules)
    assert not os.path.exists(f"{path}/.staging/dt=2021-03-10.prev")
    back = spark.read.parquet(path)
    assert sorted(r["id"] for r in back.collect()) == [3]


def test_write_audit_publish_staging_invisible_to_readers(spark, tmp_path):
    """In-flight staged data must never surface in a read of the table
    root (dot-prefixed dirs are excluded from Spark file listing)."""
    from etl_cloud_batch_processing_spark.operators import expectations as X

    path = str(tmp_path / "wap_vis")
    W.write_audit_publish(
        _wap_frame(spark, [(1, 0.5)]), path, "2021-03-10",
        [X.min_rows(1)])
    # manually plant a staging dir (simulating another in-flight run)
    _wap_frame(spark, [(99, 9.9)]).write.parquet(
        f"{path}/.staging/dt=2021-03-11")
    back = spark.read.parquet(path)
    assert sorted(r["id"] for r in back.collect()) == [1]


def test_write_audit_publish_empty_run_blocked_by_min_rows(spark, tmp_path):
    """An empty extract must not publish an empty partition when the
    pipeline gates on min_rows (the empty-day guard of Case A)."""
    import pytest

    from etl_cloud_batch_processing_spark.operators import expectations as X

    path = str(tmp_path / "wap_empty")
    empty = _wap_frame(spark, []).filter("id IS NOT NULL").limit(0)
    with pytest.raises(X.AuditError):
        W.write_audit_publish(empty, path, "2021-03-10", [X.min_rows(1)])
    import os
    assert not os.path.exists(f"{path}/dt=2021-03-10")


def test_write_audit_publish_empty_rules_publishes_unaudited(spark, tmp_path):
    """An empty rule list means "no audit": the run publishes and
    leaves no staging directory behind."""
    import os

    path = str(tmp_path / "wap_norules")
    assert W.write_audit_publish(
        _wap_frame(spark, [(1, 0.5), (2, 0.7)]), path, "2021-03-10",
        []) == []
    assert spark.read.parquet(path).count() == 2
    assert not os.path.exists(f"{path}/.staging/dt=2021-03-10")
