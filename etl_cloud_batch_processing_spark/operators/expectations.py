"""Declarative data-quality expectations: a Deequ-style constraint suite.

A large-scale ingest pipeline needs machine-checkable contracts on every
table it publishes — the reference repo's closest analog is the implicit
schema contract of its BigQuery load jobs (truncate/append with a fixed
schema, reference dags/transaction_data.py:19-66), which fails loads on
type mismatch but never validates VALUES.  This module adds the value
layer, modeled on the public AWS Deequ / Great Expectations designs:
a suite of named constraints is compiled into ONE aggregate pass per
table (conditional counts — Spark's map-side partial aggregation keeps
it a single scan at any scale), then unpivoted into one row per check.

Design rules:

* Row-level predicates (not_null / accepted_values / in_range / matches /
  expression) become ``COUNT(CASE WHEN <violation> THEN 1 END)`` cells in
  a single ``agg`` — N checks cost one table scan, not N, and an empty
  table reports 0 violations rather than NULL.
* ``unique`` is table-level: violations =
  ``COUNT(col) - COUNT(DISTINCT col)`` (the number of surplus duplicate
  rows), computed in the same pass.
* ``min_rows(n)`` is table-level too: violations =
  ``greatest(n - COUNT(*), 0)``, the rows the table is short of ``n``,
  reusing the report's own row count.
* Referential integrity runs per FK edge as a broadcast-friendly
  left-anti probe (:func:`fk_audit`); at 100 TB the parent key sets of
  real dimension tables broadcast, and fact-fact edges fall back to a
  shuffled anti join that AQE plans.
* The report is itself a DataFrame, one row per check and never data,
  so it can be persisted next to the table as an audit artifact and
  re-verified.  :func:`gate` is the publish decision over the same
  report: it collects the suite's rows and raises :class:`AuditError`
  naming every failed check.  ``write_audit_publish`` and
  ``publish_manifested`` (sources/) and the ``llm_corpus`` pipeline gate
  through it; the registered queries in plans/dq.py and
  plans/streams.py return the report itself.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Check:
    """One named constraint: ``violations`` is the aggregate Column that
    counts the rows (or, for ``min_rows``, the row shortfall) breaking
    the contract.  Row-level builders coalesce their predicate so NULL
    results count as violations rather than vanishing — the delete_where
    NULL lesson, writers.py."""

    name: str
    kind: str
    violations: Column


def _row_check(name: str, kind: str, ok: Column) -> Check:
    bad = ~F.coalesce(ok, F.lit(False))
    return Check(name, kind, F.count(F.when(bad, 1)))


def not_null(col: str) -> Check:
    return _row_check(f"{col}_not_null", "not_null", F.col(col).isNotNull())


def unique(col: str) -> Check:
    return Check(f"{col}_unique", "unique",
                 F.count(col) - F.countDistinct(col))


def accepted_values(col: str, values: list) -> Check:
    return _row_check(f"{col}_accepted_values", "accepted_values",
                      F.col(col).isin(values))


def in_range(col: str, lo, hi) -> Check:
    """``lo < col <= hi``; NULL is a violation."""
    c = F.col(col)
    return _row_check(f"{col}_in_range", "in_range", (c > lo) & (c <= hi))


def matches(col: str, regex: str) -> Check:
    return _row_check(f"{col}_matches", "matches", F.col(col).rlike(regex))


def expression(name: str, ok: Column) -> Check:
    """Arbitrary row-level invariant; ``ok`` True means the row passes."""
    return _row_check(name, "expression", ok)


def min_rows(n: int) -> Check:
    """At least ``n`` rows (the empty-run guard).  ``COUNT(*)`` is the
    report's ``n_rows`` cell; Spark evaluates the duplicate once."""
    return Check(f"min_rows_{n}", "min_rows",
                 F.greatest(F.lit(n) - F.count(F.lit(1)), F.lit(0)))


def run_checks(df: DataFrame, table_name: str,
               checks: list[Check]) -> DataFrame:
    """Evaluate a suite against one table in a single aggregate pass.

    Returns the long-format report (one row per check).  The wide→long
    unpivot is a ``stack`` over the single aggregated row, so the whole
    suite is one scan + one 1-row exchange regardless of suite size.

    Check names are interpolated into the ``stack`` SQL as string
    literals, so they must not contain quotes; an empty suite would
    compile to malformed ``stack(0, )`` SQL — both rejected up front.
    """
    if not checks:
        raise ValueError("run_checks requires at least one Check")
    for c in checks:
        if "'" in c.name or "\\" in c.name:
            raise ValueError(
                f"check name {c.name!r} must not contain quotes or "
                "backslashes (interpolated into stack() SQL)")
    wide = df.agg(F.count(F.lit(1)).alias("n_rows"),
                  *(c.violations.cast("bigint").alias(f"v{i}")
                    for i, c in enumerate(checks)))
    cells = ", ".join(
        f"'{c.name}', '{c.kind}', v{i}" for i, c in enumerate(checks))
    long = wide.select(
        F.lit(table_name).alias("table_name"),
        F.col("n_rows").alias("rows_scanned"),
        F.expr(f"stack({len(checks)}, {cells})")
        .alias("check_name", "kind", "violations"))
    return long.select(
        "table_name", "check_name", "kind", "rows_scanned", "violations",
        (F.col("violations") == 0).alias("passed"))


class AuditError(RuntimeError):
    """A suite failed its gate; ``failures`` holds the failed report
    rows.  Writers delete their staged data before re-raising it, so
    nothing is published."""

    def __init__(self, failures: list) -> None:
        self.failures = failures
        super().__init__(
            "audit failed, publish aborted: "
            + "; ".join(f"{r.check_name} ({r.violations} violations "
                        f"in {r.rows_scanned} rows)" for r in failures))


def gate(df: DataFrame, table_name: str, checks: list[Check]) -> list:
    """The publish gate: run the suite, collect its report, and raise
    :class:`AuditError` naming every failed check.  Returns the report
    rows; an empty suite audits nothing and returns ``[]``."""
    if not checks:
        return []
    report = run_checks(df, table_name, checks).collect()  # one row per check
    failures = [r for r in report if not r.passed]
    if failures:
        raise AuditError(failures)
    return report


def fk_audit(child: DataFrame, child_table: str, fk_col: str,
             parent: DataFrame, pk_col: str,
             broadcast_parent: bool = False) -> DataFrame:
    """Referential-integrity audit for one FK edge.

    Orphans are child rows whose (non-NULL) key has no parent, found by
    a left-anti join against the DISTINCT parent key set.  Pass
    ``broadcast_parent=True`` only for genuine dimension parents (the
    caller knows the schema); the default leaves the join strategy to
    Spark's size estimation + AQE, so a fact-sized parent (e.g. the
    lineitem→orders edge at 100 TB) plans a shuffled anti join instead
    of attempting to broadcast billions of keys into the 8 GB broadcast
    limit.  NULL FKs are reported separately (``null_fks``), not as
    orphans, so an optional relationship doesn't read as corruption.
    """
    keys = parent.select(F.col(pk_col).alias(fk_col)).distinct()
    if broadcast_parent:
        keys = F.broadcast(keys)
    nn = child.filter(F.col(fk_col).isNotNull())
    orphans = nn.join(keys, fk_col, "left_anti")
    stats = child.agg(
        F.count(F.lit(1)).alias("child_rows"),
        F.sum(F.when(F.col(fk_col).isNull(), 1).otherwise(0))
        .cast("bigint").alias("null_fks"),
        F.countDistinct(fk_col).alias("distinct_keys"))
    orph = orphans.agg(
        F.count(F.lit(1)).alias("orphan_rows"),
        F.countDistinct(fk_col).alias("orphan_keys"))
    return (stats.crossJoin(orph)  # two 1-row frames: scalar join
            .select(F.lit(child_table).alias("child_table"),
                    F.lit(fk_col).alias("fk_column"),
                    "child_rows", "distinct_keys", "null_fks",
                    "orphan_rows", "orphan_keys",
                    (F.col("orphan_rows") == 0).alias("intact")))
