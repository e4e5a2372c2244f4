"""Data-quality gate queries: constraint suite + referential integrity.

The reference pipeline trusts BigQuery's load-time schema check and
nothing else (reference dags/transaction_data.py:19-66 — a failed load
is the only quality signal).  A 100-TB ingest needs value-level
contracts evaluated as part of the pipeline; these queries put the
driver's value hash on the expectations engine
(operators/expectations.py): every cell of the report — scan counts,
violation counts, pass verdicts, orphan counts — must match a DuckDB
recomputation, so a broken conditional count, a NULL swallowed by a
predicate, or an anti-join that drops a key all red out.

Scale notes: the constraint suite is ONE aggregate scan per table
(map-side partial counts; no shuffle beyond the 1-row final merge); the
RI audit is one broadcast anti-join per edge against the DISTINCT
parent key set — dimension-sized parents broadcast, and a fact-fact
edge (lineitem→orders here) anti-joins under AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_cloud_batch_processing_spark.operators import expectations as X
from etl_cloud_batch_processing_spark.plans.registry import query, table

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]


def _suite_sql() -> str:
    """Oracle twin of the registered suite, generated from the same
    check list so the two can't drift silently."""

    def s(cond: str) -> str:
        return f"CAST(SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT)"

    types = ", ".join(f"'{t}'" for t in _EVENT_TYPES)
    langs = ", ".join(f"'{la}'" for la in _LANGS)
    ev_cells = [
        ("event_id_not_null", "not_null", "event_id IS NULL"),
        ("event_id_unique", "unique", None),
        ("event_type_accepted_values", "accepted_values",
         f"NOT COALESCE(event_type IN ({types}), FALSE)"),
        ("value_in_range", "in_range",
         "NOT COALESCE(value > 0 AND value <= 1000000.0, FALSE)"),
        ("user_id_not_null", "not_null", "user_id IS NULL"),
        ("props_matches", "matches",
         "NOT COALESCE(regexp_matches(props, '^[{].*[}]$'), FALSE)"),
    ]
    doc_cells = [
        ("doc_id_unique", "unique", None),
        ("n_chars_consistent", "expression",
         "NOT COALESCE(n_chars = length(text), FALSE)"),
        ("lang_accepted_values", "accepted_values",
         f"NOT COALESCE(lang IN ({langs}), FALSE)"),
    ]
    ord_cells = [
        ("o_orderkey_unique", "unique", None),
        ("o_totalprice_in_range", "in_range",
         "NOT COALESCE(o_totalprice > 0 AND o_totalprice <= 1000000.0,"
         " FALSE)"),
        ("o_orderdate_not_null", "not_null", "o_orderdate IS NULL"),
    ]
    uniq = {"event_id_unique": "event_id", "doc_id_unique": "doc_id",
            "o_orderkey_unique": "o_orderkey"}
    parts = []
    for tbl, cells in [("events", ev_cells), ("documents", doc_cells),
                       ("orders", ord_cells)]:
        aggs = ["CAST(COUNT(*) AS BIGINT) AS n"]
        for i, (name, _, cond) in enumerate(cells):
            if name in uniq:
                col = uniq[name]
                aggs.append(f"CAST(COUNT({col}) - COUNT(DISTINCT {col})"
                            f" AS BIGINT) AS v{i}")
            else:
                aggs.append(f"{s(cond)} AS v{i}")
        parts.append(f"agg_{tbl} AS (SELECT {', '.join(aggs)} FROM {tbl})")
    rows = []
    for tbl, cells in [("events", ev_cells), ("documents", doc_cells),
                       ("orders", ord_cells)]:
        for i, (name, kind, _) in enumerate(cells):
            rows.append(
                f"SELECT '{tbl}' AS table_name, '{name}' AS check_name,"
                f" '{kind}' AS kind, n AS rows_scanned, v{i} AS violations,"
                f" v{i} = 0 AS passed FROM agg_{tbl}")
    return (f"WITH {', '.join(parts)}\n"
            + "\nUNION ALL\n".join(rows)
            + "\nORDER BY table_name, check_name")


@query("dq_expectation_report", oracle=_suite_sql())
def dq_expectation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style declarative constraint suite over three tables —
    twelve named checks (not_null / unique / accepted_values /
    in_range / regex / cross-column expression), each reported as one
    row with its scan count, violation count, and verdict.

    Each table's checks compile into ONE conditional-aggregate scan
    (operators/expectations.py:run_checks), so the whole report costs
    three scans and three 1-row exchanges at any SF; the unpivot is a
    ``stack`` over the single aggregated row.  The same compiled suite
    gates publishes: ``expectations.gate`` collects this report and
    raises on any failed row, and ``write_audit_publish`` /
    ``publish_manifested`` (sources/) run it on their staged files."""
    ev = table(spark, sf_dir, "events")
    doc = table(spark, sf_dir, "documents")
    orders = table(spark, sf_dir, "orders")
    report = (
        X.run_checks(ev, "events", [
            X.not_null("event_id"),
            X.unique("event_id"),
            X.accepted_values("event_type", _EVENT_TYPES),
            X.in_range("value", 0, 1000000.0),
            X.not_null("user_id"),
            X.matches("props", "^[{].*[}]$"),
        ])
        .unionByName(X.run_checks(doc, "documents", [
            X.unique("doc_id"),
            X.expression("n_chars_consistent",
                         F.col("n_chars") == F.length("text")),
            X.accepted_values("lang", _LANGS),
        ]))
        .unionByName(X.run_checks(orders, "orders", [
            X.unique("o_orderkey"),
            X.in_range("o_totalprice", 0, 1000000.0),
            X.not_null("o_orderdate"),
        ])))
    return report.orderBy("table_name", "check_name")


_FK_EDGES = [
    # (child, fk, parent, pk, broadcast_parent) — the hint is set only
    # for FIXED-size dimension parents (region: 5 rows, nation: 25 —
    # invariant across scale factors); every SF-scaled parent (customer,
    # part, supplier, orders) is left to size estimation + AQE, which
    # broadcasts them at fixture scale and shuffles them at 100 TB
    # instead of blowing the 8 GB broadcast limit.
    ("customer", "c_nationkey", "nation", "n_nationkey", True),
    ("events", "user_id", "customer", "c_custkey", False),
    ("lineitem", "l_orderkey", "orders", "o_orderkey", False),
    ("lineitem", "l_partkey", "part", "p_partkey", False),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey", False),
    ("nation", "n_regionkey", "region", "r_regionkey", True),
    ("orders", "o_custkey", "customer", "c_custkey", False),
    ("supplier", "s_nationkey", "nation", "n_nationkey", True),
]


def _ri_sql() -> str:
    edges = []
    for child, fk, parent, pk, _bc in _FK_EDGES:
        orphan = (f"{fk} IS NOT NULL AND {fk} NOT IN"
                  f" (SELECT {pk} FROM {parent})")
        edges.append(f"""
    SELECT '{child}' AS child_table, '{fk}' AS fk_column,
           CAST(COUNT(*) AS BIGINT) AS child_rows,
           CAST(COUNT(DISTINCT {fk}) AS BIGINT) AS distinct_keys,
           CAST(SUM(CASE WHEN {fk} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS null_fks,
           CAST(SUM(CASE WHEN {orphan} THEN 1 ELSE 0 END) AS BIGINT)
               AS orphan_rows,
           CAST(COUNT(DISTINCT CASE WHEN {orphan} THEN {fk} END) AS BIGINT)
               AS orphan_keys
    FROM {child}""")
    return ("SELECT child_table, fk_column, child_rows, distinct_keys,"
            " null_fks, orphan_rows, orphan_keys,"
            " orphan_rows = 0 AS intact FROM ("
            + "\nUNION ALL\n".join(edges)
            + ") ORDER BY child_table, fk_column")


@query("dq_referential_integrity", oracle=_ri_sql())
def dq_referential_integrity(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Referential-integrity audit over every FK edge of the star
    schema (seven TPC-H-ish edges plus events.user_id→customer): per
    edge, the child row count, distinct/NULL key counts, orphan rows
    and orphan keys, and the intact verdict — all value-checked.

    Each edge is one left-anti probe against the DISTINCT parent key
    set (operators/expectations.py:fk_audit): only the FIXED-size
    dimension parents (region, nation) carry an explicit broadcast
    hint; every SF-scaled parent is left to size estimation + AQE,
    which broadcasts it at fixture scale and plans a shuffled anti
    join at 100 TB — an unconditional hint would force Spark to try
    broadcasting billions of orders keys into the 8 GB limit.
    NULL FKs report separately from orphans, so optional relationships
    don't read as corruption."""
    frames = []
    for child, fk, parent, pk, bc in _FK_EDGES:
        frames.append(X.fk_audit(table(spark, sf_dir, child), child, fk,
                                 table(spark, sf_dir, parent), pk,
                                 broadcast_parent=bc))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("child_table", "fk_column")


# ---------------------------------------------------------------------------
# Privacy measurement: k-anonymity / l-diversity audit (Sweeney 2002,
# Machanavajjhala et al. 2007).  A training-data release pipeline needs
# to quantify re-identification risk BEFORE publishing derived tables;
# this is the measurement half (the redaction half is pii_redaction in
# plans/llm.py).
# ---------------------------------------------------------------------------

_QI_LEVELS = [
    ("type", "event_type"),
    ("type+day", "event_type, day"),
    ("type+day+valbucket", "event_type, day, val_bucket"),
]


def _kanon_sql() -> str:
    levels = []
    for name, keys in _QI_LEVELS:
        levels.append(f"""
    SELECT '{name}' AS qi_level, n_rows, n_classes, k_min,
           rows_below_k5,
           ROUND(CAST(rows_below_k5 AS DOUBLE) / n_rows, 6) + 0.0
               AS pct_rows_below_k5,
           l_min
    FROM (
        SELECT CAST(SUM(class_rows) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_classes,
               CAST(MIN(class_rows) AS BIGINT) AS k_min,
               CAST(SUM(CASE WHEN class_rows < 5 THEN class_rows
                             ELSE 0 END) AS BIGINT) AS rows_below_k5,
               CAST(MIN(class_users) AS BIGINT) AS l_min
        FROM (
            SELECT {keys},
                   SUM(cnt) AS class_rows,
                   COUNT(DISTINCT user_id) AS class_users
            FROM base GROUP BY {keys})
    )""")
    return ("""
    WITH base AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(FLOOR(value / 10) AS BIGINT) AS val_bucket,
               user_id, COUNT(*) AS cnt
        FROM events GROUP BY 1, 2, 3, 4)
    """ + "\nUNION ALL\n".join(levels)
            + "\nORDER BY qi_level")


@query("k_anonymity_audit", oracle=_kanon_sql())
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit of the events table under a
    three-rung quasi-identifier ladder (event_type; +day; +value
    decile-bucket): per rung, the equivalence-class count, the minimum
    class size k, the row mass in classes below k=5 (the standard
    suppression threshold), and the minimum per-class distinct-user
    count l (diversity of the sensitive attribute).  Coarse rungs are
    safe (large classes); the fine rung quantifies exactly how much
    re-identification surface a naive full-resolution release adds.

    One corpus-scale pass builds the (QI..., user)-grain base frame;
    every rung then REGROUPS that bounded frame (class sizes sum, user
    diversity re-counted — never re-scanning the corpus), so the audit
    costs one scan plus three aggregations over a frame bounded by
    |QI-combos| x |users| regardless of input size."""
    ev = table(spark, sf_dir, "events")
    base = (ev.select("event_type",
                      F.col("ts").cast("date").alias("day"),
                      F.floor(F.col("value") / 10).cast("bigint")
                      .alias("val_bucket"),
                      "user_id")
            .groupBy("event_type", "day", "val_bucket", "user_id")
            .agg(F.count(F.lit(1)).alias("cnt")))
    base = base.persist()
    frames = []
    for name, keys in _QI_LEVELS:
        cols = [k.strip() for k in keys.split(",")]
        classes = (base.groupBy(*cols)
                   .agg(F.sum("cnt").alias("class_rows"),
                        F.countDistinct("user_id").alias("class_users")))
        frames.append(classes.agg(
            F.sum("class_rows").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).cast("bigint").alias("n_classes"),
            F.min("class_rows").cast("bigint").alias("k_min"),
            F.sum(F.when(F.col("class_rows") < 5, F.col("class_rows"))
                  .otherwise(0)).cast("bigint").alias("rows_below_k5"),
            F.min("class_users").cast("bigint").alias("l_min"))
            .select(F.lit(name).alias("qi_level"), "n_rows", "n_classes",
                    "k_min", "rows_below_k5",
                    (F.round(F.col("rows_below_k5").cast("double")
                             / F.col("n_rows"), 6) + F.lit(0.0))
                    .alias("pct_rows_below_k5"),
                    "l_min"))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("qi_level")


# ---------------------------------------------------------------------------
# Record linkage / entity resolution (Fellegi & Sunter 1969, multi-pass
# blocking per Hernandez & Stolfo 1995): the identity-resolution member
# of the data-quality family.  The registry's "typos" are injected
# DETERMINISTICALLY (md5-selected records, md5-selected digit position)
# so the whole pipeline — perturbation, blocking, match scoring,
# transitive closure — replays exactly in DuckDB and the query is
# value-hash-checked end to end.
# ---------------------------------------------------------------------------


def _er_sql() -> str:
    h = ("CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15)"
         " AS BIGINT)")
    return f"""
    WITH RECURSIVE base AS (
        SELECT c_custkey, c_name, c_nationkey, c_acctbal,
               {h} AS h, substr(c_name, 10, 9) AS digits
        FROM customer),
    pert AS (
        SELECT *, 1 + (h // 3) % 9 AS p,
               CAST(substr(digits, 1 + (h // 3) % 9, 1) AS INTEGER) AS d
        FROM base WHERE h % 3 = 0),
    registry AS (
        SELECT c_custkey * 2 AS rid, c_name AS name, c_nationkey AS nation,
               c_acctbal AS bal, c_custkey AS entity, FALSE AS perturbed
        FROM base
        UNION ALL
        SELECT c_custkey * 2 + 1,
               'Customer#' || substr(digits, 1, p - 1)
                   || CAST((d + 1) % 10 AS VARCHAR)
                   || substr(digits, p + 1),
               c_nationkey, c_acctbal, c_custkey, TRUE
        FROM pert),
    keyed AS (
        SELECT *, substr(name, 15, 4) AS sfx,
               CAST(FLOOR(bal) AS BIGINT) AS balf
        FROM registry),
    cands AS (
        SELECT a.rid AS ra, b.rid AS rb, a.name AS na, b.name AS nb,
               a.bal AS bala, b.bal AS balb
        FROM keyed a JOIN keyed b
          ON a.nation = b.nation AND a.sfx = b.sfx AND a.rid < b.rid
        UNION
        SELECT a.rid, b.rid, a.name, b.name, a.bal, b.bal
        FROM keyed a JOIN keyed b
          ON a.nation = b.nation AND a.balf = b.balf AND a.rid < b.rid),
    matches AS (
        SELECT ra, rb FROM cands
        WHERE levenshtein(na, nb) <= 1 AND ABS(bala - balb) < 0.005),
    edges AS (
        SELECT ra AS src, rb AS dst FROM matches
        UNION ALL
        SELECT rb, ra FROM matches),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    walk(node, root) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.dst, w.root FROM walk w JOIN edges e ON e.src = w.node),
    comp AS (SELECT node, MIN(root) AS comp FROM walk GROUP BY node),
    labeled AS (
        SELECT r.rid, r.entity, r.perturbed,
               COALESCE(c.comp, r.rid) AS cluster_id
        FROM registry r LEFT JOIN comp c ON c.node = r.rid)
    SELECT cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_records,
           CAST(COUNT(DISTINCT entity) AS BIGINT) AS n_entities,
           CAST(SUM(CASE WHEN perturbed THEN 1 ELSE 0 END) AS BIGINT)
               AS n_perturbed,
           COUNT(DISTINCT entity) > 1 AS overmerged
    FROM labeled
    GROUP BY cluster_id
    ORDER BY cluster_id
    """


@query("entity_resolution_dirty_customers", oracle=_er_sql())
def entity_resolution_dirty_customers(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """Record linkage over a deterministically-dirtied customer
    registry: one third of customers (md5-selected) get a duplicate
    record whose name has one digit replaced (md5-selected position),
    same balance — the classic typo-dupe.  The resolver runs the
    standard multi-pass shape: two BLOCKING passes (nation + name
    suffix-4; nation + integer balance — the second guarantees every
    planted pair co-blocks regardless of typo position), a match rule
    combining field similarities (name Levenshtein ≤ 1 AND balance
    within half a cent), then transitive closure into entity clusters
    via distributed connected components (operators/graph.py).  Per
    cluster: record/entity/perturbed counts and an `overmerged` flag —
    TRUE means distinct source entities fused (name-adjacent customers
    whose balances also collide), the precision failure ER dashboards
    track.

    Scale shape: blocking bounds candidate pairs to Σ|block|² (the
    low-entropy left half of the fixture names is exactly why the
    suffix and balance keys carry the discrimination — production
    blocking picks keys by entropy, same as here); match scoring is an
    equi-join + cheap per-pair verify (the dedup family's
    candidates-then-verify discipline); CC is the same min-label
    fixpoint every dedup closure here uses.  Planted-pair recall = 1.0
    is pytest-pinned; over-merge is measured, not hidden."""
    from etl_cloud_batch_processing_spark.operators.graph import (
        connected_components)

    cust = table(spark, sf_dir, "customer")
    h = (F.conv(F.substring(
        F.md5(F.col("c_custkey").cast("string").cast("binary")), 1, 15),
        16, 10).cast("bigint"))
    base = cust.select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal",
        h.alias("h"), F.substring("c_name", 10, 9).alias("digits"))
    pert = (base.filter(F.col("h") % 3 == 0)
            .withColumn("p", 1 + F.expr("h DIV 3") % 9)
            .withColumn("d", F.expr("CAST(substr(digits, p, 1) AS INT)")))
    registry = (
        base.select((F.col("c_custkey") * 2).alias("rid"),
                    F.col("c_name").alias("name"),
                    F.col("c_nationkey").alias("nation"),
                    F.col("c_acctbal").alias("bal"),
                    F.col("c_custkey").alias("entity"),
                    F.lit(False).alias("perturbed"))
        .unionByName(pert.select(
            (F.col("c_custkey") * 2 + 1).alias("rid"),
            F.expr("concat('Customer#', substr(digits, 1, p - 1),"
                   " CAST((d + 1) % 10 AS STRING),"
                   " substr(digits, p + 1))").alias("name"),
            F.col("c_nationkey").alias("nation"),
            F.col("c_acctbal").alias("bal"),
            F.col("c_custkey").alias("entity"),
            F.lit(True).alias("perturbed"))))
    keyed = registry.select(
        "*", F.substring("name", 15, 4).alias("sfx"),
        F.floor("bal").cast("bigint").alias("balf")).persist()
    a, b = keyed.alias("a"), keyed.alias("b")

    def pass_on(key: str) -> DataFrame:
        return (a.join(b, (F.col(f"a.{key}") == F.col(f"b.{key}"))
                       & (F.col("a.nation") == F.col("b.nation"))
                       & (F.col("a.rid") < F.col("b.rid")))
                .select(F.col("a.rid").alias("ra"),
                        F.col("b.rid").alias("rb"),
                        F.col("a.name").alias("na"),
                        F.col("b.name").alias("nb"),
                        F.col("a.bal").alias("bala"),
                        F.col("b.bal").alias("balb")))

    cands = pass_on("sfx").unionByName(pass_on("balf")).distinct()
    matches = cands.filter(
        (F.levenshtein("na", "nb") <= 1)
        & (F.abs(F.col("bala") - F.col("balb")) < 0.005))
    edges = (matches.select(F.col("ra").alias("src"),
                            F.col("rb").alias("dst"))
             .unionByName(matches.select(F.col("rb").alias("src"),
                                         F.col("ra").alias("dst"))))
    comp = connected_components(edges)
    labeled = (registry.join(
        comp.select(F.col("id").alias("rid"), "comp"), "rid", "left")
        .select("rid", "entity", "perturbed",
                F.coalesce("comp", "rid").alias("cluster_id")))
    return (labeled.groupBy("cluster_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_records"),
                 F.countDistinct("entity").alias("n_entities"),
                 F.sum(F.when(F.col("perturbed"), 1).otherwise(0))
                 .cast("bigint").alias("n_perturbed"),
                 (F.countDistinct("entity") > 1).alias("overmerged"))
            .orderBy("cluster_id"))
