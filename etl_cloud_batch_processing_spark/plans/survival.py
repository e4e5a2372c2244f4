"""Survival analysis over the events table — Kaplan–Meier conversion
curves, stratified curves, and restricted-mean survival time.

The round-7 aggregation family (its own module per the
one-family-one-module rule that created profiling.py/drift.py).  The
reference repo has no aggregation at all beyond a LIMIT 1
(reference dags/daily_search_history.py:74-86); this family comes from
the analytics surface a 100-TB product warehouse actually runs:
"how long until a new user converts, given that many never do inside
the observation window?" is a censored-duration question, and naive
avg(days-to-convert) over converters only is the classic survivorship
bias.  Kaplan–Meier (1958) is the standard estimator.

Design shared by all three queries:

* the corpus-scale work is exactly TWO partial-aggregated user-grain
  passes (first event + first conversion per user) joined into one
  ~users-row duration frame;
* everything after — death counts, at-risk counts, the product-limit
  curve — runs on a frame bounded by the horizon (≤ H distinct death
  days per stratum), so the single-partition windows the curve needs
  touch a few rows BY CONSTRUCTION (same argument as
  ``tokenizer_vocab_coverage``);
* durations are exact integer days and at-risk/death counts exact
  BIGINTs, so hazards are bit-identical across engines; the
  product-limit survival is computed as ``exp(sum(ln(1 - d/n)))``
  written term-for-term identically in the oracle (both engines fold
  identical doubles), and RMST sums survival as DECIMAL(18,6) so the
  final reduction is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_cloud_batch_processing_spark.plans.registry import query, table
from etl_cloud_batch_processing_spark.session import session_memo

#: Observation horizon (days after a user's first event).  A user whose
#: first purchase lands within H days is an observed conversion at that
#: duration; everyone else is right-censored at H.  5 days puts a
#: meaningful mix of deaths and censoring in every fixture SF.
SURVIVAL_HORIZON_DAYS = 5

#: Conversion event.
_CONVERT_TYPE = "purchase"


# Memoized: four survival queries share one persisted copy of this frame.
@session_memo
def _durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user censored duration frame: (user_id, cohort, t, died).

    ``cohort`` is the user's first event type ((ts, event_id)-tiebroken
    argmin — event_id is unique, so the struct-min is total);
    ``t`` is days from first event to first purchase, clamped to the
    horizon; ``died`` marks an observed conversion inside it."""
    ev = table(spark, sf_dir, "events")
    first = (ev.groupBy("user_id")
             .agg(F.min("ts").alias("t0"),
                  F.min(F.struct("ts", "event_id", "event_type"))
                  .getField("event_type").alias("cohort")))
    conv = (ev.filter(F.col("event_type") == _CONVERT_TYPE)
            .groupBy("user_id").agg(F.min("ts").alias("tp")))
    dur = F.datediff(F.to_date("tp"), F.to_date("t0"))
    died = F.col("tp").isNotNull() & (dur <= SURVIVAL_HORIZON_DAYS)
    # Persisted: every consumer reads this frame 2-4 times (totals,
    # death counts, pooled counts); without the persist each aggregate
    # re-runs both corpus-scale user-grain passes (at 100 TB this frame
    # is users-sized and the thing you cache, the events scan is the
    # thing you don't repeat).
    return (first.join(conv, "user_id", "left")
            .select("user_id", "cohort",
                    F.when(died, dur).otherwise(
                        F.lit(SURVIVAL_HORIZON_DAYS))
                    .cast("bigint").alias("t"),
                    died.alias("died"))
            .persist())


def _km_curve(u: DataFrame, strata: list[str]) -> DataFrame:
    """Kaplan–Meier product-limit curve from a duration frame, grouped
    by ``strata`` (possibly empty): one row per (stratum, death day)
    with at-risk count, deaths, hazard, and survival.

    At-risk at day t = stratum size − deaths strictly before t (all
    censoring happens at the horizon, which is ≥ every death day, so
    censored users stay in the risk set through any death time — the
    standard deaths-before-censoring tie convention)."""
    tot = u.groupBy(*strata).agg(
        F.count(F.lit(1)).alias("n_total")) if strata else \
        u.agg(F.count(F.lit(1)).alias("n_total"))
    d = (u.filter("died")
         .groupBy(*strata, "t")
         .agg(F.count(F.lit(1)).alias("n_events")))
    joined = (d.join(F.broadcast(tot), strata) if strata
              else d.crossJoin(F.broadcast(tot)))
    w = Window.partitionBy(*strata).orderBy("t") if strata else \
        Window.orderBy("t")
    prior = F.coalesce(
        F.sum("n_events").over(w.rowsBetween(
            Window.unboundedPreceding, -1)), F.lit(0))
    at_risk = (F.col("n_total") - prior).alias("n_at_risk")
    curve = joined.select(*strata, F.col("t").alias("t_days"),
                          at_risk, "n_events")
    wcum = (Window.partitionBy(*strata).orderBy("t_days")
            if strata else Window.orderBy("t_days"))
    # A day where everyone remaining converts makes the factor 0 —
    # ln(0) is NULL in Spark (silently skipped by SUM) but an ERROR in
    # DuckDB, so both sides ln a guarded factor and pin survival to 0
    # from the first such day on (it is necessarily terminal: nobody
    # remains at risk afterwards).
    extinct = F.col("n_events") == F.col("n_at_risk")
    factor = F.when(extinct, F.lit(1.0)).otherwise(
        F.lit(1.0) - F.col("n_events") * 1.0 / F.col("n_at_risk"))
    surv = F.when(
        F.max(extinct.cast("int")).over(wcum) == 1, F.lit(0.0)
    ).otherwise(F.exp(F.sum(F.log(factor)).over(wcum)))
    return curve.select(
        *strata, "t_days", "n_at_risk", "n_events",
        (F.round(F.col("n_events") * 1.0 / F.col("n_at_risk"), 6)
         + F.lit(0.0)).alias("hazard"),
        (F.round(surv, 6) + F.lit(0.0)).alias("survival"))


def _surv_base_sql(with_cohort: bool) -> str:
    """Oracle twin of :func:`_durations` + death/at-risk counting, as a
    CTE prefix ending in ``curve`` (cohort?, t_days, n_at_risk,
    n_events, hazard, survival) — written term-for-term identical to
    the Spark expressions so doubles fold identically."""
    coh = "cohort, " if with_cohort else ""
    part = "PARTITION BY cohort " if with_cohort else ""
    grp = "GROUP BY cohort, t" if with_cohort else "GROUP BY t"
    tot_grp = "GROUP BY cohort" if with_cohort else ""
    tot_join = "JOIN tot USING (cohort)" if with_cohort else ", tot"
    return f"""
    fe AS (
        SELECT user_id, event_type AS cohort
        FROM (SELECT user_id, event_type,
                     ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS rn
              FROM events) WHERE rn = 1),
    f AS (SELECT user_id, MIN(ts) AS t0 FROM events GROUP BY user_id),
    p AS (SELECT user_id, MIN(ts) AS tp FROM events
          WHERE event_type = '{_CONVERT_TYPE}' GROUP BY user_id),
    u AS (
        SELECT f.user_id, fe.cohort,
               CASE WHEN p.tp IS NOT NULL
                         AND date_diff('day', CAST(f.t0 AS DATE),
                                       CAST(p.tp AS DATE))
                             <= {SURVIVAL_HORIZON_DAYS}
                    THEN CAST(date_diff('day', CAST(f.t0 AS DATE),
                                        CAST(p.tp AS DATE)) AS BIGINT)
                    ELSE {SURVIVAL_HORIZON_DAYS} END AS t,
               p.tp IS NOT NULL
                   AND date_diff('day', CAST(f.t0 AS DATE),
                                 CAST(p.tp AS DATE))
                       <= {SURVIVAL_HORIZON_DAYS} AS died
        FROM f JOIN fe USING (user_id) LEFT JOIN p USING (user_id)),
    tot AS (SELECT {coh}CAST(COUNT(*) AS BIGINT) AS n_total FROM u
            {tot_grp}),
    d AS (SELECT {coh}t, CAST(COUNT(*) AS BIGINT) AS n_events
          FROM u WHERE died {grp}),
    r AS (
        SELECT {coh}t AS t_days, n_events,
               CAST(n_total - COALESCE(SUM(n_events) OVER (
                   {part}ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS n_at_risk
        FROM d {tot_join}),
    curve AS (
        SELECT {coh}t_days, n_at_risk, n_events,
               ROUND(n_events * 1.0 / n_at_risk, 6) + 0.0 AS hazard,
               CASE WHEN MAX(CASE WHEN n_events = n_at_risk THEN 1
                                  ELSE 0 END)
                         OVER ({part}ORDER BY t_days) = 1
                    THEN 0.0
                    ELSE ROUND(exp(SUM(ln(CASE WHEN n_events = n_at_risk
                                               THEN 1.0
                                               ELSE 1.0 - n_events * 1.0
                                                    / n_at_risk END))
                                   OVER ({part}ORDER BY t_days)), 6)
                         + 0.0
               END AS survival
        FROM r)
    """


@query(
    "conversion_survival_km",
    oracle=f"""
    WITH {_surv_base_sql(with_cohort=False)}
    SELECT t_days, n_at_risk, n_events, hazard, survival FROM curve
    """,
)
def conversion_survival_km(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Kaplan–Meier curve of days from first event to first purchase,
    right-censored at the 5-day horizon (SURVIVAL_HORIZON_DAYS): per
    death day, the
    at-risk count, conversions, discrete hazard d/n, and the
    product-limit survival estimate — the censoring-correct answer to
    "how fast do users convert?" (a plain AVG over converters is
    survivorship-biased).

    Corpus-scale work: two user-grain partial aggs + one left join;
    the curve math (windows, exp-sum-ln product limit) runs on ≤
    horizon+1 rows by construction."""
    return _km_curve(_durations(spark, sf_dir), [])


@query(
    "conversion_survival_by_cohort",
    oracle=f"""
    WITH {_surv_base_sql(with_cohort=True)}
    SELECT cohort, t_days, n_at_risk, n_events, hazard, survival
    FROM curve
    """,
)
def conversion_survival_by_cohort(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """The stratified form of ``conversion_survival_km``: one
    Kaplan–Meier curve per acquisition cohort (the user's first event
    type, (ts, event_id)-tiebroken) — the "does entry path change
    conversion speed?" comparison that feeds a log-rank test.

    Same two user-grain passes; strata only re-key the tiny curve
    frame, so cost is independent of stratum count."""
    return _km_curve(_durations(spark, sf_dir), ["cohort"])


@query(
    "conversion_rmst_by_cohort",
    oracle=f"""
    WITH {_surv_base_sql(with_cohort=True)},
    grid AS (SELECT CAST(unnest(range(0, {SURVIVAL_HORIZON_DAYS}))
                        AS BIGINT) AS j),
    cg AS (SELECT t.cohort, g.j FROM tot t, grid g),
    sj AS (
        SELECT cg.cohort, cg.j,
               CAST(COALESCE(MIN(c.survival), 1.0) AS DECIMAL(18, 6))
                   AS s
        FROM cg
        LEFT JOIN curve c ON c.cohort = cg.cohort AND c.t_days <= cg.j
        GROUP BY cg.cohort, cg.j),
    ev_c AS (SELECT cohort, CAST(SUM(n_events) AS BIGINT) AS n_converted
             FROM d GROUP BY cohort)
    SELECT t.cohort, t.n_total,
           COALESCE(e.n_converted, 0) AS n_converted,
           t.n_total - COALESCE(e.n_converted, 0) AS n_censored,
           r.rmst_days
    FROM tot t
    LEFT JOIN ev_c e USING (cohort)
    JOIN (SELECT cohort, CAST(SUM(s) AS DOUBLE) AS rmst_days
          FROM sj GROUP BY cohort) r
        USING (cohort)
    """,
)
def conversion_rmst_by_cohort(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Restricted-mean survival time per cohort: the area under each
    Kaplan–Meier curve over the 5-day horizon (SURVIVAL_HORIZON_DAYS) —
    "expected un-converted days per user within the window", the
    single-number summary regulators of the curve comparison (RMST is
    the recommended effect measure when hazards aren't proportional).

    The step-function integral is a day grid (horizon rows) joined to
    the curve with t_days <= j and reduced with MIN — survival is
    non-increasing, so min-over-prefix IS the step value, with 1.0
    before the first death.  Survival steps are summed as
    DECIMAL(18,6) (values are already rounded to 6 decimals, so the
    decimal sum is exact and order-independent — the same
    integer-cents discipline as the money aggregates), then cast to
    DOUBLE once at the end (exact at these magnitudes; keeps the
    driver dtype-class check aligned with DuckDB's float fetch)."""
    u = _durations(spark, sf_dir)
    curve = _km_curve(u, ["cohort"])
    tot = u.groupBy("cohort").agg(F.count(F.lit(1)).alias("n_total"))
    conv = (u.filter("died").groupBy("cohort")
            .agg(F.count(F.lit(1)).alias("n_converted")))
    grid = F.explode(F.sequence(
        F.lit(0).cast("bigint"),
        F.lit(SURVIVAL_HORIZON_DAYS - 1).cast("bigint"))).alias("j")
    sj = (tot.select("cohort", grid)
          .join(curve.select(F.col("cohort").alias("ccohort"),
                             F.col("t_days").alias("ct"), "survival"),
                (F.col("cohort") == F.col("ccohort"))
                & (F.col("ct") <= F.col("j")), "left")
          .groupBy("cohort", "j")
          .agg(F.coalesce(F.min("survival"), F.lit(1.0))
               .cast("decimal(18,6)").alias("s")))
    rmst = sj.groupBy("cohort").agg(
        F.sum("s").cast("double").alias("rmst_days"))
    return (tot.join(conv, "cohort", "left")
            .join(rmst, "cohort")
            .select("cohort", "n_total",
                    F.coalesce(F.col("n_converted"), F.lit(0))
                    .cast("bigint").alias("n_converted"),
                    (F.col("n_total")
                     - F.coalesce(F.col("n_converted"), F.lit(0)))
                    .cast("bigint").alias("n_censored"),
                    "rmst_days"))


@query(
    "survival_logrank_test",
    oracle=f"""
    WITH {_surv_base_sql(with_cohort=True)},
    dp AS (
        SELECT t_days AS t, CAST(SUM(n_events) AS BIGINT) AS d_t
        FROM curve GROUP BY t_days),
    np AS (
        SELECT t, d_t,
               CAST((SELECT SUM(n_total) FROM tot)
                    - COALESCE(SUM(d_t) OVER (ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS BIGINT) AS n_t
        FROM dp),
    grid AS (SELECT tot.cohort, tot.n_total, np.t, np.d_t, np.n_t
             FROM tot, np),
    gat AS (
        SELECT g.cohort, g.n_total, g.t, g.d_t, g.n_t,
               CAST(g.n_total - COALESCE((
                   SELECT SUM(d2.n_events) FROM d d2
                   WHERE d2.cohort = g.cohort AND d2.t < g.t), 0)
                   AS BIGINT) AS n_gt
        FROM grid g),
    terms AS (
        SELECT cohort, n_total,
               CAST(ROUND(d_t * n_gt * 1.0 / n_t, 6)
                    AS DECIMAL(18, 6)) AS e6
        FROM gat),
    eg AS (SELECT cohort, MAX(n_total) AS n_total,
                  CAST(SUM(e6) AS DOUBLE) AS expected
           FROM terms GROUP BY cohort),
    og AS (SELECT cohort, CAST(SUM(n_events) AS BIGINT) AS observed
           FROM d GROUP BY cohort)
    SELECT e.cohort, e.n_total,
           COALESCE(o.observed, 0) AS observed,
           ROUND(e.expected, 6) + 0.0 AS expected,
           CASE WHEN e.expected = 0 THEN NULL
                ELSE ROUND((COALESCE(o.observed, 0) - e.expected)
                           * (COALESCE(o.observed, 0) - e.expected)
                           / e.expected, 6) + 0.0
           END AS chi2_term
    FROM eg e LEFT JOIN og o USING (cohort)
    """,
)
def survival_logrank_test(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """K-sample log-rank comparison of the cohort survival curves:
    per cohort, observed conversions O vs the expected count E under
    the null that all cohorts share one hazard (E = Σ over pooled
    death days of d_t·n_g,t/n_t), plus the (O−E)²/E term whose sum is
    the log-rank χ² approximation (k−1 df) — the standard "are these
    curves actually different?" test behind
    ``conversion_survival_by_cohort``.

    Every count (pooled deaths d_t, pooled at-risk n_t, per-cohort
    at-risk n_g,t) is an exact BIGINT derived from the same duration
    frame by cumulative-deaths arithmetic (censoring at the horizon
    never leaves the risk set before any death day); the per-day
    expectation terms are rounded to 1e-6 and summed as exact DECIMAL,
    so the only double arithmetic both engines perform is one division
    per term and the final χ² form — order-independent by
    construction.  Frames after the user-grain aggs are cohorts ×
    death-days rows.

    ``chi2_term`` is NULL when ``expected`` rounds to exactly 0 (a tiny
    cohort against a large pooled risk set can round every 1e-6 term to
    zero): Spark's non-ANSI x/0 yields NULL while DuckDB's double
    division yields inf, so both engines guard the division — the same
    degenerate-denominator rule as ``daily_trend_ols``."""
    u = _durations(spark, sf_dir)
    tot = u.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"))
    d = (u.filter("died").groupBy("cohort", "t")
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_events")))
    dp = d.groupBy("t").agg(F.sum("n_events").cast("bigint").alias("d_t"))
    n_all = u.agg(F.count(F.lit(1)).cast("bigint").alias("n_all"))
    wp = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    np_ = (dp.crossJoin(F.broadcast(n_all))
           .select("t", "d_t",
                   (F.col("n_all") - F.coalesce(F.sum("d_t").over(wp),
                                                F.lit(0)))
                   .cast("bigint").alias("n_t")))
    grid = tot.crossJoin(F.broadcast(np_))
    dg = d.select(F.col("cohort").alias("dcohort"),
                  F.col("t").alias("s"),
                  F.col("n_events").alias("dg"))
    gat = (grid.join(dg, (F.col("cohort") == F.col("dcohort"))
                     & (F.col("s") < F.col("t")), "left")
           .drop("dcohort")
           .groupBy("cohort", "n_total", "t", "d_t", "n_t")
           .agg((F.max("n_total") - F.coalesce(F.sum("dg"), F.lit(0)))
                .cast("bigint").alias("n_gt")))
    terms = gat.select(
        "cohort", "n_total",
        F.round(F.col("d_t") * F.col("n_gt") * 1.0 / F.col("n_t"), 6)
        .cast("decimal(18,6)").alias("e6"))
    eg = terms.groupBy("cohort").agg(
        F.max("n_total").alias("n_total"),
        F.sum("e6").cast("double").alias("expected"))
    og = d.groupBy("cohort").agg(
        F.sum("n_events").cast("bigint").alias("observed"))
    o = F.coalesce(F.col("observed"), F.lit(0).cast("bigint"))
    return (eg.join(og, "cohort", "left")
            .select("cohort", "n_total", o.alias("observed"),
                    (F.round(F.col("expected"), 6)
                     + F.lit(0.0)).alias("expected"),
                    F.when(F.col("expected") == 0,
                           F.lit(None).cast("double"))
                    .otherwise(F.round((o - F.col("expected"))
                                       * (o - F.col("expected"))
                                       / F.col("expected"), 6)
                               + F.lit(0.0)).alias("chi2_term")))
