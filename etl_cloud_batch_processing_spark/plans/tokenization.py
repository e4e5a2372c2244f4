"""Tokenizer-training / span-duplication queries over the documents
corpus — the round-7 text-pipeline family.

The reference repo delegates all text handling to BigQuery SQL
(reference dags/daily_search_history.py:57-65) and never tokenizes;
these operators come from the north-star LLM-pipeline mandate
(SURVEY.md §2.12 NS4): a 100-TB corpus platform must be able to TRAIN
a subword tokenizer's merge table and APPLY it, and to measure the
longest-duplicated-span distribution that drives Lee et al.-style
span dedup.

Shared discipline:

* merges are learned and applied as *columnar folds* over per-doc
  token arrays — ``F.aggregate`` butterfly, no Python in the hot path;
* every iterative step is an unrolled round (same discipline as
  ``kmeans_lloyd_centroids``), so the whole computation is
  value-checkable against a DuckDB twin that replays the identical
  rounds as an unrolled CTE chain;
* the oracle represents token arrays as ``|tok||tok||tok|`` strings
  (tokens are '|'-free in this corpus — asserted by the charset probe
  in tests) because DuckDB lacks an array-accumulator fold; greedy
  left-to-right non-overlapping pair-merge is then exactly one
  ``replace('|a||b|' -> '|a b|')`` per round, byte-equivalent to the
  Spark fold (property-tested in tests/test_tokenization.py).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_cloud_batch_processing_spark.functions import text as T
from etl_cloud_batch_processing_spark.plans.registry import (
    ptable,
    query,
    table,
)
from etl_cloud_batch_processing_spark.session import session_memo

# ---------------------------------------------------------------------------
# BPE: train k merges, apply them, report compression.
# ---------------------------------------------------------------------------

#: Unrolled BPE merge rounds.  Production trains thousands of merges by
#: looping this exact dataflow; 4 rounds keep the value-checked plan
#: (and its DuckDB CTE-chain twin) readable while exercising the full
#: train->apply cycle, including merged symbols participating in later
#: pair counts.
BPE_ROUNDS = 4


def apply_bpe_merge(toks: Column, left: Column, right: Column) -> Column:
    """Greedy left-to-right non-overlapping application of ONE merge
    rule (left, right) -> "left right" to a token array — the inner
    step of BPE encoding, as a single ``F.aggregate`` fold (JVM-side,
    whole-stage codegen; no Python, no posexplode/re-collect shuffle).

    The fold carries the merged-so-far array: each incoming token
    either fuses with the array's last element (when that element
    equals ``left`` and the token equals ``right``) or is appended.
    Because a fused symbol is ``left || ' ' || right`` it can never
    equal ``left`` again for a non-empty ``right``, so the fold is
    exactly the non-overlapping greedy scan of canonical BPE.
    ``left``/``right`` may be outer *columns* (e.g. a broadcast 1-row
    merge frame), which is what lets training chain rounds without
    driver round-trips."""
    merged = F.concat(left, F.lit(" "), right)

    def step(acc: Column, x: Column) -> Column:
        hit = ((F.size(acc) > 0)
               & (F.element_at(acc, -1) == left) & (x == right))
        return (F.when(hit, F.concat(F.slice(acc, 1, F.size(acc) - 1),
                                     F.array(merged)))
                .otherwise(F.concat(acc, F.array(x))))

    return F.aggregate(toks, F.array().cast("array<string>"), step)


def _pair_counts(toks_df: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts of a (doc_id, toks) frame — the BPE
    training statistic.  Pairs are built columnar and explode feeds one
    partial-aggregated groupBy, so shuffle volume is O(distinct pairs),
    not O(tokens) (same shape as ``bpe_merge_candidates``)."""
    pair = F.explode(F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.struct(
            F.element_at(F.col("toks"), i).alias("a"),
            F.element_at(F.col("toks"), i + 1).alias("b")))).alias("p")
    return (toks_df.filter(F.size("toks") >= 2).select(pair)
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.count(F.lit(1)).alias("n")))


# Memoized: train, encode-counts and compression share one training.
@session_memo
def bpe_rounds(spark: SparkSession,
               sf_dir: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Run :data:`BPE_ROUNDS` (k) unrolled BPE training rounds over the
    documents corpus.

    Returns ``(toks0, toks_k, merges)``: the initial per-doc token
    arrays, the arrays after k merges, and the learned merge table
    (round, left_sym, right_sym, n_occurrences).

    Each round: count adjacent pairs -> take the argmax with a total
    (n DESC, a ASC, b ASC) tiebreak -> broadcast that 1-row merge frame
    onto the corpus and fold it in (:func:`apply_bpe_merge`).  The
    merge flows between rounds as a broadcast frame, never through the
    driver.  Every round's token frame is persisted while it is still
    a dependency: round r+1's pair counting AND its fold both read
    round r's output, and without the persist the doubly-referenced
    lineage re-executes all prior folds 2^k times.  Once the merge
    table and the final token frame are MATERIALIZED (two one-scalar
    count() actions — the edges.count() pinning discipline), the
    intermediate round frames are unpersisted: only ``toks0`` and
    ``toks_k`` stay cached, so a full sweep carries 2 cached
    corpus-sized frames instead of ~k per consuming query."""
    toks0 = (ptable(spark, sf_dir, "documents")
             .select("doc_id", T.tokens("text").alias("toks"))
             .persist())
    cur = toks0
    merge_frames: list[DataFrame] = []
    round_frames: list[DataFrame] = []
    for r in range(1, BPE_ROUNDS + 1):
        best = (_pair_counts(cur)
                .orderBy(F.desc("n"), F.asc("a"), F.asc("b")).limit(1)
                .select(F.col("a").alias("m_a"), F.col("b").alias("m_b"),
                        F.col("n").alias("m_n")))
        merge_frames.append(best.select(
            F.lit(r).cast("bigint").alias("round"),
            F.col("m_a").alias("left_sym"),
            F.col("m_b").alias("right_sym"),
            F.col("m_n").alias("n_occurrences")))
        cur = (cur.crossJoin(F.broadcast(best))
               .select("doc_id",
                       apply_bpe_merge(F.col("toks"), F.col("m_a"),
                                       F.col("m_b")).alias("toks"))
               .persist())
        round_frames.append(cur)
    merges = reduce(DataFrame.unionByName, merge_frames).persist()
    merges.count()  # materializes rounds 0..k-1 (pair counts + folds)
    cur.count()     # materializes round k from cached round k-1
    for f in round_frames[:-1]:
        f.unpersist()
    return toks0, cur, merges


def _bpe_oracle_ctes(k: int = BPE_ROUNDS) -> str:
    """DuckDB twin of :func:`bpe_rounds` as an unrolled CTE chain.

    Token arrays ride as ``|t1||t2||...|`` strings; one greedy merge
    round is one ``replace`` (see module docstring).  Exposes CTEs
    ``s0..s{k}`` (doc_id, s) and ``b1..b{k}`` (a, b, n) for the final
    SELECT to consume.  chr(9) keys the pair groupBy (corpus tokens
    are tab-free; merged symbols are space-joined, so ' ' would be
    ambiguous from round 2 on).

    Every ``s{r}`` is ``AS MATERIALIZED``: each is referenced twice
    (next round's pair count + next round's replace), so an inlining
    planner would expand the chain 2^k times — at k=16 that is 65k
    copies of the parquet scan, which exhausts file handles before it
    exhausts CPU.  Materialization makes the oracle's cost linear in
    k, mirroring the Spark side's per-round persist/checkpoint."""
    parts = ["s0 AS MATERIALIZED (SELECT doc_id, '|' || array_to_string("
             "string_split(text, ' '), '||') || '|' AS s FROM documents)"]
    for r in range(1, k + 1):
        p = r - 1
        parts.append(
            f"t{r} AS (SELECT doc_id, string_split(substr(s, 2, "
            f"length(s) - 2), '||') AS toks FROM s{p})")
        parts.append(
            f"c{r} AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS n FROM "
            f"(SELECT unnest(list_transform(range(1, len(toks)), "
            f"i -> toks[i] || chr(9) || toks[i+1])) AS p "
            f"FROM t{r} WHERE len(toks) >= 2) GROUP BY p)")
        parts.append(
            f"b{r} AS (SELECT string_split(p, chr(9))[1] AS a, "
            f"string_split(p, chr(9))[2] AS b, n "
            f"FROM c{r} ORDER BY n DESC, a ASC, b ASC LIMIT 1)")
        parts.append(
            f"s{r} AS MATERIALIZED (SELECT doc_id, replace(s, "
            f"'|' || b.a || '||' || b.b || '|', "
            f"'|' || b.a || ' ' || b.b || '|') AS s FROM s{p}, b{r} b)")
    return ",\n    ".join(parts)


@query(
    "bpe_train_merges",
    oracle=f"""
    WITH {_bpe_oracle_ctes()}
    SELECT * FROM (
        {" UNION ALL ".join(
            f"SELECT CAST({r} AS BIGINT) AS round, a AS left_sym, "
            f"b AS right_sym, n AS n_occurrences FROM b{r}"
            for r in range(1, BPE_ROUNDS + 1))})
    ORDER BY round
    """,
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, 4 unrolled rounds (BPE_ROUNDS): the merge
    table (round, left_sym, right_sym, n_occurrences) a greedy
    pair-merge trainer learns from this corpus.  Extends
    ``bpe_merge_candidates`` (which computes ONE round's statistic)
    with the actual train loop: count -> argmax -> apply -> recount,
    so later rounds see merged symbols (a round-2+ pair can have a
    multi-word side).

    Scale: each round is one partial-aggregated pair-count shuffle
    (O(distinct pairs) volume) + a TakeOrdered(1) + a broadcast fold —
    the per-round cost that bounds real training, which is this exact
    dataflow looped a vocab-size number of times over a persisted
    corpus."""
    _, _, merges = bpe_rounds(spark, sf_dir)
    return merges.orderBy("round")


@query(
    "bpe_encode_token_counts",
    oracle=f"""
    WITH {_bpe_oracle_ctes()}
    SELECT d.doc_id,
           CAST(len(string_split(d.text, ' ')) AS BIGINT)
               AS n_tokens_before,
           CAST(len(string_split(substr(sk.s, 2, length(sk.s) - 2),
                                 '||')) AS BIGINT) AS n_tokens_after,
           CAST(len(string_split(d.text, ' '))
                - len(string_split(substr(sk.s, 2, length(sk.s) - 2),
                                   '||')) AS BIGINT) AS n_merges_applied
    FROM documents d JOIN s{BPE_ROUNDS} sk USING (doc_id)
    """,
)
def bpe_encode_token_counts(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """BPE ENCODE: apply the trained 4-merge (BPE_ROUNDS) table to the
    corpus and report per-doc token counts before/after plus the
    number of merges that fired — the compression measurement that
    prices a tokenizer (tokens/doc drives LLM training cost).

    The encode path is the same broadcast-merge fold as training
    (:func:`apply_bpe_merge` once per rule, in rule order — correct
    for any trained table, since a rule's sides can only be built by
    EARLIER rules, so one ordered pass equals the
    apply-highest-priority-until-fixpoint definition).  At 100 TB the
    trained table is a few-thousand-row broadcast and encoding is
    embarrassingly parallel: per-doc folds, zero shuffle."""
    toks0, toksk, _ = bpe_rounds(spark, sf_dir)
    before = toks0.select(
        "doc_id", F.size("toks").cast("bigint").alias("n_tokens_before"))
    after = toksk.select(
        "doc_id", F.size("toks").cast("bigint").alias("n_tokens_after"))
    return (before.join(after, "doc_id")
            .select("doc_id", "n_tokens_before", "n_tokens_after",
                    (F.col("n_tokens_before") - F.col("n_tokens_after"))
                    .alias("n_merges_applied")))


#: Merge budget for the convergence-runner BPE trainer.  4 unrolled
#: rounds (BPE_ROUNDS) prove the dataflow; a real tokenizer trains
#: thousands of merges, which the single-lazy-plan form cannot do: the
#: fold references each round's frame TWICE (pair counts + fold input),
#: so the analyzed plan holds 2^k copies of round 0 — at k=16 that is
#: 65k subtrees and Catalyst analysis, not data, becomes the bottleneck.
BPE_K16_ROUNDS = 16

#: localCheckpoint cadence for the k16 trainer: lineage depth stays
#: <= 4 folds regardless of total merge count.
BPE_CKPT_EVERY = 4


def bpe_train_converged(spark: SparkSession, sf_dir: str,
                        max_merges: int,
                        checkpoint_every: int = BPE_CKPT_EVERY):
    """BPE training as a production trainer runs it: a convergence-
    runner driver loop (operators/iterative.py) instead of one unrolled
    lazy plan.  Per round: ONE pair-count shuffle over the cached token
    frame, the argmax rule fetched to the driver (3 scalars — the merge
    TABLE is driver/broadcast-sized by definition; the corpus never
    moves), the fold applied with literal rule sides (so each round's
    plan references its predecessor exactly ONCE — linear, not 2^k),
    ``localCheckpoint`` truncation every ``checkpoint_every`` rounds,
    and an early stop when the best pair's count drops below 2 (a rule
    that fires once compresses nothing — canonical BPE's stopping
    rule).

    Returns ``(merges, final_toks, fixpoint_result)`` where ``merges``
    is the (round, left_sym, right_sym, n_occurrences) table.  Compare
    :func:`bpe_rounds`, the value-checked unrolled twin whose merge
    rules flow as broadcast frames inside one plan: same statistic,
    same greedy fold, different execution discipline — the k16 query's
    oracle (the same CTE chain generator, k=16) proves both land on
    identical merges."""
    toks0 = (ptable(spark, sf_dir, "documents")
             .select("doc_id", T.tokens("text").alias("toks"))
             .persist())
    toks0.count()  # read by round 1's pair count AND fold: materialize
    out = _bpe_converged(spark, toks0, max_merges, checkpoint_every)
    toks0.unpersist()
    return out


def _bpe_converged(spark: SparkSession, toks0: DataFrame,
                   max_merges: int, checkpoint_every: int):
    """Runner core of :func:`bpe_train_converged` over an
    already-materialized (doc_id, toks) frame — separated so tests can
    drive it with a toy corpus that dries up mid-budget."""
    from etl_cloud_batch_processing_spark.operators.iterative import (
        iterate_to_fixpoint,
    )

    merge_rows: list[tuple[int, str, str, int]] = []
    info = {"round": 0}
    pending: dict[str, object] = {}

    def _argmax(frame: DataFrame):
        return (_pair_counts(frame)
                .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
                .limit(1).first())

    def step(cur: DataFrame) -> DataFrame:
        info["round"] += 1
        # Rounds 2+: the rule was already computed by the PREVIOUS
        # round's metric (lookahead); round 1 argmaxes the caller-
        # materialized seed frame.
        best = pending.pop("best") if pending else _argmax(cur)
        if best is None or best["n"] < 2:
            return cur  # no productive merge left (round-1 dry corpus)
        merge_rows.append((info["round"], best["a"], best["b"],
                           int(best["n"])))
        return cur.select(
            "doc_id",
            apply_bpe_merge(F.col("toks"), F.lit(best["a"]),
                            F.lit(best["b"])).alias("toks"))

    def metric(old: DataFrame, new: DataFrame) -> float:
        # LOOKAHEAD argmax (optimization round 13): compute the NEXT
        # round's rule over this round's frame.  This is the metric's
        # one scan of ``new`` — it materializes the frame the moment it
        # is created, which the fused materialize="metric" mode relies
        # on.  (The previous shape argmaxed at the START of the next
        # step instead, which left every checkpoint round's frame
        # unmaterialized while the runner freed the persisted rounds
        # behind it — so the next argmax recomputed checkpoint_every
        # folds in one job, 9 redundant corpus passes at k=16.)  The
        # returned value is the candidate rule's count: < 2 means the
        # next round would be unproductive, so the loop stops WITHOUT
        # paying that no-op round — same merge table, same final
        # tokens, one round fewer on a drying corpus.
        best = _argmax(new)
        pending["best"] = best
        return float(best["n"]) if best is not None else 0.0

    res = iterate_to_fixpoint(
        toks0, step, metric,
        tol=1.0, max_rounds=max_merges,
        checkpoint_every=checkpoint_every, materialize="metric")
    merges = spark.createDataFrame(
        merge_rows,
        "round bigint, left_sym string, right_sym string, "
        "n_occurrences bigint")
    return merges, res.state, res


@query(
    "bpe_train_merges_k16",
    oracle=f"""
    WITH {_bpe_oracle_ctes(BPE_K16_ROUNDS)}
    SELECT * FROM (
        {" UNION ALL ".join(
            f"SELECT CAST({r} AS BIGINT) AS round, a AS left_sym, "
            f"b AS right_sym, n AS n_occurrences FROM b{r}"
            for r in range(1, BPE_K16_ROUNDS + 1))})
    ORDER BY round
    """,
)
def bpe_train_merges_k16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 16-merge BPE table via the convergence runner
    (:func:`bpe_train_converged`) — the round-count scale-up the
    unrolled 4-round ``bpe_train_merges`` cannot reach (its lazy plan
    doubles per round; this one's is linear with depth <= 4 via
    checkpointing, so 16 or 16,000 merges run the same way).  The
    oracle is generated MECHANICALLY by the same CTE-chain generator at
    k=16, so the driver-loop execution is value-checked merge-by-merge
    against the engine-independent replay, including rounds where
    earlier merged symbols win again.

    On the fixtures every round's best pair repeats (count >= 2), so
    the early-stop never fires and exactly 16 rules come back — the
    convergence path itself is unit-tested in
    tests/test_tokenization.py on a corpus that dries up mid-budget."""
    merges, _, _ = bpe_train_converged(spark, sf_dir, BPE_K16_ROUNDS)
    return merges.orderBy("round")


# ---------------------------------------------------------------------------
# Longest-duplicated-span distribution (Lee et al.-style span dedup).
# ---------------------------------------------------------------------------

#: Probed span lengths (tokens).  Bounded multi-length passes via the
#: shingle machinery stand in for a suffix array: dup-at-L implies
#: dup-at-(L/2), so the max over this ladder brackets the true longest
#: duplicated span within a factor of 2.
SPAN_LENGTHS = (8, 16, 32, 64)


@query(
    "max_duplicate_span_lengths",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM documents),
    ls AS (SELECT CAST(unnest([{", ".join(map(str, SPAN_LENGTHS))}])
                       AS BIGINT) AS span_len),
    spans AS (
        SELECT doc_id, span_len,
               unnest(list_transform(range(1, len(toks) - span_len + 2),
                      i -> md5(array_to_string(toks[i : i + span_len - 1],
                                               ' ')))) AS h
        FROM toks, ls WHERE len(toks) >= span_len),
    d AS (SELECT doc_id, span_len,
                 COUNT(*) OVER (PARTITION BY span_len, h) AS n
          FROM spans),
    doc_l AS (SELECT doc_id, span_len,
                     CAST(COUNT(*) AS BIGINT) AS n_dup
              FROM d WHERE n >= 2 GROUP BY doc_id, span_len),
    best AS (SELECT doc_id, span_len, n_dup,
                    ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY span_len DESC) AS rn
             FROM doc_l)
    SELECT d0.doc_id,
           COALESCE(b.span_len, 0) AS max_dup_span_len,
           COALESCE(b.n_dup, 0) AS n_dup_spans_at_max
    FROM documents d0
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
    """,
)
def max_duplicate_span_lengths(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Longest duplicated span per document over the
    8/16/32/64-token ladder (SPAN_LENGTHS): for each doc, the largest
    probed L at
    which some L-token window occurs >= 2 times corpus-wide, plus how
    many of the doc's windows are duplicated at that L (0/0 for docs
    with no duplicated span).  This is the distribution Lee et al.
    (2022) span dedup thresholds on; the fixed-L twin is
    ``line_dedup_spans``.

    Scale shape: windows are built columnar (sequence + slice +
    concat_ws, all codegen) and IMMEDIATELY md5-compressed so the
    shuffle carries 32-char keys, never 64-token strings.  One
    hash-partitioned window (span_len, h) marks duplicates — the same
    single shuffle a groupBy would cost, without a second-pass join
    back to positions — then one (doc_id, span_len) partial agg and a
    per-doc top-1.  Dup-at-L implying dup-at-smaller-L is the
    monotonicity property the tests assert."""
    docs = ptable(spark, sf_dir, "documents")
    toks = docs.select("doc_id", T.tokens("text").alias("toks"))
    lengths = F.explode(F.array(
        *[F.lit(n).cast("bigint") for n in SPAN_LENGTHS])).alias("span_len")
    spans = (toks.select("doc_id", lengths, "toks")
             .filter(F.size("toks") >= F.col("span_len"))
             .select("doc_id", "span_len",
                     F.explode(F.transform(
                         F.sequence(F.lit(1).cast("bigint"),
                                    F.size("toks") - F.col("span_len") + 1),
                         lambda i: F.md5(F.concat_ws(" ", F.slice(
                             F.col("toks"), i,
                             F.col("span_len")))))).alias("h")))
    wdup = Window.partitionBy("span_len", "h")
    doc_l = (spans.withColumn("n", F.count(F.lit(1)).over(wdup))
             .filter(F.col("n") >= 2)
             .groupBy("doc_id", "span_len")
             .agg(F.count(F.lit(1)).alias("n_dup")))
    wbest = Window.partitionBy("doc_id").orderBy(F.desc("span_len"))
    best = (doc_l.withColumn("rn", F.row_number().over(wbest))
            .filter(F.col("rn") == 1))
    return (table(spark, sf_dir, "documents").select("doc_id")
            .join(best, "doc_id", "left")
            .select("doc_id",
                    F.coalesce(F.col("span_len"), F.lit(0).cast("bigint"))
                    .alias("max_dup_span_len"),
                    F.coalesce(F.col("n_dup"), F.lit(0).cast("bigint"))
                    .alias("n_dup_spans_at_max")))


@query(
    "bpe_compression_by_lang",
    oracle=f"""
    WITH {_bpe_oracle_ctes()}
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(d.text, ' '))) AS BIGINT)
               AS tokens_before,
           CAST(SUM(len(string_split(substr(sk.s, 2, length(sk.s) - 2),
                                     '||'))) AS BIGINT) AS tokens_after,
           ROUND(SUM(len(string_split(substr(sk.s, 2, length(sk.s) - 2),
                                      '||'))) * 1.0
                 / SUM(len(string_split(d.text, ' '))), 6) + 0.0
               AS compression_ratio
    FROM documents d JOIN s{BPE_ROUNDS} sk USING (doc_id)
    GROUP BY d.lang
    """,
)
def bpe_compression_by_lang(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Per-language BPE compression: token totals before/after the
    trained 4-merge (BPE_ROUNDS) table and the after/before ratio — the
    fairness audit every multilingual tokenizer needs (a merge table
    trained on a mixed corpus compresses dominant languages better,
    inflating the effective training cost of the rest; this is the
    per-language evidence).

    Same encode dataflow as ``bpe_encode_token_counts`` (broadcast
    folds over the persisted round frames), reduced to the lang grain
    in one partial-aggregated groupBy; the ratio divides two exact
    BIGINT sums once."""
    _, toksk, _ = bpe_rounds(spark, sf_dir)
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    after = toksk.select(
        "doc_id", F.size("toks").cast("bigint").alias("na"))
    before = (ptable(spark, sf_dir, "documents")
              .select("doc_id",
                      F.size(T.tokens("text")).cast("bigint")
                      .alias("nb")))
    return (docs.join(before, "doc_id").join(after, "doc_id")
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("nb").alias("tokens_before"),
                 F.sum("na").alias("tokens_after"))
            .select("lang", "n_docs", "tokens_before", "tokens_after",
                    (F.round(F.col("tokens_after") * 1.0
                             / F.col("tokens_before"), 6)
                     + F.lit(0.0)).alias("compression_ratio")))
