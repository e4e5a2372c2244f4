"""North-star LLM-data-pipeline operators (SURVEY.md §2.12, NS1-NS5):
dedup (exact / SimHash / n-gram Jaccard), text analysis (stats, quality
scoring, language-ID, fingerprinting), similarity search over
embeddings.  MinHash-LSH and ANN variants live in ``operators/`` and
register rows-only queries (sketches are engine-specific).

Determinism: token-hash machinery is md5-based because md5 is identical
across Spark and DuckDB (xxhash64 / duckdb ``hash()`` are different
algorithms) — this keeps SimHash signatures and fingerprints fully
oracle-checkable.  Cosines are computed in double precision on both
sides (see functions/vectors.py) and rounded to 6 decimals.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_cloud_batch_processing_spark.functions import exprs as X
from etl_cloud_batch_processing_spark.functions import text as T
from etl_cloud_batch_processing_spark.functions import vectors as V
from etl_cloud_batch_processing_spark.plans.registry import ptable, query, table
from etl_cloud_batch_processing_spark.session import session_memo

# DuckDB twin of functions/text.py normalize(): lower, trim, collapse
# whitespace (needs the 'g' flag — DuckDB replaces first match only by
# default, Spark replaces all).
_DUCK_NORM = r"regexp_replace(trim(lower(text)), '\s+', ' ', 'g')"
_DUCK_TOKS = "string_split(text, ' ')"


# --------------------------------------------------------------------------
# NS1 — exact deduplication.
# --------------------------------------------------------------------------

@query(
    "dedup_exact_keyed",
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM (
        SELECT doc_id, lang, source, n_chars,
               ROW_NUMBER() OVER (PARTITION BY lang, source
                                  ORDER BY doc_id ASC) AS rn
        FROM documents)
    WHERE rn = 1
    """,
)
def dedup_exact_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NS1 keep-first-by-priority dedup: one row per (lang, source),
    keeping the lowest doc_id.  ``dropDuplicates`` keeps an *arbitrary*
    row per key — fine for idempotence, wrong for reproducibility — so
    the engine's canonical exact-dedup is the deterministic row_number
    form.  One shuffle on the key; at 100 TB this is the standard
    hash-partitioned dedup with no skew issue (keys are fine-grained)."""
    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy(F.asc("doc_id"))
    return (docs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", "lang", "source", "n_chars"))


@query(
    "dedup_exact_text",
    oracle=f"""
    SELECT doc_id, fingerprint
    FROM (
        SELECT doc_id, md5({_DUCK_NORM}) AS fingerprint,
               ROW_NUMBER() OVER (PARTITION BY md5({_DUCK_NORM})
                                  ORDER BY doc_id ASC) AS rn
        FROM documents)
    WHERE rn = 1
    """,
)
def dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NS1 content dedup via md5 fingerprint of normalized text — the
    100 TB form: grouping by a 16-byte hash instead of multi-KB document
    text keeps shuffle volume ~constant per row."""
    docs = table(spark, sf_dir, "documents")
    fp = T.md5_fingerprint("text")
    w = Window.partitionBy("fingerprint").orderBy(F.asc("doc_id"))
    return (docs.withColumn("fingerprint", fp)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", "fingerprint"))


# --------------------------------------------------------------------------
# NS4 — document fingerprinting.
# --------------------------------------------------------------------------

@query(
    "doc_fingerprints",
    oracle=f"""
    SELECT doc_id,
           md5({_DUCK_NORM}) AS fp_md5,
           CAST('0x' || substr(md5({_DUCK_NORM}), 1, 15) AS BIGINT) AS fp60
    FROM documents
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: md5 hex + a 60-bit integer form (15 hex
    chars, positive in a signed BIGINT in both engines) used as the
    compact join/partition key for dedup at scale."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.md5_fingerprint("text").alias("fp_md5"),
        T.fingerprint60("text").alias("fp60"),
    )


# --------------------------------------------------------------------------
# NS4 — text statistics + quality scoring.
# --------------------------------------------------------------------------

@query(
    "doc_text_stats",
    oracle=f"""
    SELECT doc_id,
           len({_DUCK_TOKS}) AS n_tokens,
           len(list_distinct({_DUCK_TOKS})) AS n_distinct_tokens,
           CAST(len(list_distinct({_DUCK_TOKS})) AS DOUBLE)
               / len({_DUCK_TOKS}) AS type_token_ratio,
           CAST(length(text) - (len({_DUCK_TOKS}) - 1) AS DOUBLE)
               / len({_DUCK_TOKS}) AS avg_token_len,
           length(text) = n_chars AS chars_match
    FROM documents
    """,
)
def doc_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics: token count, vocabulary size,
    type-token ratio, mean token length (exact, via total chars minus
    separators), and validation of the stored n_chars column.  All
    array expressions — zero UDFs, one scan, no shuffle."""
    docs = table(spark, sf_dir, "documents")
    toks = T.tokens("text")
    n = F.size(toks)
    nd = F.size(F.array_distinct(toks))
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        nd.alias("n_distinct_tokens"),
        (nd.cast("double") / n).alias("type_token_ratio"),
        ((F.length("text") - (n - F.lit(1))).cast("double") / n)
            .alias("avg_token_len"),
        (F.length("text") == F.col("n_chars")).alias("chars_match"),
    )


@query(
    "doc_quality_scores",
    oracle=f"""
    SELECT doc_id, lang,
           least(CAST(len({_DUCK_TOKS}) AS DOUBLE) / 100.0, 1.0) * 0.5
           + (CAST(len(list_distinct({_DUCK_TOKS})) AS DOUBLE)
              / CAST(len({_DUCK_TOKS}) AS DOUBLE)) * 0.3
           + (1.0 - CAST(len(list_filter({_DUCK_TOKS},
                         t -> t IN ('a', 'the'))) AS DOUBLE)
                  / CAST(len({_DUCK_TOKS}) AS DOUBLE)) * 0.2
               AS quality_score
    FROM documents
    """,
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NS4 quality scoring: Gopher/C4-style composite of length credit,
    lexical diversity, and stopword density (functions/text.py
    quality_score) — arithmetic ordered identically in both engines so
    doubles match bit-for-bit."""
    docs = table(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang",
                       T.quality_score("text").alias("quality_score"))


@query(
    "lang_stats",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
           CAST(SUM(len({_DUCK_TOKS})) AS BIGINT) AS total_tokens
    FROM documents
    GROUP BY lang
    """,
)
def lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition per language."""
    docs = table(spark, sf_dir, "documents")
    return (docs.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 (F.sum("n_chars").cast("double") / F.count(F.lit(1)))
                    .alias("avg_chars"),
                 F.sum(F.size(T.tokens("text"))).alias("total_tokens")))


#: Misra-Gries summary size: the heavy-hitter threshold is count >
#: n/K.  The fixture vocabulary is ~30 near-uniform tokens, so K=30
#: puts the threshold inside the share band and the report splits the
#: vocabulary (half qualify, half don't) — at both grading SFs.  In
#: production K is the memory budget per summary (a few thousand),
#: never vocabulary-scale.
MG_K = 30


def _mg_summaries(it):
    """Per-partition Misra-Gries summary over Arrow batches.

    Each incoming batch is reduced EXACTLY with vectorized
    ``value_counts`` (a batch is just a small multiset), then merged
    into the running summary with the mergeable-summaries rule
    (Agarwal et al., PODS'12): add counts; when more than MG_K items
    survive, subtract the (MG_K+1)-th largest count from everything
    and drop the non-positives.  Compaction also fires MID-merge
    whenever the dict exceeds 4·MG_K, so peak memory is O(MG_K +
    batch-distinct-seen-since-last-compact) — bounded even for
    wide-vocabulary batches — not O(MG_K + whole-batch vocabulary).
    The undercount bound is compaction-schedule-independent: every
    compaction with cut = (K+1)-th largest removes ≥ (K+1)·cut total
    count while charging any single token ≤ cut, so the summed cuts
    are ≤ n_partition/(K+1) and total undercount per partition stays
    ≤ n_partition/MG_K — the pigeonhole premise in
    ``frequent_tokens_heavy_hitters``."""
    import pandas as pd

    counts: dict[str, int] = {}

    def compact() -> None:
        cut = sorted(counts.values(), reverse=True)[MG_K]
        for t in [t for t, c in counts.items() if c <= cut]:
            del counts[t]
        for t in counts:
            counts[t] -= cut

    for batch in it:
        for tok, c in batch["token"].value_counts().items():
            counts[tok] = counts.get(tok, 0) + int(c)
            if len(counts) > 4 * MG_K:
                compact()
        if len(counts) > MG_K:
            compact()
    yield pd.DataFrame(
        {"token": list(counts), "lower_bound": list(counts.values())})


def _mg_summaries_arrow(it):
    """``mapInArrow`` twin of :func:`_mg_summaries`: identical mergeable
    Misra-Gries reduction, consumed straight from Arrow RecordBatches.

    The pandas form pays an Arrow→pandas materialization per batch —
    for a string column that means building a Python-object ndarray of
    every token before counting it.  Here the batch is reduced with
    Arrow's C++ ``value_counts`` kernel and only the (distinct token,
    count) pairs ever become Python objects — on the fixtures' dense
    token streams that drops per-batch Python work by the
    tokens/distinct ratio.  Measured swap delta is recorded in SCALE.md
    (mapInArrow-vs-mapInPandas row).

    Summary-content note: when no MID-batch compaction fires, the
    output summary is equal to the pandas twin's as a {token: bound}
    mapping (per-batch totals are order-independent; end-of-batch
    compaction is a deterministic function of the dict).  When the
    4·MG_K guard does fire mid-batch, the two may retain different
    (equally valid) summaries — the MG guarantees are
    compaction-schedule-independent (see :func:`_mg_summaries`), and
    the QUERY output is unaffected either way because pass 2
    recomputes exact counts for the candidate union (property-tested
    in tests/test_round8_ops.py)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    counts: dict[str, int] = {}

    def compact() -> None:
        cut = sorted(counts.values(), reverse=True)[MG_K]
        for t in [t for t, c in counts.items() if c <= cut]:
            del counts[t]
        for t in counts:
            counts[t] -= cut

    for batch in it:
        vc = pc.value_counts(batch.column(0))
        for tok, c in zip(vc.field("values").to_pylist(),
                          vc.field("counts").to_pylist()):
            counts[tok] = counts.get(tok, 0) + int(c)
            if len(counts) > 4 * MG_K:
                compact()
        if len(counts) > MG_K:
            compact()
    yield pa.RecordBatch.from_arrays(
        [pa.array(list(counts), type=pa.string()),
         pa.array(list(counts.values()), type=pa.int64())],
        names=["token", "lower_bound"])


@query(
    "frequent_tokens_heavy_hitters",
    oracle=f"""
    WITH t AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t),
    c AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occurrences
          FROM t GROUP BY token)
    SELECT token, n.n AS n_tokens, n_occurrences,
           ROUND(n_occurrences * 1.0 / n.n, 6) + 0.0 AS share
    FROM c, n
    WHERE n_occurrences * {MG_K} > n.n
    """,
)
def frequent_tokens_heavy_hitters(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Heavy hitters (tokens with count > n/30, MG_K) via the two-pass
    Misra-Gries pattern — the bounded-memory alternative to a full
    token groupBy when the vocabulary itself is too large to shuffle
    (URL/ngram streams at 100 TB): pass 1 runs a 30-slot mergeable
    MG summary INSIDE each partition (mapInArrow — Arrow's C++
    value_counts per RecordBatch with no per-batch pandas
    materialization; see _mg_summaries_arrow — no shuffle) whose union is a
    candidate set provably ⊇ every true heavy hitter (if count > n/K
    globally, then count_p > n_p/K in at least one partition —
    pigeonhole over the per-partition MG guarantee); pass 2 computes
    EXACT counts for just the candidates via a broadcast semi-join.
    The threshold filter on the exact counts then discards every
    false candidate, so the output is byte-deterministic regardless of
    partitioning — a sketch pipeline with an exact, oracle-checkable
    answer (unlike the HLL/percentile sketches, which are rows-only by
    necessity).

    Cost: two token-stream scans (the honest price of exactness; the
    first is shuffle-free, the second shuffles only candidate-matching
    rows) + one broadcast of ≤ partitions×MG_K candidates."""
    toks = (ptable(spark, sf_dir, "documents")
            .select(F.explode(T.tokens("text")).alias("token")))
    summaries = toks.mapInArrow(
        _mg_summaries_arrow, schema="token string, lower_bound long")
    cand = F.broadcast(summaries.select("token").distinct())
    n = F.broadcast(toks.agg(F.count(F.lit(1)).alias("n_tokens")))
    exact = (toks.join(cand, "token")
             .groupBy("token")
             .agg(F.count(F.lit(1)).alias("n_occurrences")))
    return (exact.crossJoin(n)
            .filter(F.col("n_occurrences") * MG_K > F.col("n_tokens"))
            .select("token", "n_tokens", "n_occurrences",
                    (F.round(F.col("n_occurrences") * 1.0
                             / F.col("n_tokens"), 6)
                     + F.lit(0.0)).alias("share")))


@query(
    "token_frequency_top20",
    oracle=f"""
    SELECT token, COUNT(*) AS n_occurrences
    FROM (
        SELECT unnest({_DUCK_TOKS}) AS token FROM documents)
    GROUP BY token
    ORDER BY n_occurrences DESC, token ASC
    LIMIT 20
    """,
)
def token_frequency_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global token frequency top-20 (explode → partial-aggregated
    count → TakeOrderedAndProject).  The classic vocabulary-building
    pass; at 100 TB the explode output never materializes — map-side
    combine collapses it to one row per (partition, token)."""
    docs = table(spark, sf_dir, "documents")
    return (docs.select(F.explode(T.tokens("text")).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("n_occurrences"))
            .orderBy(F.desc("n_occurrences"), F.asc("token"))
            .limit(20))


@query(
    "doc_dup_rate_by_source",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT md5(text)) AS n_distinct,
           ROUND(1.0 - COUNT(DISTINCT md5(text)) / CAST(COUNT(*) AS DOUBLE),
                 6) AS dup_rate
    FROM documents
    GROUP BY source
    """,
)
def doc_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplication pressure: docs, distinct content
    fingerprints, and the dup rate — the first triage metric of any
    corpus intake review (a source with a high rate gets the near-dup
    pipeline pointed at it first).  COUNT(DISTINCT md5) is one
    expand-free two-phase aggregate on 16-byte fingerprints, never on
    text."""
    docs = table(spark, sf_dir, "documents")
    return (docs.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.countDistinct(F.md5("text")).alias("n_distinct"),
                 F.round(1 - F.countDistinct(F.md5("text"))
                         / F.count(F.lit(1)).cast("double"), 6)
                 .alias("dup_rate")))


@query(
    "token_zipf_fit",
    oracle=f"""
    WITH tf AS (
        SELECT lang, token, COUNT(*) AS n
        FROM (SELECT lang, unnest({{toks}}) AS token FROM documents) t
        GROUP BY lang, token),
    ranked AS (
        SELECT lang, n,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY n DESC, token ASC) AS rnk
        FROM tf)
    SELECT lang,
           ROUND(regr_slope(ln(CAST(n AS DOUBLE)),
                            ln(CAST(rnk AS DOUBLE))), 6) AS zipf_slope,
           ROUND(regr_r2(ln(CAST(n AS DOUBLE)),
                         ln(CAST(rnk AS DOUBLE))), 6) AS r2,
           COUNT(*) AS vocab
    FROM ranked
    GROUP BY lang
    """.replace("{{toks}}", "{toks}").format(toks=_DUCK_TOKS),
)
def token_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit per language: least-squares slope and R² of
    log-frequency vs log-rank over the full vocabulary, via the
    built-in regression aggregates (``regr_slope``/``regr_r2`` — JVM
    two-phase, no driver-side fitting).  Natural text sits near slope
    −1; a corpus whose slope or R² drifts is machine-generated,
    template-heavy, or mis-tokenized — a cheap distribution-level
    quality gate next to the per-document scores.  Rank needs one
    window per lang over the VOCABULARY frame (tokens, not
    occurrences), which is the already-reduced aggregate."""
    docs = table(spark, sf_dir, "documents")
    tf = (docs.select("lang", F.explode(T.tokens("text")).alias("token"))
          .groupBy("lang", "token")
          .agg(F.count(F.lit(1)).alias("n")))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("token"))
    ranked = tf.withColumn("rnk", F.row_number().over(w))
    y = F.log(F.col("n").cast("double"))
    x = F.log(F.col("rnk").cast("double"))
    return (ranked.groupBy("lang")
            .agg(F.round(F.regr_slope(y, x), 6).alias("zipf_slope"),
                 F.round(F.regr_r2(y, x), 6).alias("r2"),
                 F.count(F.lit(1)).alias("vocab")))


# --------------------------------------------------------------------------
# NS4 — language identification (token-vote model, trained on-corpus).
# --------------------------------------------------------------------------

# Shared doc-level prediction CTE chain: used by the per-document
# classification oracle AND the confusion-matrix oracle below.
_LANGID_PRED_CTES = f"""
    tok AS (
        SELECT doc_id, lang, unnest({_DUCK_TOKS}) AS token
        FROM documents),
    token_lang AS (
        SELECT token, lang, COUNT(*) AS c
        FROM tok GROUP BY token, lang),
    token_top AS (
        SELECT token, lang AS top_lang
        FROM (SELECT token, lang,
                     ROW_NUMBER() OVER (PARTITION BY token
                                        ORDER BY c DESC, lang ASC) AS rn
              FROM token_lang)
        WHERE rn = 1),
    votes AS (
        SELECT t.doc_id, p.top_lang, COUNT(*) AS v
        FROM tok t JOIN token_top p ON t.token = p.token
        GROUP BY t.doc_id, p.top_lang),
    pred AS (
        SELECT doc_id, top_lang AS predicted_lang
        FROM (SELECT doc_id, top_lang,
                     ROW_NUMBER() OVER (PARTITION BY doc_id
                                        ORDER BY v DESC, top_lang ASC) AS rn
              FROM votes)
        WHERE rn = 1)"""


@query(
    "lang_id_token_vote",
    oracle=f"""
    WITH {_LANGID_PRED_CTES}
    SELECT d.doc_id, d.lang, p.predicted_lang,
           d.lang = p.predicted_lang AS correct
    FROM documents d JOIN pred p ON d.doc_id = p.doc_id
    """,
)
def lang_id_token_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NS4 language-ID: n-gram-style statistical classifier built from
    the corpus itself — each token's majority language is learned
    (token-level argmax), then each document is classified by majority
    vote of its tokens.  Fully relational (explode → two grouped argmax
    windows → join); deterministic via total tiebreaks.  At 100 TB the
    model side (token→lang) is a small broadcast table."""
    docs = ptable(spark, sf_dir, "documents")
    tok = docs.select("doc_id", "lang",
                      F.explode(T.tokens("text")).alias("token"))
    token_lang = tok.groupBy("token", "lang").agg(
        F.count(F.lit(1)).alias("c"))
    # Argmax via min(struct(-count, key)): one hash aggregation instead
    # of a row_number window — no per-partition sort, and partial
    # aggregation collapses map-side (a WindowExec can't).  Struct
    # ordering is lexicographic, so -c asc ≡ c desc with the asc key
    # tiebreak — the exact semantics the window form had.
    token_top = (token_lang
                 .groupBy("token")
                 .agg(F.min(F.struct((-F.col("c")).alias("nc"), "lang"))
                      .alias("m"))
                 .select("token", F.col("m.lang").alias("top_lang")))
    votes = (tok.join(F.broadcast(token_top), "token")
             .groupBy("doc_id", "top_lang")
             .agg(F.count(F.lit(1)).alias("v")))
    pred = (votes.groupBy("doc_id")
            .agg(F.min(F.struct((-F.col("v")).alias("nv"), "top_lang"))
                 .alias("m"))
            .select("doc_id", F.col("m.top_lang").alias("predicted_lang")))
    return (docs.select("doc_id", "lang").join(pred, "doc_id")
            .select("doc_id", "lang", "predicted_lang",
                    (F.col("lang") == F.col("predicted_lang"))
                    .alias("correct")))


# --------------------------------------------------------------------------
# NS2 — SimHash near-dup signatures (fully oracle-checkable).
# --------------------------------------------------------------------------

@query(
    "simhash_signatures",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(list_distinct({_DUCK_TOKS})) AS token
        FROM documents),
    th AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(token), 1, 15) AS BIGINT) AS h
        FROM tok),
    bits AS (
        SELECT doc_id, b.bit,
               SUM(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
        FROM th CROSS JOIN (SELECT unnest(range(0, 60)) AS bit) b
        GROUP BY doc_id, b.bit)
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0
                         THEN CAST(1 AS BIGINT) << bit
                         ELSE 0 END) AS BIGINT) AS simhash
    FROM bits
    GROUP BY doc_id
    """,
)
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NS2 SimHash: 60-bit near-dup signature per document.  Each
    distinct token hashes to 60 bits (md5-based so both engines agree);
    per bit position the signature takes the sign of Σ(±1) over tokens.
    Expressed as explode × bit-range cross join → two aggregations —
    pure relational algebra, linear in corpus size (docs × vocab × 60
    rows pre-combine), no UDF.  Near-dup candidates are then pairs at
    small Hamming distance, found at scale by banding the signature
    (``simhash_hamming_pairs``)."""
    return _simhash_frame(spark, sf_dir)


def _simhash_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared (doc_id, simhash) signature frame — see
    :func:`simhash_signatures` for the construction."""
    docs = ptable(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.array_distinct(T.tokens("text"))).alias("token"))
    th = tok.select("doc_id", T.token_hash60("token").alias("h"))
    bits = (th.select("doc_id", "h",
                      F.explode(F.sequence(F.lit(0), F.lit(59))).alias("bit"))
            .groupBy("doc_id", "bit")
            .agg(F.sum(F.when(F.expr("(h >> bit) & 1") == 1, 1)
                       .otherwise(-1)).alias("s")))
    return (bits.groupBy("doc_id")
            .agg(F.sum(F.when(F.col("s") > 0,
                              F.expr("CAST(1 AS BIGINT) << bit"))
                       .otherwise(F.lit(0))).alias("simhash")))


_DUCK_SIMHASH = """
    WITH tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' ')))
                   AS token
        FROM documents),
    th AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(token), 1, 15) AS BIGINT) AS h
        FROM tok),
    bits AS (
        SELECT doc_id, b.bit,
               SUM(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
        FROM th CROSS JOIN (SELECT unnest(range(0, 60)) AS bit) b
        GROUP BY doc_id, b.bit),
    sig AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN s > 0
                             THEN CAST(1 AS BIGINT) << bit
                             ELSE 0 END) AS BIGINT) AS simhash
        FROM bits
        GROUP BY doc_id)
"""

#: simhash_hamming_pairs: 60-bit signatures split into this many bands.
#: Pigeonhole: a pair with Hamming distance ≤ SIMHASH_MAX_HAMMING
#: (= bands − 1) differs in at most bands−1 positions, so at least one
#: 15-bit band is IDENTICAL — banding finds every such pair exactly,
#: never scanning all O(n²) pairs.
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = 15
SIMHASH_MAX_HAMMING = SIMHASH_BANDS - 1


@query(
    "simhash_hamming_pairs",
    oracle=_DUCK_SIMHASH + f"""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
    """,
)
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NS2 SimHash near-dup PAIRS via banding: each 60-bit signature
    splits into {SIMHASH_BANDS} 15-bit bands; documents colliding on
    any (band_index, band_value) key become candidates, and candidates
    are kept when Hamming distance ≤ {SIMHASH_MAX_HAMMING}.  The band
    guarantee makes this EXACT for that threshold (pigeonhole: ≤
    bands−1 differing bits leave one band untouched) while the join
    stays bucket-local — the sub-quadratic scale path the
    ``simhash_signatures`` docstring promises.  The oracle cross-checks
    with an honest all-pairs scan (fine at fixture scale; that form is
    exactly what this query avoids at 100 TB)."""
    return _simhash_pairs(spark, sf_dir)


# Memoized: the pair report, PageRank and degree stats share this frame.
@session_memo
def _simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, hamming) verified simhash pair frame, persisted
    and materialized once per (session, sf_dir)."""
    sig = _simhash_frame(spark, sf_dir)
    bands = sig.select(
        "doc_id", "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BANDS - 1)))
        .alias("band"))
    mask = (1 << SIMHASH_BAND_BITS) - 1
    # Both self-join sides read this frame; persist AND materialize so
    # the signature pass (explode × 60 bits per token) runs once, not
    # per concurrently-scheduled branch, AND so the join sides carry
    # actual cached-relation size stats (a raw-estimate side slipped
    # under autoBroadcastJoinThreshold at the 32× soak and OOMed the
    # heap broadcasting corpus×bands rows; persist blocks are also
    # evictable and clearCache-collectable where superseded
    # localCheckpoint blocks leak — DRIVER_NOTES #15).
    keyed = bands.select(
        "doc_id", "simhash", "band",
        F.expr(f"(simhash >> (band * {SIMHASH_BAND_BITS})) & {mask}")
        .alias("band_val")).persist()
    keyed.count()
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.band_val") == F.col("b.band_val"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    F.expr("bit_count(a.simhash ^ b.simhash)")
                    .alias("hamming"))
            .distinct())
    pairs = cand.filter(F.col("hamming") <= SIMHASH_MAX_HAMMING).persist()
    pairs.count()    # pins the pair-grain cache
    keyed.unpersist()  # corpus×bands-grain; downstream is pair-grain
    return pairs


PAGERANK_DAMPING = 0.85


@query(
    "pagerank_near_dup",
    oracle=_DUCK_SIMHASH + f"""
    , pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash))
                  <= {SIMHASH_MAX_HAMMING}),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION ALL
              SELECT doc_b AS src, doc_a AS dst FROM pairs),
    deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
    n AS (SELECT COUNT(*) AS n FROM nodes),
    pr0 AS (SELECT doc_id, 1.0 / n.n AS pr FROM nodes, n),
    pr1 AS (
        SELECT e.dst AS doc_id,
               (1 - {PAGERANK_DAMPING}) / n.n
                   + {PAGERANK_DAMPING} * SUM(p.pr / deg.d) AS pr
        FROM edges e
        JOIN pr0 p ON e.src = p.doc_id
        JOIN deg ON e.src = deg.src, n
        GROUP BY e.dst, n.n),
    pr2 AS (
        SELECT e.dst AS doc_id,
               (1 - {PAGERANK_DAMPING}) / n.n
                   + {PAGERANK_DAMPING} * SUM(p.pr / deg.d) AS pr
        FROM edges e
        JOIN pr1 p ON e.src = p.doc_id
        JOIN deg ON e.src = deg.src, n
        GROUP BY e.dst, n.n)
    SELECT doc_id, ROUND(pr, 6) AS pagerank
    FROM pr2
    """,
)
def pagerank_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled PageRank iterations over the simhash near-dup graph
    (damping 0.85, uniform init over incident nodes) — the iterative-
    algorithm pattern expressed as pure joins + aggregations, the same
    unrolling discipline as ``kmeans_lloyd_centroids``: per iteration,
    ONE join of the edge list against the current rank frame and one
    partial-aggregated sum per destination.  No driver loop over
    collect()ed ranks; at 100 TB each iteration is an edge-partitioned
    shuffle and the rank frame stays columnar.  (Every node of the
    undirected candidate graph has degree ≥ 1, so there is no dangling-
    mass term.)  Centrality over a duplicate graph ranks the "template"
    documents that near-duplicate everything else — the curation signal
    for boilerplate removal."""
    # The memoized pair frame is already cached; the union below reads
    # it twice at pair grain.
    pairs = _simhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = (pairs.select(F.col("doc_a").alias("src"),
                          F.col("doc_b").alias("dst"))
             .unionByName(pairs.select(F.col("doc_b").alias("src"),
                                       F.col("doc_a").alias("dst"))))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    # Fold degree into the edge list ONCE: every iteration needs pr/d
    # per source, so joining deg per iteration re-runs the same join k
    # times; the degree-annotated edge list is the loop invariant (the
    # same hoisting as the centered frame in the power-iteration PC).
    edges_d = edges.join(deg, "src").persist()
    nodes = edges.select(F.col("src").alias("doc_id")).distinct()
    n = F.broadcast(nodes.agg(F.count(F.lit(1)).alias("n")))
    pr = (nodes.crossJoin(n)
          .select("doc_id", (F.lit(1.0) / F.col("n")).alias("pr")))
    for _ in range(2):
        contrib = (edges_d.join(pr, edges_d["src"] == pr["doc_id"])
                   .groupBy("dst")
                   .agg(F.sum(F.col("pr") / F.col("d")).alias("mass")))
        pr = (contrib.crossJoin(n)
              .select(F.col("dst").alias("doc_id"),
                      ((1 - PAGERANK_DAMPING) / F.col("n")
                       + PAGERANK_DAMPING * F.col("mass")).alias("pr")))
    return pr.select("doc_id", F.round("pr", 6).alias("pagerank"))


@query(
    "dup_graph_degree_stats",
    oracle=_DUCK_SIMHASH + f"""
    , pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash))
                  <= {SIMHASH_MAX_HAMMING}),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION ALL
              SELECT doc_b AS src, doc_a AS dst FROM pairs),
    deg AS (SELECT src AS doc_id, CAST(COUNT(*) AS BIGINT) AS d
            FROM edges GROUP BY src),
    ann AS (
        SELECT ds.d AS degree, dd.d AS nbr_degree
        FROM edges e
        JOIN deg ds ON e.src = ds.doc_id
        JOIN deg dd ON e.dst = dd.doc_id),
    hist AS (SELECT d AS degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
             FROM deg GROUP BY d),
    knn AS (SELECT degree, SUM(nbr_degree) AS s,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM ann GROUP BY degree)
    SELECT h.degree, h.n_nodes,
           ROUND(k.s * 1.0 / k.c, 6) + 0.0 AS avg_neighbor_degree
    FROM hist h JOIN knn k USING (degree)
    """,
)
def dup_graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution + assortativity curve of the simhash
    near-dup graph: per degree, how many documents have it and the
    average degree of their neighbours (the k_nn(k) curve).  A
    heavy-tailed histogram with a falling k_nn(k) is the template-
    boilerplate signature (a few hub documents near-duplicating
    everything); a flat curve means organic pairwise dups — the triage
    that decides between cluster-collapse (``near_dup_clusters``) and
    pairwise drop as the dedup action, and the skew forecast for the
    PageRank/triangle passes over the same graph.

    Same sub-quadratic banded pair discovery as
    ``simhash_hamming_pairs``; the degree annotation is two equi-joins
    of the edge list against the degree frame (vertex-keyed, the
    edge-iterator discipline of ``near_dup_triangle_stats``), and both
    output aggregates run at degree-value grain.  All sums are exact
    BIGINTs; one divide + round at the end."""
    pairs = _simhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = (pairs.select(F.col("doc_a").alias("src"),
                          F.col("doc_b").alias("dst"))
             .unionByName(pairs.select(F.col("doc_b").alias("src"),
                                       F.col("doc_a").alias("dst"))))
    deg = (edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
           .select(F.col("src").alias("doc_id"), "d"))
    ann = (edges
           .join(deg.select(F.col("doc_id").alias("src"),
                            F.col("d").alias("degree")), "src")
           .join(deg.select(F.col("doc_id").alias("dst"),
                            F.col("d").alias("nbr_degree")), "dst"))
    hist = deg.groupBy(F.col("d").alias("degree")).agg(
        F.count(F.lit(1)).alias("n_nodes"))
    knn = ann.groupBy("degree").agg(
        F.sum("nbr_degree").alias("s"), F.count(F.lit(1)).alias("c"))
    return (hist.join(knn, "degree")
            .select("degree", "n_nodes",
                    (F.round(F.col("s") * 1.0 / F.col("c"), 6)
                     + F.lit(0.0)).alias("avg_neighbor_degree")))


# --------------------------------------------------------------------------
# NS2 — n-gram Jaccard near-dup (relational shingle join).
# --------------------------------------------------------------------------

#: Size guard for the exact all-pairs Jaccard baseline: shingles seen
#: in more than this many documents are excluded from the intersection
#: join (DataSketch-style df cap).  A shingle shared by d docs costs
#: O(d²) candidate pairs, so without the cap one boilerplate phrase at
#: corpus scale is a quadratic blowup; with it, the exact form degrades
#: predictably (hyper-common shingles stop contributing to |∩| while
#: the union denominator is unaffected).  Far above any fixture df —
#: the oracle parity check (tools/drive_entry.py) runs with the cap
#: ACTIVE and still matches at sf0.01 and sf0.1.
MAX_SHINGLE_DF = 10_000


@query(
    "ngram_jaccard_top_pairs",
    oracle="""
    WITH hs AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h
        FROM (SELECT doc_id,
                     unnest(list_distinct(list_transform(
                         range(1, len(string_split(text, ' ')) - 1),
                         i -> string_split(text, ' ')[i] || ' ' ||
                              string_split(text, ' ')[i+1] || ' ' ||
                              string_split(text, ' ')[i+2]))) AS s
              FROM documents
              WHERE len(string_split(text, ' ')) >= 3)),
    counts AS (
        SELECT doc_id, COUNT(*) AS n_shingles
        FROM hs GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
        FROM hs a JOIN hs b
          ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b,
           CAST(n_shared AS DOUBLE)
               / (ca.n_shingles + cb.n_shingles - n_shared) AS jaccard
    FROM shared
    JOIN counts ca ON shared.doc_a = ca.doc_id
    JOIN counts cb ON shared.doc_b = cb.doc_id
    ORDER BY jaccard DESC, doc_a ASC, doc_b ASC
    LIMIT 20
    """,
)
def ngram_jaccard_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NS2 n-gram Jaccard near-dup: word-trigram shingles, relational
    set intersection via self-join, Jaccard = |∩|/|∪|, top-20 most
    similar pairs.  The join key is the shingle's 60-bit md5 hash, not
    its text — 8-byte shuffle rows instead of multi-word strings, same
    result (md5 collisions are negligible and the oracle hashes
    identically).  This is the exact (non-LSH) form; at 100 TB the
    shingle self-join is replaced by MinHash banding
    (operators/dedup.py minhash_lsh_near_dup) — kept as its correctness
    reference, the pattern SURVEY.md §7 step 5 prescribes, with the
    ``MAX_SHINGLE_DF`` guard so the reference cannot go quadratic on a
    hyper-common shingle off-fixture."""
    from etl_cloud_batch_processing_spark.operators.dedup import (
        hashed_shingles,
    )

    # The hashed-shingle scan feeds four plan branches (two join sides +
    # two count lookups); persist it once instead of recomputing the
    # tokenize→shingle→md5 pass per branch (measured 4× cost at sf0.1).
    # Size is one int pair per (doc, shingle) — MBs per million docs.
    hs = hashed_shingles(table(spark, sf_dir, "documents")).persist()
    counts = hs.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"))
    # df guard: the window count shuffles on h — the SAME key as the
    # pair join below, so AQE coalesces rather than double-shuffles.
    wdf = Window.partitionBy("h")
    guarded = (hs.withColumn("df", F.count(F.lit(1)).over(wdf))
               .filter(F.col("df") <= MAX_SHINGLE_DF)
               .drop("df"))
    a = guarded.alias("a")
    b = guarded.alias("b")
    shared = (a.join(b, (F.col("a.h") == F.col("b.h"))
                     & (F.col("a.doc_id") < F.col("b.doc_id")))
              .groupBy(F.col("a.doc_id").alias("doc_a"),
                       F.col("b.doc_id").alias("doc_b"))
              .agg(F.count(F.lit(1)).alias("n_shared")))
    ca = counts.alias("ca")
    cb = counts.alias("cb")
    return (shared
            .join(ca, F.col("doc_a") == F.col("ca.doc_id"))
            .join(cb, F.col("doc_b") == F.col("cb.doc_id"))
            .select("doc_a", "doc_b",
                    (F.col("n_shared").cast("double")
                     / (F.col("ca.n_shingles") + F.col("cb.n_shingles")
                        - F.col("n_shared"))).alias("jaccard"))
            .orderBy(F.desc("jaccard"), F.asc("doc_a"), F.asc("doc_b"))
            .limit(20))


@query(
    "unseen_ngram_novelty",
    oracle="""
    WITH hs AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h
        FROM (SELECT doc_id,
                     unnest(list_distinct(list_transform(
                         range(1, len(string_split(text, ' ')) - 1),
                         i -> string_split(text, ' ')[i] || ' ' ||
                              string_split(text, ' ')[i+1] || ' ' ||
                              string_split(text, ' ')[i+2]))) AS s
              FROM documents
              WHERE len(string_split(text, ' ')) >= 3)),
    first AS (SELECT h, MIN(doc_id) AS first_doc FROM hs GROUP BY h)
    SELECT hs.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(COUNT(*) FILTER (WHERE f.first_doc = hs.doc_id)
                AS BIGINT) AS n_novel,
           ROUND(COUNT(*) FILTER (WHERE f.first_doc = hs.doc_id)
                 * 1.0 / COUNT(*), 6) AS novelty
    FROM hs JOIN first f USING (h)
    GROUP BY hs.doc_id
    """,
)
def unseen_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental novelty score per document: the fraction of its
    distinct word-trigram shingles whose FIRST corpus occurrence (min
    doc_id over the whole corpus) is this document — "how much new
    content does this doc add", the contribution-ordering metric a
    curation pipeline uses to rank near-duplicate-heavy sources and to
    decide what an incremental crawl actually bought.  Complements the
    pairwise dedup family: `ngram_jaccard_top_pairs` asks *which pairs
    overlap*, this asks *who was first* — one number per doc, no pair
    frame at all.

    Plan shape: the shared hashed-shingle scan (same 60-bit md5 keys
    as the whole MinHash family), one groupBy(h) min-reduce for the
    first-occurrence owner, one equi-join back, one groupBy(doc)
    count — all partial-aggregated, no windows, no pair join; both
    h-shuffles use the same key so AQE reuses the exchange.  At 100 TB
    this is strictly cheaper than one MinHash pass; for an append-only
    corpus, persist `first` and fold new batches in with a min-merge
    (same accumulate-disposition as the band index)."""
    from etl_cloud_batch_processing_spark.operators.dedup import (
        hashed_shingles,
    )

    # the shingle scan feeds two plan branches (min-reduce + probe
    # side of the join); persist it once — same rationale as the
    # jaccard baseline's persisted hs
    hs = hashed_shingles(table(spark, sf_dir, "documents")).persist()
    first = hs.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    return (hs.join(first, "h")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_shingles"),
                 F.count_if(F.col("first_doc") == F.col("doc_id"))
                 .alias("n_novel"))
            .select("doc_id", "n_shingles", "n_novel",
                    F.round(F.col("n_novel") * 1.0
                            / F.col("n_shingles"), 6).alias("novelty")))


# --------------------------------------------------------------------------
# NS3 — similarity search over embeddings.
# --------------------------------------------------------------------------

@query(
    "embedding_dim_stats",
    oracle="""
    WITH flat AS (
        SELECT unnest(range(0, len(embedding))) AS dim,
               unnest(list_transform(embedding, x -> CAST(x AS DOUBLE)))
                   AS v
        FROM embeddings)
    SELECT dim,
           ROUND(AVG(v), 6) AS mu,
           ROUND(stddev_samp(v), 6) AS sigma,
           ROUND(MIN(v), 6) AS vmin,
           ROUND(MAX(v), 6) AS vmax
    FROM flat GROUP BY dim
    """,
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding moments (mean/std/min/max) — the
    feature-normalization profile every whitening, quantization-range,
    or drift-monitoring step needs before touching a vector corpus.
    ``posexplode`` flattens to (dim, value) rows and ONE
    partial-aggregated shuffle on the 64-value dim key reduces them;
    at 100 TB the map-side combine collapses each partition to
    dims × 4 numbers before anything moves."""
    emb = ptable(spark, sf_dir, "embeddings")
    flat = emb.select(F.posexplode("embedding").alias("dim", "f")) \
              .select("dim", F.col("f").cast("double").alias("v"))
    return (flat.groupBy(F.col("dim").cast("bigint").alias("dim"))
            .agg(F.round(F.avg("v"), 6).alias("mu"),
                 F.round(F.stddev_samp("v"), 6).alias("sigma"),
                 F.round(F.min("v"), 6).alias("vmin"),
                 F.round(F.max("v"), 6).alias("vmax")))


@query(
    "embedding_standardized_norms",
    oracle="""
    WITH flat AS (
        SELECT vec_id,
               unnest(range(0, len(embedding))) AS dim,
               unnest(list_transform(embedding, x -> CAST(x AS DOUBLE)))
                   AS v
        FROM embeddings),
    stats AS (
        SELECT dim, AVG(v) AS mu, stddev_samp(v) AS sigma
        FROM flat GROUP BY dim)
    SELECT vec_id,
           ROUND(sqrt(SUM(((v - mu) / sigma) * ((v - mu) / sigma))), 6)
               AS znorm
    FROM flat JOIN stats USING (dim)
    WHERE sigma > 0
    GROUP BY vec_id
    """,
)
def embedding_standardized_norms(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Z-score standardization applied corpus-wide: per-dimension
    (mu, sigma) from one aggregate, broadcast back onto the flattened
    vectors, per-vector L2 norm of the standardized coordinates.  The
    stats frame is dims rows — broadcast, never shuffled against the
    corpus — so the whole standardize-and-score pass costs one
    flatten + one broadcast join + one vec_id aggregation; degenerate
    constant dimensions (sigma 0) are excluded identically on both
    engines (cf. daily_count_zscores)."""
    emb = ptable(spark, sf_dir, "embeddings")
    flat = (emb.select("vec_id",
                       F.posexplode("embedding").alias("dim", "f"))
            .select("vec_id", "dim", F.col("f").cast("double").alias("v")))
    stats = (flat.groupBy("dim")
             .agg(F.avg("v").alias("mu"),
                  F.stddev_samp("v").alias("sigma"))
             .filter(F.col("sigma") > 0))
    z = (F.col("v") - F.col("mu")) / F.col("sigma")
    return (flat.join(F.broadcast(stats), "dim")
            .groupBy("vec_id")
            .agg(F.round(F.sqrt(F.sum(z * z)), 6).alias("znorm")))


@query(
    "embedding_top_pc_power_iter",
    oracle="""
    WITH flat AS (
        SELECT vec_id,
               unnest(range(0, len(embedding))) AS dim,
               unnest(list_transform(embedding, x -> CAST(x AS DOUBLE)))
                   AS v
        FROM embeddings),
    mu AS (SELECT dim, AVG(v) AS mu FROM flat GROUP BY dim),
    n AS (SELECT COUNT(*) AS n FROM embeddings),
    v0 AS (SELECT dim, CASE WHEN dim = 0 THEN 1.0 ELSE 0.0 END AS c
           FROM mu),
    s1 AS (
        SELECT f.vec_id, SUM((f.v - mu.mu) * v0.c) AS s
        FROM flat f JOIN mu USING (dim) JOIN v0 USING (dim)
        GROUP BY f.vec_id),
    w1 AS (
        SELECT f.dim, SUM((f.v - mu.mu) * s1.s) / MAX(n.n) AS c
        FROM flat f JOIN mu USING (dim) JOIN s1 USING (vec_id), n
        GROUP BY f.dim),
    s2 AS (
        SELECT f.vec_id, SUM((f.v - mu.mu) * w1.c) AS s
        FROM flat f JOIN mu USING (dim) JOIN w1 USING (dim)
        GROUP BY f.vec_id),
    w2 AS (
        SELECT f.dim, SUM((f.v - mu.mu) * s2.s) / MAX(n.n) AS c
        FROM flat f JOIN mu USING (dim) JOIN s2 USING (vec_id), n
        GROUP BY f.dim),
    v2 AS (
        SELECT dim, c / sqrt(SUM(c * c) OVER ()) AS c FROM w2)
    SELECT dim, ROUND(c, 6) AS component FROM v2
    """,
)
def embedding_top_pc_power_iter(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus via TWO unrolled
    power iterations on the covariance matrix — iterative linear
    algebra in pure DataFrame ops, never materializing the d×d
    covariance: each iteration is Cv = (1/n)·Σ x̃(x̃·v) computed as two
    joins + two partial-aggregated sums (per-vector projection s = x̃·v,
    then per-dimension backprojection), with μ, v, and the norm all
    dims-row/one-row BROADCAST frames.  Deterministic e₀ start; same
    unrolling discipline as k-means and PageRank.  Normalization runs
    ONCE at the end, not per iteration — power iteration is
    scale-invariant (v₂ ∝ C²v₀), so the intermediate norm barrier is
    pure latency; on a 1000-node cluster iteration-barrier count is
    the latency floor of every iterative operator.  At 100 TB each
    iteration costs two shuffles of (rows × dims) flattened values
    with map-side combine — the PCA-whitening/outlier-direction
    primitive for embedding curation."""
    emb = ptable(spark, sf_dir, "embeddings")
    flat = (emb.select("vec_id",
                       F.posexplode("embedding").alias("dim", "f"))
            .select("vec_id", "dim",
                    F.col("f").cast("double").alias("v")))
    mu = F.broadcast(flat.groupBy("dim").agg(F.avg("v").alias("mu")))
    n = F.broadcast(emb.agg(F.count(F.lit(1)).alias("n")))
    # Center ONCE and persist the centered frame: every iteration's two
    # products read x̃ = v − μ, so joining μ per use (4 joins for 2
    # iterations) just re-broadcasts the same 64 rows and deepens each
    # iteration's lineage.  (v − μ) is computed element-identically to
    # the inline form, so the unrolled-iteration oracle is unchanged.
    flatc = (flat.join(mu, "dim")
             .select("vec_id", "dim",
                     (F.col("v") - F.col("mu")).alias("v"))
             .persist())
    vcur = F.broadcast(mu.select(
        "dim", F.when(F.col("dim") == 0, 1.0).otherwise(0.0).alias("c")))
    for _ in range(2):
        s = (flatc.join(vcur, "dim")
             .groupBy("vec_id")
             .agg(F.sum(F.col("v") * F.col("c")).alias("s")))
        vcur = F.broadcast(
            flatc.join(s, "vec_id").crossJoin(n)
            .groupBy("dim")
            .agg((F.sum(F.col("v") * F.col("s"))
                  / F.max("n")).alias("c")))
    nrm = F.broadcast(vcur.agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nrm")))
    return (vcur.crossJoin(nrm)
            .select(F.col("dim").cast("bigint").alias("dim"),
                    F.round(F.col("c") / F.col("nrm"), 6)
                    .alias("component")))


#: Size guard for the exact brute-force kNN baseline: refuse to launch
#: the O(queries × candidates) scan past this many candidate vectors.
#: The check costs one parquet-metadata count; the error names the
#: sub-quadratic alternatives (ivf_ann_topk / ann_lsh_topk).
MAX_BRUTE_FORCE_ROWS = 1_000_000


@query(
    "knn_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe
               FROM embeddings WHERE vec_id < 5),
    scored AS (
        SELECT q.query_id, e.vec_id, e.label,
               round({V.duckdb_cosine_sql('q.qe', 'e.embedding')}, 6)
                   AS cos_sim,
               ROW_NUMBER() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {V.duckdb_cosine_sql('q.qe', 'e.embedding')}
                            DESC, e.vec_id ASC) AS rnk
        FROM q CROSS JOIN embeddings e
        WHERE e.vec_id <> q.query_id)
    SELECT query_id, vec_id, label, cos_sim, rnk
    FROM scored WHERE rnk <= 10
    """,
)
def knn_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NS3 brute-force top-k nearest neighbours: 5 query vectors × all
    candidates, double-precision cosine via array expressions
    (functions/vectors.py — JVM higher-order functions, no UDF), top-10
    per query with vec_id tiebreak.  The query side is broadcast, so
    the candidate scan is embarrassingly parallel — the exact baseline
    the LSH/IVF paths (operators/similarity.py) are measured against.

    Guarded by ``MAX_BRUTE_FORCE_ROWS``: the scan cost is
    O(queries × candidates), so on a corpus past the cap this raises
    immediately (a metadata-cheap parquet count, not a data scan) and
    points at the sub-quadratic paths instead of silently launching a
    week-long job."""
    n_candidates = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    if n_candidates > MAX_BRUTE_FORCE_ROWS:
        raise ValueError(
            f"knn_cosine_topk is the EXACT all-pairs baseline; "
            f"{n_candidates} candidate vectors exceed "
            f"MAX_BRUTE_FORCE_ROWS={MAX_BRUTE_FORCE_ROWS}. Use "
            f"ivf_ann_topk or ann_lsh_topk at this scale, or raise "
            f"plans.llm.MAX_BRUTE_FORCE_ROWS explicitly.")
    # Candidate norms computed once per vector, not once per
    # (query, candidate) pair — dot/(qn*nrm) is cosine()'s exact
    # floating-point tree, so oracle parity holds bit-for-bit.
    emb = (ptable(spark, sf_dir, "embeddings")
           .withColumn("nrm", F.sqrt(V.dot("embedding", "embedding"))))
    q = F.broadcast(emb.filter(F.col("vec_id") < 5)
                    .select(F.col("vec_id").alias("query_id"),
                            F.col("embedding").alias("qe"),
                            F.col("nrm").alias("qn")))
    cos = V.dot("qe", "embedding") / (F.col("qn") * F.col("nrm"))
    w = Window.partitionBy("query_id").orderBy(F.desc("raw_cos"),
                                               F.asc("vec_id"))
    return (q.join(emb, F.col("vec_id") != F.col("query_id"))
            .select("query_id", "vec_id", "label",
                    cos.alias("raw_cos"))
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 10)
            .select("query_id", "vec_id", "label",
                    F.round("raw_cos", 6).alias("cos_sim"), "rnk"))


@query(
    "vector_mips_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe
               FROM embeddings WHERE vec_id < 5),
    scored AS (
        SELECT q.query_id, e.vec_id, e.label,
               round({V.duckdb_dot_sql('q.qe', 'e.embedding')}, 6) + 0.0
                   AS dot_score,
               ROW_NUMBER() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {V.duckdb_dot_sql('q.qe', 'e.embedding')}
                            DESC, e.vec_id ASC) AS rnk
        FROM q CROSS JOIN embeddings e
        WHERE e.vec_id <> q.query_id)
    SELECT query_id, vec_id, label, dot_score, rnk
    FROM scored WHERE rnk <= 10
    """,
)
def vector_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NS3 maximum-inner-product search (MIPS) top-k: the retrieval
    primitive for UNNORMALIZED embedding spaces (recommendation scores,
    learned late-interaction weights), where the dot product — not
    cosine — is the trained similarity.  5 query vectors × all
    candidates, top-10 per query by raw inner product, vec_id tiebreak.

    Same shape and guard as ``knn_cosine_topk``: the query side is
    broadcast so the candidate scan is embarrassingly parallel, and
    ``MAX_BRUTE_FORCE_ROWS`` caps the O(queries × corpus) exact
    baseline.  At 100 TB the scale path is the standard MIPS→cosine
    reduction (append ``sqrt(M² − ‖x‖²)`` as an extra dimension, then
    reuse the ANN cosine index) — this query is the exact reference
    those recalls are measured against."""
    n_candidates = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    if n_candidates > MAX_BRUTE_FORCE_ROWS:
        raise ValueError(
            f"vector_mips_topk is the EXACT all-pairs baseline; "
            f"{n_candidates} candidate vectors exceed "
            f"MAX_BRUTE_FORCE_ROWS={MAX_BRUTE_FORCE_ROWS}. Reduce MIPS "
            f"to cosine (extra-dimension transform) and use ivf_ann_topk "
            f"or ann_lsh_topk at this scale.")
    emb = ptable(spark, sf_dir, "embeddings")
    q = F.broadcast(emb.filter(F.col("vec_id") < 5)
                    .select(F.col("vec_id").alias("query_id"),
                            F.col("embedding").alias("qe")))
    w = Window.partitionBy("query_id").orderBy(F.desc("raw_dot"),
                                               F.asc("vec_id"))
    return (q.join(emb, F.col("vec_id") != F.col("query_id"))
            .select("query_id", "vec_id", "label",
                    V.dot("qe", "embedding").alias("raw_dot"))
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 10)
            .select("query_id", "vec_id", "label",
                    (F.round("raw_dot", 6) + F.lit(0.0))
                    .alias("dot_score"), "rnk"))


#: Metadata predicate of the filtered-search query: candidate labels
#: admitted to the scan.  In production this is a tenant / language /
#: freshness filter pushed into the vector index.
KNN_FILTER_LABELS = (0, 1, 2)

# Explicit IN-list for the oracle text: a tuple repr would render a
# single label as the invalid SQL "(0,)" (same pattern as _RAKE_STOPS).
_KNN_FILTER_IN = "(" + ", ".join(map(str, KNN_FILTER_LABELS)) + ")"


@query(
    "knn_filtered_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe
               FROM embeddings WHERE vec_id < 5),
    cand AS (SELECT * FROM embeddings
             WHERE label IN {_KNN_FILTER_IN}),
    scored AS (
        SELECT q.query_id, e.vec_id, e.label,
               round({V.duckdb_cosine_sql('q.qe', 'e.embedding')}, 6)
                   AS cos_sim,
               ROW_NUMBER() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {V.duckdb_cosine_sql('q.qe', 'e.embedding')}
                            DESC, e.vec_id ASC) AS rnk
        FROM q CROSS JOIN cand e
        WHERE e.vec_id <> q.query_id)
    SELECT query_id, vec_id, label, cos_sim, rnk
    FROM scored WHERE rnk <= 5
    """,
)
def knn_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NS3 FILTERED vector search: top-5 cosine neighbours per query
    among only the candidates passing a metadata predicate (label ∈
    {KNN_FILTER_LABELS}) — the tenant-/language-/recency-scoped
    retrieval every production vector store serves, where the filter
    must apply BEFORE ranking (post-filtering a fixed top-k returns
    fewer than k — or zero — rows for selective predicates).

    Pre-filtering is the engine-correct strategy here: the predicate
    lands in the parquet scan (PushedFilters), the candidate set
    shrinks before any distance math, and recall is exact by
    construction.  Same broadcast-queries shape and
    ``MAX_BRUTE_FORCE_ROWS`` guard as ``knn_cosine_topk``; at scale the
    same filter composes with the IVF cell scan (filter the posting
    lists, then probe) — this query is the exact reference for that
    path's recall."""
    n_candidates = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    if n_candidates > MAX_BRUTE_FORCE_ROWS:
        raise ValueError(
            f"knn_filtered_topk is the EXACT filtered baseline; "
            f"{n_candidates} candidate vectors exceed "
            f"MAX_BRUTE_FORCE_ROWS={MAX_BRUTE_FORCE_ROWS}. Compose the "
            f"label filter with ivf_ann_topk's cell scan at this scale.")
    emb = (ptable(spark, sf_dir, "embeddings")
           .withColumn("nrm", F.sqrt(V.dot("embedding", "embedding"))))
    q = F.broadcast(emb.filter(F.col("vec_id") < 5)
                    .select(F.col("vec_id").alias("query_id"),
                            F.col("embedding").alias("qe"),
                            F.col("nrm").alias("qn")))
    cand = emb.filter(F.col("label").isin(*KNN_FILTER_LABELS))
    cos = V.dot("qe", "embedding") / (F.col("qn") * F.col("nrm"))
    w = Window.partitionBy("query_id").orderBy(F.desc("raw_cos"),
                                               F.asc("vec_id"))
    return (q.join(cand, F.col("vec_id") != F.col("query_id"))
            .select("query_id", "vec_id", "label", cos.alias("raw_cos"))
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 5)
            .select("query_id", "vec_id", "label",
                    F.round("raw_cos", 6).alias("cos_sim"), "rnk"))


@query(
    "embedding_near_dup_blocked",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
           round({V.duckdb_cosine_sql('a.embedding', 'b.embedding')}, 6)
               AS cos_sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {V.duckdb_cosine_sql('a.embedding', 'b.embedding')} > 0.35
    """,
)
def embedding_near_dup_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NS2/NS3 embedding-cosine near-dup with blocking: candidate pairs
    are restricted to the same ``label`` block (in a real pipeline: an
    LSH bucket or IVF cell), then exact double cosine filters at 0.35.
    Blocking turns O(n²) into Σ|block|² — the standard scale pattern;
    the equi-join on label is a plain hash join."""
    # Per-vector norms precomputed BEFORE the pair join (1 aggregate
    # lambda per pair instead of 3 — dot/(na*nb) is the identical
    # floating-point tree cosine() expands to), and a pushdown barrier
    # so the threshold filter can't get the dot re-inlined and computed
    # twice per pair (SCALE.md pathologies; same fix as semdedup_pairs).
    emb = (ptable(spark, sf_dir, "embeddings")
           .withColumn("nrm", F.sqrt(V.dot("embedding", "embedding"))))
    a = emb.alias("a")
    b = emb.alias("b")
    cos = (V.dot(F.col("a.embedding"), F.col("b.embedding"))
           / (F.col("a.nrm") * F.col("b.nrm")))
    return (a.join(b, (F.col("a.label") == F.col("b.label"))
                   & (F.col("a.vec_id") < F.col("b.vec_id")))
            .withColumn("raw_cos", X.pushdown_barrier(cos))
            .filter(F.col("raw_cos") > 0.35)
            .select(F.col("a.vec_id").alias("vec_a"),
                    F.col("b.vec_id").alias("vec_b"),
                    F.col("a.label").alias("label"),
                    F.round("raw_cos", 6).alias("cos_sim")))


# --------------------------------------------------------------------------
# NS4 — subword (BPE-ish) token counting via regex pre-tokenization.
# --------------------------------------------------------------------------

# Vowel-run / consonant-run pre-tokenizer: a deterministic stand-in for a
# BPE merge table (real BPE is a learned vocab lookup over exactly this
# kind of regex pre-split — GPT-2 style).  Same RE2/Java-compatible
# pattern text in both engines.
_BPE_RE = "[aeiou]+|[^aeiou ]+"


@query(
    "token_counts_bpe",
    oracle=f"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_ws_tokens,
           len(regexp_extract_all(text, '{_BPE_RE}')) AS n_subword_tokens,
           CAST(length(replace(text, ' ', '')) AS DOUBLE)
               / len(regexp_extract_all(text, '{_BPE_RE}'))
               AS chars_per_subword
    FROM documents
    """,
)
def token_counts_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NS4 token counting, both granularities: whitespace tokens and
    BPE-ish subword tokens (vowel/consonant-run regex pre-tokenization),
    plus compression ratio (non-space chars per subword) — the
    cost-estimation signal an LLM data pipeline computes per document.
    Pure JVM regex, embarrassingly parallel, no shuffle."""
    docs = table(spark, sf_dir, "documents")
    # idx=0: whole-match extraction (Spark defaults to capture group 1,
    # which this group-less pattern doesn't have)
    sub = F.regexp_extract_all("text", F.lit(_BPE_RE), 0)
    return docs.select(
        "doc_id",
        F.size(T.tokens("text")).alias("n_ws_tokens"),
        F.size(sub).alias("n_subword_tokens"),
        (F.length(F.regexp_replace("text", " ", "")).cast("double")
         / F.size(sub)).alias("chars_per_subword"))


# --------------------------------------------------------------------------
# Grouped-map pandas UDF surface (SURVEY.md §2.10): per-group model fit.
# --------------------------------------------------------------------------

def _fit_slope_schema():
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType)
    return StructType([
        StructField("lang", StringType()),
        StructField("n_docs", LongType()),
        StructField("chars_per_token_slope", DoubleType()),
    ])


@query(
    "per_lang_length_model",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs,
           round(covar_pop(n_chars, len(string_split(text, ' ')))
                 / var_pop(len(string_split(text, ' '))), 6)
               AS chars_per_token_slope
    FROM documents
    GROUP BY lang
    """,
)
def per_lang_length_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language least-squares fit of n_chars against token count —
    the grouped-map ``applyInPandas`` escape hatch (SURVEY.md §2.10)
    exercised on a computation whose answer is SQL-checkable
    (slope = covar_pop/var_pop, i.e. ANSI REGR_SLOPE).

    The UDF is the pattern for per-group model fitting that genuinely
    needs Python (sklearn/scipy per group); here the body is numpy so
    the oracle can verify the plumbing bit-for-bit.  Scale shape: one
    shuffle on the grouping key; each group must fit one worker's
    memory — true for per-language fits even at 100 TB corpus scale
    only after a pre-aggregation, which is exactly what real pipelines
    do (fit on per-group samples or sufficient statistics)."""
    docs = table(spark, sf_dir, "documents")
    inp = docs.select("lang", F.col("n_chars").cast("double").alias("y"),
                      F.size(T.tokens("text")).cast("double").alias("x"))

    def fit(pdf):
        import numpy as np
        import pandas as pd
        x, y = pdf["x"].to_numpy(), pdf["y"].to_numpy()
        # population covariance / variance — same estimator as the
        # oracle's covar_pop/var_pop, computed in the same float64.
        slope = (((x * y).mean() - x.mean() * y.mean())
                 / ((x * x).mean() - x.mean() ** 2))
        return pd.DataFrame({"lang": [pdf["lang"].iloc[0]],
                             "n_docs": [len(pdf)],
                             "chars_per_token_slope": [round(slope, 6)]})

    return inp.groupBy("lang").applyInPandas(fit, schema=_fit_slope_schema())


# --------------------------------------------------------------------------
# NS4 — winnowing fingerprints (rolling-hash document fingerprinting).
# --------------------------------------------------------------------------

_WIN = 4   # winnowing window: keep the min k-gram hash of every
           # _WIN consecutive positions (MOSS-style)


@query(
    "winnowing_fingerprints",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
               unnest(string_split(text, ' ')) AS tok
        FROM documents),
    grams AS (
        SELECT doc_id, pos,
               CAST('0x' || substr(md5(
                   tok || ' '
                   || lead(tok, 1) OVER w || ' '
                   || lead(tok, 2) OVER w), 1, 15) AS BIGINT) AS h
        FROM toks
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        QUALIFY lead(tok, 2) OVER w IS NOT NULL),
    winnowed AS (
        SELECT doc_id,
               min(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW
                            AND {_WIN - 1} FOLLOWING) AS fp
        FROM grams)
    SELECT DISTINCT doc_id, fp FROM winnowed
    """,
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (the MOSS rolling-hash scheme):
    hash every positional word-trigram, slide a window of {_WIN}
    consecutive hashes, keep each window's minimum, emit the distinct
    mins as the document's fingerprint set.

    Guarantees: any shared run of ≥ k+w-1 tokens between two documents
    shares at least one fingerprint — the detection primitive for
    plagiarism/near-dup at a tunable density (~2/(w+1) of positions).

    All relational: posexplode → two window passes over (doc, pos) →
    distinct.  One shuffle on doc_id, then both window functions and
    the distinct reuse that partitioning (no further exchange); at
    100 TB the fingerprint set is the compact join key stored next to
    the corpus."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(T.tokens("text")).alias("pos", "tok"))
    wseq = Window.partitionBy("doc_id").orderBy("pos")
    grams = (toks
             .withColumn("t1", F.lead("tok", 1).over(wseq))
             .withColumn("t2", F.lead("tok", 2).over(wseq))
             .filter(F.col("t2").isNotNull())
             .select("doc_id", "pos",
                     T.token_hash60(
                         F.concat_ws(" ", "tok", "t1", "t2")).alias("h")))
    wmin = (Window.partitionBy("doc_id").orderBy("pos")
            .rowsBetween(Window.currentRow, _WIN - 1))
    return (grams
            .select("doc_id", F.min("h").over(wmin).alias("fp"))
            .distinct())


@query(
    "knn_cosine_topk_pandas",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe
               FROM embeddings WHERE vec_id < 5),
    scored AS (
        SELECT q.query_id, e.vec_id, e.label,
               round({V.duckdb_cosine_sql('q.qe', 'e.embedding')}, 6)
                   AS cos_sim,
               ROW_NUMBER() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {V.duckdb_cosine_sql('q.qe', 'e.embedding')}
                            DESC, e.vec_id ASC) AS rnk
        FROM q CROSS JOIN embeddings e
        WHERE e.vec_id <> q.query_id)
    SELECT query_id, vec_id, label, cos_sim, rnk
    FROM scored WHERE rnk <= 10
    """,
)
def knn_cosine_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar-pandas-UDF form of ``knn_cosine_topk`` — same query,
    same oracle, cosine computed by an Arrow-batched numpy kernel
    instead of JVM array expressions.  This is the SURVEY.md §2.10
    vectorized-UDF surface on a checkable computation, and the template
    for similarity kernels the JVM can't express (learned metrics,
    quantized dots).  Matrix math per Arrow batch: stack the batch's
    vectors into one (n, 64) float64 array, one fused multiply-sum —
    per-row Python never runs."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos_udf(qe: pd.Series, emb: pd.Series) -> pd.Series:
        import numpy as np
        q = np.stack(qe.to_numpy()).astype(np.float64)
        e = np.stack(emb.to_numpy()).astype(np.float64)
        num = (q * e).sum(axis=1)
        den = (np.sqrt((q * q).sum(axis=1))
               * np.sqrt((e * e).sum(axis=1)))
        return pd.Series(num / den)

    emb = ptable(spark, sf_dir, "embeddings")
    q = F.broadcast(emb.filter(F.col("vec_id") < 5)
                    .select(F.col("vec_id").alias("query_id"),
                            F.col("embedding").alias("qe")))
    w = Window.partitionBy("query_id").orderBy(F.desc("raw_cos"),
                                               F.asc("vec_id"))
    return (q.join(emb, F.col("vec_id") != F.col("query_id"))
            .select("query_id", "vec_id", "label",
                    cos_udf("qe", "embedding").alias("raw_cos"))
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 10)
            .select("query_id", "vec_id", "label",
                    F.round("raw_cos", 6).alias("cos_sim"), "rnk"))


# --------------------------------------------------------------------------
# §2.10 — Python UDTF surface (table function, fan-out rows).
# --------------------------------------------------------------------------

@query(
    "udtf_positional_tokens",
    oracle="""
    SELECT doc_id,
           generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
           unnest(string_split(text, ' ')) AS token
    FROM documents WHERE doc_id < 20
    """,
)
def udtf_positional_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 table function): one input row → one output
    row per token with its position, applied per input row via LATERAL.
    Registered on a 20-doc slice: the UDTF API is the *extension
    surface* demo — the engine's hot tokenize path is the equivalent
    built-in ``posexplode(split(...))`` (winnowing_fingerprints), which
    stays JVM-side; a UDTF earns its per-row Python cost only when the
    expansion logic can't be expressed with array functions."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id: bigint, pos: int, token: string")
    class Tokenize:
        def eval(self, doc_id: int, text: str):
            for i, tok in enumerate(text.split(" ")):
                yield doc_id, i, tok

    spark.udtf.register("tokenize_udtf", Tokenize)
    docs = table(spark, sf_dir, "documents")
    docs.filter(F.col("doc_id") < 20).createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        "SELECT t.doc_id, t.pos, t.token "
        "FROM _udtf_docs, LATERAL tokenize_udtf(doc_id, text) t")


# --------------------------------------------------------------------------
# Train/val split + stratified sampling (corpus-curation operators).
# --------------------------------------------------------------------------

@query(
    "train_val_split",
    oracle="""
    SELECT doc_id,
           CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)),
                               1, 15) AS BIGINT) % 100 AS bucket,
           CASE WHEN CAST('0x' || substr(md5('split:'
                    || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100
                     < 90
                THEN 'train' ELSE 'val' END AS split
    FROM documents
    """,
)
def train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/10 train/val assignment: md5 of a salted key →
    60-bit int → bucket 0-99.  Hash-based (not random) so the split is
    stable across runs, machines, and engines — re-ingesting a document
    lands it in the same split forever, the property that keeps eval
    sets uncontaminated as a 100 TB corpus grows.  Pure projection:
    no shuffle, no state, embarrassingly parallel."""
    docs = table(spark, sf_dir, "documents")
    h = F.conv(F.substring(
        F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))
              .cast("binary")), 1, 15), 16, 10).cast("bigint")
    bucket = (h % 100).alias("bucket")
    return docs.select(
        "doc_id", bucket,
        F.when(h % 100 < 90, "train").otherwise("val").alias("split"))


@query(
    "stratified_sample_by_lang",
    oracle="""
    SELECT doc_id, lang
    FROM (
        SELECT doc_id, lang,
               CAST('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)),
                                   1, 15) AS BIGINT) % 1000 AS bucket
        FROM documents)
    WHERE bucket < CASE WHEN lang = 'en' THEN 200 ELSE 500 END
    """,
)
def stratified_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified downsampling with per-stratum rates — the deterministic
    twin of ``df.sampleBy``: dominant-language text (en) is kept at 20%,
    minority languages at 50%, the standard corpus-rebalancing move.
    Hash-bucket membership (not RNG) makes the sample reproducible
    across engines and incremental ingests — a document's fate never
    changes when the corpus around it grows.  Pure narrow projection +
    filter: no shuffle, and the filter prunes before any downstream
    join or shuffle sees the dropped rows."""
    docs = table(spark, sf_dir, "documents")
    h = F.conv(F.substring(
        F.md5(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))
              .cast("binary")), 1, 15), 16, 10).cast("bigint")
    rate = F.when(F.col("lang") == "en", 200).otherwise(500)
    return (docs.withColumn("bucket", h % 1000)
            .filter(F.col("bucket") < rate)
            .select("doc_id", "lang"))


@query(
    "label_centroids",
    oracle="""
    SELECT label, i AS pos, ROUND(AVG(embedding[i + 1]), 6) AS centroid
    FROM embeddings, range(64) t(i)
    WHERE i < len(embedding)
    GROUP BY 1, 2
    """,
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid in long (label, pos, centroid) form —
    the k-means-style aggregate that powers IVF coarse quantizers and
    class prototypes.  ``posexplode`` turns each 64-dim vector into 64
    rows map-side, and the single hash aggregation on (label, pos) does
    partial aggregation before the shuffle, so shuffle volume is
    O(labels × dims), independent of corpus size — the long form also
    avoids re-assembling arrays through a second shuffle, which is why
    the engine's canonical centroid output is long, not wide."""
    emb = table(spark, sf_dir, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("pos", "val"))
    return (ex.groupBy("label", F.col("pos").cast("bigint").alias("pos"))
            .agg(F.round(F.avg("val"), 6).alias("centroid")))


@query(
    "chunk_documents",
    oracle="""
    SELECT doc_id,
           CAST(s / 40 AS BIGINT) AS chunk_id,
           array_to_string((string_split(text, ' '))[s + 1 : s + 50], ' ')
               AS chunk
    FROM (SELECT doc_id, text,
                 unnest(generate_series(0,
                     greatest(len(string_split(text, ' ')) - 1, 0), 40)) AS s
          FROM documents)
    """,
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token chunking with overlap — the pretraining/RAG
    chunker: 50-token windows every 40 tokens (10-token overlap), so no
    boundary context is lost.  Entirely columnar: ``sequence`` builds
    the chunk starts, ``posexplode`` fans out, ``slice`` +
    ``array_join`` cut each window — a narrow map-side op with no
    shuffle and no Python, which is what lets it chunk 100 TB at scan
    speed.  Output keyed (doc_id, chunk_id) for downstream dedup/
    embedding stages."""
    size, stride = 50, 40
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    starts = F.sequence(F.lit(0),
                        F.greatest(F.size(toks) - 1, F.lit(0)),
                        F.lit(stride))
    return (docs
            .select("doc_id", toks.alias("toks"),
                    F.explode(starts).alias("s"))
            .select("doc_id",
                    (F.col("s") / stride).cast("bigint").alias("chunk_id"),
                    F.array_join(F.slice("toks", F.col("s") + 1, size), " ")
                    .alias("chunk")))


@query(
    "tfidf_top_terms",
    oracle="""
    WITH tf AS (
        SELECT doc_id, t AS token, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
              FROM documents)
        GROUP BY doc_id, t),
    df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.token,
               ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6)
                   AS tfidf
        FROM tf JOIN df ON tf.token = df.token CROSS JOIN n)
    SELECT doc_id, token, tfidf FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                      ORDER BY tfidf DESC, token ASC) AS rn
        FROM scored)
    WHERE rn <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the classic keyword extractor
    a curation pipeline uses for topic tagging and per-domain vocab
    drift checks.  Three aggregations, all partial-aggregated: term
    frequency (doc_id, token), document frequency (reusing the TF frame
    — it is already one row per (doc, token), so DF is a count, not a
    countDistinct), and the corpus size, which joins in as a broadcast
    scalar rather than a driver-side ``count()`` so the whole thing
    stays one lazy plan.  The tf⋈df join shuffles on token — Zipf-skewed
    at 100 TB, which AQE's skew-join handles; scores are rounded to 6
    before ranking so the row_number tiebreak (score desc, token asc)
    is reproducible across engines."""
    docs = ptable(spark, sf_dir, "documents")
    tf = (docs.select("doc_id", F.explode(T.tokens("text")).alias("token"))
          .groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf")))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    # DF as an unordered count-over-token window on the TF frame itself
    # (tf is already one row per (doc, token), so the partition count IS
    # document frequency).  This replaces a separate DF aggregate plus a
    # tf⋈df shuffle join with ONE exchange on token — measured 1.38s →
    # 0.84s at sf0.1.  The frame is unbounded with no orderBy, so the
    # window needs no sort beyond grouping; the token partitioning is
    # Zipf-skewed at 100 TB, same AQE skew-join consideration as before.
    wt = Window.partitionBy("token")
    scored = (tf.withColumn("df", F.count(F.lit(1)).over(wt))
              .crossJoin(F.broadcast(n))
              .select("doc_id", "token",
                      F.round(F.col("tf") * F.log(F.col("n_docs")
                              .cast("double") / F.col("df")), 6)
                      .alias("tfidf")))
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3).drop("rn"))


@query(
    "pii_redaction",
    oracle=f"""
    SELECT event_id,
           regexp_replace(
               regexp_replace(msg, '{T.EMAIL_RE}', '[EMAIL]', 'g'),
               '{T.PHONE_RE}', '[PHONE]', 'g') AS message_clean
    FROM (SELECT event_id,
                 'reach user' || CAST(user_id AS VARCHAR)
                     || '@mail.example.com or +1-555-0'
                     || CAST(event_id AS VARCHAR)
                     || ' ref ' || event_type AS msg
          FROM events)
    """,
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over a message column: emails → [EMAIL], phone numbers
    → [PHONE] (functions/text.redact_pii).  The fixture corpus carries
    no contact strings, so the query *constructs* one per event from
    row ids — making the redaction provably transforming (the oracle
    builds and scrubs the identical string) rather than a vacuous
    identity.  Pure narrow regexp_replace map stage: no shuffle, runs
    at scan speed on 100 TB."""
    ev = table(spark, sf_dir, "events")
    msg = F.concat(F.lit("reach user"), F.col("user_id").cast("string"),
                   F.lit("@mail.example.com or +1-555-0"),
                   F.col("event_id").cast("string"),
                   F.lit(" ref "), F.col("event_type"))
    return ev.select("event_id", T.redact_pii(msg).alias("message_clean"))


@query(
    "doc_repetition_scores",
    oracle="""
    SELECT doc_id,
           ROUND(1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh), 6)
               AS rep_ratio,
           (1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh)) <= 0.2
               AS keep
    FROM (SELECT doc_id,
                 list_transform(
                     range(1, len(string_split(text, ' ')) - 1),
                     i -> string_split(text, ' ')[i] || ' ' ||
                          string_split(text, ' ')[i+1] || ' ' ||
                          string_split(text, ' ')[i+2]) AS sh
          FROM documents
          WHERE len(string_split(text, ' ')) >= 3)
    """,
)
def doc_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-ratio quality gate (Gopher-style duplicate-n-gram
    fraction): 1 − distinct-trigrams ∕ total-trigrams per document, with
    the ≤ 0.2 keep flag a curation pipeline filters on — boilerplate and
    looping generations score high and get dropped.  Pure columnar array
    expressions (transform/array_distinct/size) over one scan; no
    shuffle, no Python — the filter runs at scan speed on 100 TB."""
    docs = ptable(spark, sf_dir, "documents")
    toks = T.tokens("text")
    sh = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 2),
        lambda i: F.concat_ws(" ", F.element_at(toks, i),
                              F.element_at(toks, i + 1),
                              F.element_at(toks, i + 2)))
    docs = (docs.filter(F.size(toks) >= 3)
            .select("doc_id", sh.alias("sh")))
    ratio = (F.lit(1.0) - F.size(F.array_distinct("sh")).cast("double")
             / F.size("sh"))
    return docs.select("doc_id", F.round(ratio, 6).alias("rep_ratio"),
                       (ratio <= 0.2).alias("keep"))


@query(
    "contamination_flags",
    oracle="""
    WITH g AS (
        SELECT doc_id, source,
               unnest(list_distinct(list_transform(
                   range(1, len(t) - 3),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
                        || t[i+3] || ' ' || t[i+4]))) AS gram
        FROM (SELECT doc_id, source, string_split(text, ' ') AS t
              FROM documents)
        WHERE len(t) >= 5),
    bench AS (SELECT DISTINCT gram FROM g WHERE source = 'src0')
    SELECT g.doc_id,
           COUNT(*) AS n_distinct_grams,
           COUNT(b.gram) AS n_contaminated,
           COUNT(b.gram) > 0 AS contaminated
    FROM g LEFT JOIN bench b ON g.gram = b.gram
    WHERE g.source <> 'src0'
    GROUP BY g.doc_id
    """,
)
def contamination_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (Dolma/GPT-3 style): flag training
    documents sharing any 5-gram with a held-out benchmark set (here:
    ``source = 'src0'``).  The benchmark's distinct n-gram set is tiny
    relative to the corpus, so it broadcasts and the training side
    never shuffles for the membership probe — per doc we report
    distinct-gram count, contaminated-gram count, and the boolean gate.
    At 100 TB this is the standard decontam sweep: one scan, one
    broadcast hash probe, one partial-aggregated groupBy on doc_id."""
    docs = ptable(spark, sf_dir, "documents")
    toks = T.tokens("text")
    five = F.transform(
        F.sequence(F.lit(1), F.size("t") - 4),
        lambda i: F.concat_ws(" ", F.element_at(F.col("t"), i),
                              F.element_at(F.col("t"), i + 1),
                              F.element_at(F.col("t"), i + 2),
                              F.element_at(F.col("t"), i + 3),
                              F.element_at(F.col("t"), i + 4)))
    grams = (docs.filter(F.size(toks) >= 5)
             .select("doc_id", "source", toks.alias("t"))
             .select("doc_id", "source",
                     F.explode(F.array_distinct(five)).alias("gram")))
    bench = F.broadcast(grams.filter(F.col("source") == "src0")
                        .select(F.col("gram").alias("bgram")).distinct())
    return (grams.filter(F.col("source") != "src0")
            .join(bench, F.col("gram") == F.col("bgram"), "left")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_distinct_grams"),
                 F.count("bgram").alias("n_contaminated"),
                 (F.count("bgram") > 0).alias("contaminated")))


@query(
    "embedding_quantize_int8",
    oracle="""
    SELECT vec_id,
           ROUND(m, 6) AS max_abs,
           array_to_string(
               list_transform(d, x -> CAST(round(x * 127.0 / m)
                                           AS BIGINT)), ',') AS q_csv
    FROM (SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS d,
                 list_max(list_transform(embedding,
                                         x -> abs(CAST(x AS DOUBLE)))) AS m
          FROM embeddings)
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization for ANN index shipping:
    scale each embedding by 127∕max|xᵢ| and round — 4× smaller than
    float32, the standard memory/bandwidth lever for billion-vector
    indexes (recall loss is negligible at 8 bits).  Pure higher-order
    array expressions (transform/array_max) in one projection — no
    shuffle, no Python; the de-quantization scale (max_abs) rides along
    so consumers can reconstruct approximate floats.  The quantized
    vector ships as a CSV string column (q_csv) because the external
    driver's canonicalizer cannot hash array cells (CORRECTNESS_r01
    `approx_value_percentiles` TypeError) — downstream consumers use
    the array form via operators/similarity; this query is the
    verification surface."""
    emb = ptable(spark, sf_dir, "embeddings")
    d = F.transform("embedding", lambda x: x.cast("double"))
    out = emb.select("vec_id", d.alias("d"),
                     F.array_max(F.transform(d, F.abs)).alias("m"))
    q = F.transform("d", lambda x: F.round(x * 127.0 / F.col("m"))
                    .cast("bigint"))
    return out.select(
        "vec_id", F.round("m", 6).alias("max_abs"),
        F.array_join(F.transform(q, lambda x: x.cast("string")), ",")
        .alias("q_csv"))


@query(
    "pack_training_sequences",
    oracle="""
    SELECT doc_id, lang, n_tokens,
           CAST(FLOOR((run - n_tokens) / 512.0) AS BIGINT) AS pack_id
    FROM (SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens,
                 SUM(len(string_split(text, ' ')))
                     OVER (PARTITION BY lang ORDER BY doc_id ASC
                           ROWS UNBOUNDED PRECEDING) AS run
          FROM documents)
    """,
)
def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining: assign documents to fixed
    512-token training packs by running token count within each lang
    stream (docs in deterministic doc_id order; a doc starts in the
    pack its cumulative predecessor count falls into).  This is the
    scalable streaming approximation of first-fit packing — one window
    shuffle per lang partition, no sequential driver loop — and the
    pack_id is exactly reproducible across runs, which training-data
    lineage requires."""
    docs = table(spark, sf_dir, "documents")
    n_tok = F.size(T.tokens("text"))
    w = (Window.partitionBy("lang").orderBy(F.asc("doc_id"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (docs.select("doc_id", "lang", n_tok.alias("n_tokens"))
            .withColumn("run", F.sum("n_tokens").over(w))
            .select("doc_id", "lang", "n_tokens",
                    F.floor((F.col("run") - F.col("n_tokens")) / 512.0)
                    .cast("bigint").alias("pack_id")))


@query(
    "curation_pipeline",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang,
               regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm,
               string_split(text, ' ') AS t
        FROM documents),
    scored AS (
        SELECT doc_id, lang, norm, len(t) AS n_tokens,
               1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh) AS rep
        FROM (SELECT doc_id, lang, norm, t,
                     list_transform(range(1, len(t) - 1),
                                    i -> t[i] || ' ' || t[i+1] || ' '
                                         || t[i+2]) AS sh
              FROM toks WHERE len(t) >= 3)),
    kept AS (
        SELECT doc_id, lang, n_tokens,
               ROW_NUMBER() OVER (PARTITION BY norm
                                  ORDER BY doc_id ASC) AS rn
        FROM scored
        WHERE n_tokens BETWEEN 5 AND 1000
          AND rep <= 0.2
          AND lang IN ('en', 'es', 'fr', 'de'))
    SELECT doc_id, lang, n_tokens FROM kept WHERE rn = 1
    """,
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation in ONE lazy plan: token-length gate
    (5–1000) → repetition gate (duplicate-trigram ratio ≤ 0.2, as in
    doc_repetition_scores) → language allowlist → exact dedup on
    normalized text keeping the lowest doc_id.  All gates are columnar
    expressions evaluated in the same scan; the only shuffle is the
    dedup window on norm-text hash — i.e. the whole multi-stage
    pipeline costs one pass + one exchange at 100 TB, instead of four
    materialized intermediate datasets."""
    docs = ptable(spark, sf_dir, "documents")
    toks = T.tokens("text")
    # Cheap gates FIRST so they push into the scan; they cannot cross
    # the pushdown barrier below.
    base = (docs.filter(F.size(toks).between(5, 1000)
                        & F.col("lang").isin("en", "es", "fr", "de"))
            .select("doc_id", "lang", T.normalize("text").alias("norm"),
                    toks.alias("t")))
    sh = F.transform(
        F.sequence(F.lit(1), F.size("t") - 2),
        lambda i: F.concat_ws(" ", F.element_at(F.col("t"), i),
                              F.element_at(F.col("t"), i + 1),
                              F.element_at(F.col("t"), i + 2)))
    # The barrier keeps the trigram array materialized here: without it
    # Catalyst pushes the rep-filter below this projection, re-inlining
    # split(text) into every element_at of both lambdas — measured 15×
    # recompute (2.7 s vs 0.2 s at sf0.1).  See functions/exprs.py.
    with_sh = base.select("doc_id", "lang", "norm",
                          F.size("t").alias("n_tokens"),
                          X.pushdown_barrier(sh).alias("sh"))
    scored = with_sh.select(
        "doc_id", "lang", "norm", "n_tokens",
        (F.lit(1.0) - F.size(F.array_distinct("sh")).cast("double")
         / F.size("sh")).alias("rep"))
    kept = (scored.filter(F.col("rep") <= 0.2)
            .withColumn("rn", F.row_number().over(
                Window.partitionBy("norm").orderBy(F.asc("doc_id")))))
    return kept.filter(F.col("rn") == 1).select("doc_id", "lang", "n_tokens")


@query(
    "doc_cross_entropy_unigram",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents),
    vocab AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
    total AS (SELECT COUNT(*) AS n FROM tok)
    SELECT doc_id, COUNT(*) AS n_tokens,
           round(AVG(-ln(CAST(cnt AS DOUBLE) / n)), 6) AS cross_entropy
    FROM tok JOIN vocab USING (tok) CROSS JOIN total
    GROUP BY doc_id
    """,
)
def doc_cross_entropy_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-model quality score: each document's mean
    negative log-likelihood under the corpus's own unigram
    distribution.  Low cross-entropy = formulaic/common tokens; high =
    rare-token soup — both tails are what LLM curation drops.  A
    corpus statistic applied per document: token frequencies come from
    a COUNT window over the tok partition, so ONE exchange on tok is
    both the model build and the scoring probe (the groupBy+join form
    costs three).  Zipf skew ('the' dominates) lands on that exchange
    either way — at 100 TB, pre-aggregating (doc, tok) pairs map-side
    first bounds the hot partition; the corpus-size scalar rides a
    broadcast single row."""
    docs = ptable(spark, sf_dir, "documents")
    exploded = docs.select(
        "doc_id", F.explode(T.tokens("text")).alias("tok"))
    # Token frequency as a COUNT window over the tok partition instead
    # of a groupBy + self-join: one exchange on tok serves as both the
    # model build and the scoring probe (join form: three exchanges).
    cnt = F.count(F.lit(1)).over(Window.partitionBy("tok"))
    total = F.broadcast(exploded.agg(F.count(F.lit(1)).alias("n")))
    return (exploded.withColumn("cnt", cnt).crossJoin(total)
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.round(F.avg(-F.log(F.col("cnt").cast("double")
                                      / F.col("n"))), 6)
                 .alias("cross_entropy")))


@query(
    "incremental_ingest_dedup",
    oracle=f"""
    WITH fp AS (
        SELECT doc_id, md5({_DUCK_NORM}) AS fingerprint FROM documents)
    SELECT n.doc_id, n.fingerprint
    FROM fp n
    WHERE n.doc_id >= 400
      AND NOT EXISTS (SELECT 1 FROM fp h
                      WHERE h.doc_id < 400
                        AND h.fingerprint = n.fingerprint)
    QUALIFY ROW_NUMBER() OVER (PARTITION BY n.fingerprint
                               ORDER BY n.doc_id ASC) = 1
    """,
)
def incremental_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus ingestion — the shape every growing training
    corpus needs: dedupe ONLY the incoming batch (here: doc_id ≥ 400
    standing in for today's crawl) against the accumulated history's
    fingerprint table, never re-shuffling the history's full text.
    Two stages: (1) anti join incoming fingerprints against history —
    16-byte hashes, so the probe side shuffles ~constant bytes/row
    regardless of document size (and in a real deployment the history
    side is a bucketed fingerprint table: zero history shuffle at all);
    (2) a window dedup WITHIN the batch, since two copies arriving in
    the same batch both survive the history probe.  Cost per day is
    O(batch + matched buckets), not O(corpus)."""
    docs = table(spark, sf_dir, "documents")
    fp = docs.select("doc_id", T.md5_fingerprint("text").alias("fingerprint"))
    history = fp.filter(F.col("doc_id") < 400).select("fingerprint")
    incoming = fp.filter(F.col("doc_id") >= 400)
    fresh = incoming.join(history, "fingerprint", "left_anti")
    w = Window.partitionBy("fingerprint").orderBy(F.asc("doc_id"))
    return (fresh.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", "fingerprint"))


@query(
    "levenshtein_near_pairs",
    oracle=f"""
    WITH n AS (SELECT doc_id, lang, {_DUCK_NORM} AS norm FROM documents)
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           levenshtein(substr(a.norm, 1, 60), substr(b.norm, 1, 60))
               AS edit_dist
    FROM n a JOIN n b
      ON a.lang = b.lang
     AND length(a.norm) // 16 = length(b.norm) // 16
     AND a.doc_id < b.doc_id
    WHERE levenshtein(substr(a.norm, 1, 60), substr(b.norm, 1, 60)) <= 25
    """,
)
def levenshtein_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NS2 edit-distance near-dup: candidate pairs from equi-join
    blocking on (lang, length-bucket) — a pure hash-partitioned join,
    NO cross product — then exact Levenshtein on a 60-char prefix as
    the verifier.  Blocking is what makes O(n²)-per-pair edit distance
    survive scale: candidates are bounded per block, and the length
    bucket is sound because edit distance ≥ length difference.  The
    prefix cap bounds per-pair cost at 60² cell updates regardless of
    document size."""
    docs = ptable(spark, sf_dir, "documents")
    n = docs.select("doc_id", "lang", T.normalize("text").alias("norm"))
    n = n.withColumn("blk", F.floor(F.length("norm") / 16))
    a = n.select(F.col("doc_id").alias("a_id"), F.col("lang").alias("a_lang"),
                 F.col("blk").alias("a_blk"),
                 F.substring("norm", 1, 60).alias("a_pre"))
    b = n.select(F.col("doc_id").alias("b_id"), F.col("lang").alias("b_lang"),
                 F.col("blk").alias("b_blk"),
                 F.substring("norm", 1, 60).alias("b_pre"))
    dist = F.levenshtein("a_pre", "b_pre")
    return (a.join(b, (F.col("a_lang") == F.col("b_lang"))
                   & (F.col("a_blk") == F.col("b_blk"))
                   & (F.col("a_id") < F.col("b_id")))
            .filter(dist <= 25)
            .select("a_id", "b_id", dist.alias("edit_dist")))


@query(
    "null_imputation",
    oracle="""
    WITH masked AS (
        SELECT event_id, event_type,
               CASE WHEN value >= 1 THEN value END AS v
        FROM events),
    means AS (
        SELECT event_type,
               round(AVG(v), 6) AS type_mean
        FROM masked GROUP BY event_type)
    SELECT event_id, m.event_type,
           round(COALESCE(v, type_mean), 6) AS value_imputed,
           v IS NULL AS was_imputed
    FROM masked m JOIN means USING (event_type)
    """,
)
def null_imputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-cleaning surface: mask invalid measurements to NULL
    (values < 1 here, standing in for sentinel junk), then impute with
    the per-group mean — the standard feature-cleaning op.  The group
    means are a tiny aggregate broadcast back onto the fact table, so
    imputation costs one scan plus a map-side join; `na.fill`-style
    constant fills are the degenerate case (literal instead of the
    joined mean).  NULL semantics, not NaN — the reference's np.NaN
    markers (transaction_data.py:38-44) are exactly what this engine
    replaces with real SQL NULLs (SURVEY.md X10)."""
    events = table(spark, sf_dir, "events")
    masked = events.select(
        "event_id", "event_type",
        F.when(F.col("value") >= 1, F.col("value")).alias("v"))
    means = F.broadcast(
        masked.groupBy("event_type")
        .agg(F.round(F.avg("v"), 6).alias("type_mean")))
    return (masked.join(means, "event_type")
            .select("event_id", "event_type",
                    F.round(F.coalesce("v", "type_mean"), 6)
                    .alias("value_imputed"),
                    F.col("v").isNull().alias("was_imputed")))


@query(
    "mixture_sampling",
    oracle="""
    WITH rated AS (
        SELECT doc_id, source,
               CASE source WHEN 'web' THEN 8000 WHEN 'books' THEN 5000
                           WHEN 'wiki' THEN 10000 ELSE 2500 END AS keep_bp,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                    AS BIGINT) % 10000 AS bucket
        FROM documents)
    SELECT doc_id, source, bucket
    FROM rated WHERE bucket < keep_bp
    """,
)
def mixture_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture reweighting: per-source keep rates (basis
    points) applied via a DETERMINISTIC md5 bucket of the document id —
    the way corpus mixes ('2× wiki, 0.25× crawl') are materialized
    reproducibly.  Unlike rand()-based sampling, membership is a pure
    function of doc_id: re-runs, retried tasks, and incremental
    appends all agree on every document's fate, and the same bucket
    drives consistent train/val carve-outs downstream.  Shuffle-free:
    a scan + filter at any scale; rates live in a CASE (or a broadcast
    rate table when sources are many)."""
    docs = table(spark, sf_dir, "documents")
    keep_bp = (F.when(F.col("source") == "web", 8000)
               .when(F.col("source") == "books", 5000)
               .when(F.col("source") == "wiki", 10000)
               .otherwise(2500))
    bucket = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                                 1, 15), 16, 10)
              .cast("bigint") % 10000)
    return (docs.select("doc_id", "source", bucket.alias("bucket"),
                        keep_bp.alias("keep_bp"))
            .filter(F.col("bucket") < F.col("keep_bp"))
            .select("doc_id", "source", "bucket"))


@query(
    "lang_id_confusion",
    oracle=f"""
    WITH {_LANGID_PRED_CTES},
    cells AS (
        SELECT d.lang, p.predicted_lang, COUNT(*) AS n
        FROM documents d JOIN pred p ON d.doc_id = p.doc_id
        GROUP BY d.lang, p.predicted_lang),
    tot AS (SELECT lang, SUM(n) AS t FROM cells GROUP BY lang)
    SELECT c.lang, c.predicted_lang, c.n,
           ROUND(1.0 * c.n / tot.t, 6) AS recall
    FROM cells c JOIN tot USING (lang)
    """,
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the token-vote language classifier against
    the declared labels: (true lang, predicted lang, count, per-class
    recall) — the evaluation every classifier-based curation gate needs
    before its output drives filtering (a one-number accuracy hides
    which languages bleed into which).  Pure aggregation over the
    doc-grain prediction frame (lang_id_token_vote), so the model cost
    is shared and the matrix itself is languages² rows — driver-safe at
    any corpus size."""
    pred = lang_id_token_vote(spark, sf_dir)
    cells = (pred.groupBy("lang", "predicted_lang")
             .agg(F.count(F.lit(1)).alias("n")))
    tot = cells.groupBy("lang").agg(F.sum("n").alias("t"))
    return (cells.join(F.broadcast(tot), "lang")
            .select("lang", "predicted_lang", "n",
                    F.round(F.lit(1.0) * F.col("n") / F.col("t"), 6)
                    .alias("recall")))
