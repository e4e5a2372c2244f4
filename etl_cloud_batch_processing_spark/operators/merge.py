"""Batch MERGE (upsert) — the warehouse mutation primitive.

The reference's only mutation verbs are truncate and append (SURVEY.md
§2.9 L6/L7).  A complete engine also needs MERGE INTO semantics — SCD
type-1 refresh of a dimension from a source batch — which plain-file
storage expresses as a full-outer join + rewrite (what Delta/Iceberg do
under the hood, minus the transaction log).  Pure DataFrame ops: one
shuffle on the merge keys, output is the new table version.

At 100 TB: the join shuffles both sides on the key; if the target is
bucketed on the key (sources/readers bucketed tables) its shuffle
disappears, and dynamic partition overwrite limits the rewrite to
partitions that received source rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SRC_FLAG = "__merge_src"
_TGT_FLAG = "__merge_tgt"

#: SCD2 bookkeeping columns appended to the tracked attributes.
SCD2_COLS = ["valid_from", "valid_to", "is_current"]


def merge_upsert(target: DataFrame, source: DataFrame,
                 keys: list[str],
                 update_cols: list[str] | None = None) -> DataFrame:
    """MERGE INTO target USING source ON keys:

    * matched → target row takes ``update_cols`` (default: every
      non-key source column present on the target) from the source —
      including explicit source NULLs (presence flags distinguish
      "source says NULL" from "no source row", which ``coalesce``
      alone cannot);
    * not matched by target → source row inserted;
    * not matched by source → target row kept unchanged.

    Requires ``source`` unique per key (enforce upstream with a
    deterministic dedup); output column order follows the target.
    """
    update_cols = [c for c in (update_cols or source.columns)
                   if c not in keys and c in target.columns]
    src_cols = set(source.columns)
    # Prefix-rename non-key source columns BEFORE the join: every output
    # column then resolves by plain name, so chained merges (target
    # lineage already containing this source) never trip Spark's
    # ambiguous-self-join detection the way df[c] references do.
    src = source.select(
        *[F.col(c) for c in keys],
        *[F.col(c).alias(f"__src_{c}") for c in source.columns
          if c not in keys],
        F.lit(1).alias(_SRC_FLAG))
    tgt = target.withColumn(_TGT_FLAG, F.lit(1))
    joined = tgt.join(src, keys, "full_outer")
    has_src = F.col(_SRC_FLAG).isNotNull()
    src_only = F.col(_TGT_FLAG).isNull()
    out = []
    for c in target.columns:
        if c in keys:
            out.append(F.col(c))      # key: list-form join coalesces sides
        elif c in update_cols:
            # matched AND source-only rows take the source value
            out.append(F.when(has_src, F.col(f"__src_{c}"))
                       .otherwise(F.col(c)).alias(c))
        elif c in src_cols:
            # excluded from updates: source value only for inserted rows
            out.append(F.when(src_only, F.col(f"__src_{c}"))
                       .otherwise(F.col(c)).alias(c))
        else:
            out.append(F.col(c))      # target-only column; inserts get NULL
    return joined.select(*out)


def scd2_schema_from(updates: DataFrame, keys: list[str],
                     ts_col: str) -> DataFrame:
    """An EMPTY SCD2 dimension frame shaped for :func:`merge_scd2`:
    key + tracked columns from ``updates`` plus the bookkeeping triple
    (valid_from/valid_to from ``ts_col``'s type, is_current bool).
    Seeding a brand-new dimension is then just merging batch 1 into
    this frame."""
    tracked = [c for c in updates.columns if c not in keys + [ts_col]]
    shaped = updates.select(
        *keys, *tracked,
        F.col(ts_col).alias("valid_from"),
        F.col(ts_col).alias("valid_to"),
        F.lit(True).alias("is_current"))
    return shaped.filter(F.lit(False))


def merge_scd2(target: DataFrame, updates: DataFrame, keys: list[str],
               ts_col: str,
               tracked: list[str] | None = None) -> DataFrame:
    """Incremental SCD TYPE-2 MERGE — the warehouse maintenance verb
    ``merge_upsert`` (type-1) deliberately is not: fold one batch of
    per-key observations into a versioned dimension, CLOSING the
    current version of every key whose tracked attributes changed
    (``valid_to`` = the observation time) and INSERTING the new
    version, while history rows and unchanged keys pass through
    untouched.

    Contract:

    * ``target`` carries ``keys`` + ``tracked`` + ``SCD2_COLS``
      (``valid_to IS NULL`` ⇔ ``is_current``); an empty frame from
      :func:`scd2_schema_from` seeds a new dimension.
    * ``updates`` carries ``keys`` + ``tracked`` + ``ts_col`` and must
      be UNIQUE per key — one observation per key per run (dedup a
      multi-change batch to its latest observation upstream; replaying
      finer-grained history is the one-shot derivation
      ``scd2_user_type_history`` instead).
    * IDEMPOTENT per run: re-merging the same batch is a no-op —
      after the first run the current version equals the observation
      (NULL-safe compare), so no row closes or inserts twice.
    * Out-of-order protection: an observation at or before the current
      version's ``valid_from`` never rewrites history — it is dropped
      for matched keys (late data belongs to a backfill rerun of the
      affected window, the L4 semantics, not to a forward merge).
    * ``ts_col`` must be NON-NULL on every update row: a NULL
      observation time would make ``changed`` evaluate NULL→false
      (matched keys silently dropped) and a brand-new key would insert
      with ``valid_from NULL``, breaking the ``valid_to IS NULL ⇔
      is_current`` chain.  Rather than silently corrupting the
      dimension, the merge raises at execution time (``raise_error``
      folded into the batch projection — fail-fast like
      ``expectations.gate``, but without forcing an extra eager pass
      over the batch).

    Shape: ONE full-outer join of the CURRENT slice against the batch
    on the key, then a union with the untouched history slice.  At
    100 TB the history partition (``is_current = false``) is never
    read by the join; bucketing both sides on the key removes the
    shuffle entirely, and composing with ``publish_manifested`` makes
    the rewrite reader-atomic (tests/test_merge_scd2.py drives that
    composition).
    """
    if tracked is None:
        tracked = [c for c in updates.columns if c not in keys + [ts_col]]
    cur = target.filter(F.col("is_current"))
    hist = target.filter(~F.col("is_current"))
    src = updates.select(
        *[F.col(c) for c in keys],
        *[F.col(c).alias(f"__src_{c}") for c in tracked],
        # contract: every observation carries a real time — NULL would
        # silently drop matched keys and break the is_current chain
        F.when(F.col(ts_col).isNotNull(), F.col(ts_col))
        .otherwise(F.raise_error(F.lit(
            f"merge_scd2: NULL {ts_col} in updates — every observation "
            "must carry a real observation time")))
        .alias("__src_ts"),
        F.lit(1).alias(_SRC_FLAG))
    tgt = cur.withColumn(_TGT_FLAG, F.lit(1))
    j = tgt.join(src, keys, "full_outer")

    has_src = F.col(_SRC_FLAG).isNotNull()
    has_tgt = F.col(_TGT_FLAG).isNotNull()
    differs = F.lit(False)
    for c in tracked:
        differs = differs | ~F.col(c).eqNullSafe(F.col(f"__src_{c}"))
    changed = (has_src & has_tgt & differs
               & (F.col("__src_ts") > F.col("valid_from")))

    out_cols = [*keys, *tracked, *SCD2_COLS]
    # current rows that survive as-is (unchanged, stale update, or no
    # update at all)
    kept = (j.filter(has_tgt & ~changed)
            .select(*[F.col(c) for c in out_cols]))
    # closed versions: tracked attrs change at __src_ts
    closed = (j.filter(changed)
              .select(*[F.col(c) for c in keys + tracked],
                      F.col("valid_from"),
                      F.col("__src_ts").alias("valid_to"),
                      F.lit(False).alias("is_current")))
    # inserted versions: brand-new keys, or the new version of a
    # changed key
    ins = (j.filter(has_src & (~has_tgt | changed))
           .select(*[F.col(c) for c in keys],
                   *[F.col(f"__src_{c}").alias(c) for c in tracked],
                   F.col("__src_ts").alias("valid_from"),
                   F.lit(None).cast(dict(j.dtypes)["valid_from"])
                   .alias("valid_to"),
                   F.lit(True).alias("is_current")))
    return hist.select(*out_cols).unionByName(kept) \
        .unionByName(closed).unionByName(ins)
