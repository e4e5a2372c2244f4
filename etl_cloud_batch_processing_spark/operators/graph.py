"""Distributed connected components — the clustering step of near-dedup.

Pair-level dedup (operators/dedup.py) stops at candidate pairs, but a
production corpus-dedup pipeline must *transitively close* them: if
A~B and B~C, all three are one duplicate group and exactly one document
survives.  That closure is connected components over the similarity
graph.

Two convergence-driven implementations, both built on the
run-until-converged runner (operators/iterative.py — materialize every
round, ``localCheckpoint`` lineage truncation, one driver scalar per
round):

* :func:`connected_components` — iterative min-label propagation: each
  round every vertex adopts the smallest component id among itself and
  its neighbors; converges in O(graph diameter) rounds.  The standard
  MapReduce/Spark formulation, and the right default for near-dup
  graphs (similarity is near-transitive, so diameters are tiny).
* :func:`connected_components_star` — the large-star/small-star
  alternation of Kiveris et al., "Connected Components in MapReduce
  and Beyond" (SoCC'14): each round rewires every vertex's larger
  neighbors (large-star) then its smaller neighbors (small-star) onto
  the neighborhood minimum, which contracts components in O(log d)
  rounds — the upgrade path when duplicate chains are long or the
  diameter is unknown in advance (a 100-TB graph's diameter isn't
  known before you run).  Value-checked against the same recursive-CTE
  oracle as the min-label form (near_dup_clusters_converged), and
  property-tested equivalent to it on random graphs.

Scale notes (100 TB corpus → billions of vertices, edges ≪ vertices²
because LSH only emits colliding pairs): the loop is a *driver-side
iteration over distributed joins* — no vertex data ever reaches the
driver; the only driver-visible value per round is the convergence
scalar; each round is one shuffle on the edges/labels frames; edges are
materialized once up front (the multi-branch recompute rule) and reused
every round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from etl_cloud_batch_processing_spark.operators.iterative import (
    iterate_to_fixpoint,
)


def connected_components(edges: DataFrame, src: str = "src",
                         dst: str = "dst", max_iter: int = 25) -> DataFrame:
    """Return (id, comp): every vertex of the undirected graph labeled
    with its component id = the minimum vertex id in the component.

    ``edges`` must already contain both directions of every undirected
    edge (callers union the swap).  Deterministic: the fixpoint is
    unique regardless of execution schedule.  Runs until NO label
    changes (``max_iter`` is a safety bound, not the stopping rule).
    """
    edges = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    edges = edges.persist()
    edges.count()  # materialize: the seed frame reads it via two
    #                concurrently-scheduled branches (src ∪ dst)
    labels0 = (edges.select(F.col("src").alias("id"))
               .union(edges.select(F.col("dst").alias("id")))
               .distinct()
               .select("id", F.col("id").alias("comp"))
               .localCheckpoint(eager=True))

    # The convergence check rides the round's own aggregation
    # (optimization round 13, guide §1.2: remove a pass): each round
    # tags its input labels as the "own" branch of the message union,
    # so the per-id groupBy that computes the new label can ALSO carry
    # the previous label out (`min` over the single own row).  The
    # changed-row count is then one cheap aggregate over the round's
    # cached frame instead of the former per-round new⋈old equi-join —
    # exactly the same count (both frames hold one row per id), one
    # less shuffle per round.
    def step(labels: DataFrame) -> DataFrame:
        msgs = (edges.join(labels, edges.src == labels.id)
                .select(F.col("dst").alias("id"), "comp",
                        F.lit(False).alias("own")))
        own = labels.select("id", "comp", F.lit(True).alias("own"))
        return (msgs.unionByName(own)
                .groupBy("id")
                .agg(F.min("comp").alias("comp"),
                     F.min(F.when(F.col("own"), F.col("comp")))
                     .alias("prev_comp")))

    def delta(old: DataFrame, new: DataFrame) -> float:
        row = new.agg(F.sum(
            (F.col("comp") != F.col("prev_comp")).cast("int"))).first()
        return float(row[0] or 0)

    # materialize="metric": the changed-count aggregate scans each
    # round's frame exactly once, so it doubles as the materializer —
    # one job per round instead of two.
    res = iterate_to_fixpoint(labels0, step, delta,
                              tol=0.0, max_rounds=max_iter,
                              checkpoint_every=1, materialize="metric")
    edges.unpersist()
    return res.state.select("id", "comp")


def _star_round(e: DataFrame) -> DataFrame:
    """One large-star THEN small-star round (Kiveris et al. SoCC'14),
    FUSED — optimization round 13 (guide §2.4: remove shuffles
    outright).  Semantically ``small_star(large_star(e))``, where

    * large-star connects every vertex's STRICTLY LARGER neighbors to
      the minimum of its closed neighborhood min(N(u) ∪ {u}), and
    * small-star orients every edge from its larger endpoint and
      connects each vertex's smaller neighbors AND itself to the
      minimum of those neighbors,

    with the multiplicity-insensitive intermediate ``distinct``s the
    textbook per-star form pays removed (three full edge-set shuffles
    per round):

    * the symmetrize dedup before large-star — both consumers are
      multiplicity-insensitive (a ``min`` aggregation, and a join whose
      output only reaches the round's final ``distinct``);
    * large-star's own trailing ``distinct`` — its output feeds only
      small-star, which re-aggregates by ``min`` and ends in the final
      ``distinct``;
    * small-star's symmetrize+orientation filter — a no-op on
      large-star output, which is already fully larger→smaller
      oriented (every emitted edge is (bigger neighbor → neighborhood
      minimum), self-loops dropped).

    The round's OUTPUT SET is identical to the unfused form (the final
    ``distinct`` normalizes multiplicity), so the convergence
    trajectory, round count, and fixpoint are unchanged — pinned by the
    min-label equivalence property test and the recursive-CTE oracle."""
    sym = (e.unionByName(e.select(F.col("v").alias("u"),
                                  F.col("u").alias("v")))
           .filter(F.col("u") != F.col("v")))
    nbrmin = (sym.groupBy("u").agg(F.min("v").alias("mnv"))
              .select("u", F.least("mnv", F.col("u")).alias("m")))
    large = (sym.join(nbrmin, "u")
             .filter(F.col("v") > F.col("u"))
             .select(F.col("v").alias("u"), F.col("m").alias("v"))
             .filter(F.col("u") != F.col("v")))
    # small-star over `large`: every row already has u > v, so the
    # closed-neighborhood minimum is just min(v)
    nbrmin2 = large.groupBy("u").agg(F.min("v").alias("m"))
    rewired = (large.join(nbrmin2, "u")
               .select(F.col("v").alias("u"), F.col("m").alias("v")))
    selfe = nbrmin2.select(F.col("u"), F.col("m").alias("v"))
    return (rewired.unionByName(selfe)
            .filter(F.col("u") != F.col("v"))
            .distinct())


def _edge_fingerprint(e: DataFrame) -> tuple[int, int]:
    """(count, order-independent xxhash64 sum) of an edge set — one
    partial-aggregated pass.  Star-CC compares consecutive rounds'
    fingerprints instead of an exceptAll symmetric difference (two
    anti-join shuffles per round); both frames are DISTINCT sets, so a
    false "converged" needs a summed 64-bit collision."""
    row = e.agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64("u", "v")).alias("h")).first()
    return (int(row["n"] or 0), int(row["h"] or 0))


def connected_components_star(edges: DataFrame, src: str = "src",
                              dst: str = "dst",
                              max_iter: int = 20) -> DataFrame:
    """Connected components via large-star/small-star alternation
    (Kiveris et al. SoCC'14) run to the edge-set fixpoint: returns
    (id, comp) with comp = the component's minimum vertex id, exactly
    like :func:`connected_components`, in O(log diameter) rounds
    instead of O(diameter).

    At the fixpoint the edge set is a union of stars (u, root); the
    label of every vertex is then min(its star roots ∪ itself) — one
    final aggregation, no further iteration."""
    e0 = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
          .filter(F.col("u") != F.col("v"))
          .distinct()
          .persist())
    e0.count()  # materialize before iterating
    nodes = (e0.select(F.col("u").alias("id"))
             .union(e0.select(F.col("v").alias("id")))
             .distinct()
             .localCheckpoint(eager=True))

    # Carry the previous round's fingerprint forward explicitly (one
    # aggregate per round instead of two): each round's "old" frame IS
    # the previous round's "new", whose fingerprint we just computed.
    # A strong reference keys the memo — the former id()-keyed dict
    # could hand a GC'd frame's fingerprint to a new frame on CPython
    # id reuse (round-12 ADVICE item 2).
    memo: dict[str, object] = {"frame": None, "fp": None}

    def delta(old: DataFrame, new: DataFrame) -> float:
        old_fp = (memo["fp"] if memo["frame"] is old
                  else _edge_fingerprint(old))
        new_fp = _edge_fingerprint(new)
        memo["frame"], memo["fp"] = new, new_fp
        return 0.0 if old_fp == new_fp else 1.0

    # materialize="metric": the fingerprint aggregate scans each new
    # edge frame exactly once (old's fingerprint is cached), so the
    # dedicated materialization job is redundant — one job per round.
    res = iterate_to_fixpoint(e0, _star_round, delta, tol=0.0,
                              max_rounds=max_iter, checkpoint_every=1,
                              materialize="metric")
    stars = res.state  # (u, v): u -> its component root candidate
    labels = (nodes.join(stars, nodes.id == stars.u, "left")
              .groupBy("id")
              .agg(F.least(F.min("v"), F.min("id")).alias("comp")))
    e0.unpersist()
    return labels
