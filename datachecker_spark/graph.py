"""Distributed connected components and duplicate-cluster assignment.

Near-duplicate detection (minhash/simhash/ngram/embedding families in
textops.py / similarity.py) emits PAIRS; a 100 TB dedup pipeline needs the
transitive closure of those pairs — "A~B and B~C puts A,B,C in one cluster,
keep one representative" — before it can drop rows. The reference engine
reaches the same end state per hash-group (src/modules/duplicate_files/core.zig:17-94 keeps
the first member of each byte-identical group); this module generalizes that
to similarity graphs whose clusters are NOT cliques.

Algorithm: alternating large-star / small-star (Kiveris, Lattanzi, Mirrokni,
Rastogi, Vassilvitskii, "Connected Components in MapReduce and Beyond",
SoCC 2014 — public paper). Each half-round is one groupBy-min plus one join,
all relational/codegen; converges in O(log^2 n) rounds (2 in practice for
dedup graphs, whose components are near-cliques or short chains). Chosen
over plain min-label propagation (rounds = graph diameter — unbounded on
pathological chains) and over GraphFrames/GraphX (RDD-based, not available
here, and overkill for a pure min-aggregation fixpoint).

Scale notes (10^12-doc table, O(dup rate x docs) edges):
* Both stars are groupBy-min shuffles on the edge list. The hot key of a
  giant component (its min node accumulates degree = component size) is
  absorbed by partial aggregation (map-side combine) in the min agg; the
  join back of per-node minima is key-partitioned, never broadcast, never
  collected.
* Edge lists shrink monotonically toward the star form, so later rounds are
  cheaper than earlier ones.
* Each round is written once by cache.materialize, cutting the iterative
  lineage — without it the plan doubles per round — and the previous
  round's blocks are released as soon as the next round's exist.
* Fixpoint detection is one exact star-forest aggregate per round (a driver
  scalar, not a collect of data) — checked BEFORE each round, so convergence
  costs zero redundant confirmation rounds and a false fixpoint is
  structurally impossible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datachecker_spark import cache


def _canon(df: DataFrame, a: str, b: str) -> DataFrame:
    """Canonical undirected edge form: (u=min, v=max), no loops, distinct."""
    return (
        df.select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _is_star_forest(edges: DataFrame) -> bool:
    """EXACT fixpoint test, one aggregate job over the canonical edge list.

    A canonical (u<v per edge) edge set is a star forest — the alternation's
    true fixpoint (Kiveris et al. 2014, Thm 1: both stars preserve
    components, and the terminal states are exactly min-rooted stars) — iff
    (a) no node appears as a member (v) twice and (b) no member is also a
    root (u). Checked as a single union + groupBy + limit(1).count(): one
    shuffle per round, same per-round action count as the hash-sum signature
    this replaces, but it stops one full round earlier (a signature only
    detects a fixpoint by watching a round change NOTHING, i.e. after one
    redundant round of two stars + two joins) and it is exact — no
    hash-collision early-stop probability to price, no post-loop assertion
    needed. `edges` is a materialized round, so the check reads blocks.
    """
    # one scan of `edges`: each edge explodes into its two node roles
    node_roles = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("node"), F.lit(1).alias("r"), F.lit(0).alias("m")),
                F.struct(F.col("v").alias("node"), F.lit(0).alias("r"), F.lit(1).alias("m")),
            )
        ).alias("x")
    ).select("x.node", "x.r", "x.m")
    bad = (
        node_roles.groupBy("node")
        .agg(F.sum("r").alias("r"), F.sum("m").alias("m"))
        .where((F.col("m") > 1) | ((F.col("r") > 0) & (F.col("m") > 0)))
        .limit(1)
        .count()
    )
    return bad == 0


def _star_round(e: DataFrame) -> DataFrame:
    """One large-star + small-star round over the canonical edge list e."""
    # large-star over the symmetric view
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.min("v").alias("nbr_min"))
    mins = mins.select("u", F.least("u", "nbr_min").alias("m"))
    large = _canon(
        sym.join(mins, "u").where(F.col("v") > F.col("u")).select("v", "m"),
        "v",
        "m",
    )

    # small-star: group by the larger endpoint (canonical v), neighbors
    # are the smaller endpoints (canonical u)
    smins = large.groupBy("v").agg(F.min("u").alias("m"))
    return _canon(
        large.join(smins, "v")
        .select(F.col("u").alias("a"), F.col("m").alias("b"))
        .unionByName(smins.select(F.col("v").alias("a"), F.col("m").alias("b"))),
        "a",
        "b",
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components of an undirected edge list -> (node, cluster_id).

    cluster_id is the component's minimum node id (deterministic canonical
    representative — the same "keep the first/smallest" convention the
    reference's duplicate module applies within a hash group,
    /root/reference/src/modules/duplicate_files/core.zig).

    Only nodes incident to at least one non-loop edge appear in the output;
    singletons are their own trivial cluster and callers that need them
    re-attach with a left join (see dedup_clusters).

    Per round (Kiveris et al. 2014):
    * large-star: over the symmetric neighborhood of each node u with
      m(u) = min(N(u) + {u}), emit (v, m(u)) for every neighbor v > u.
      Strictly-larger neighbors re-point at the local minimum.
    * small-star: orient edges toward the larger endpoint; per node u with
      smaller neighbors N(u), m(u) = min(N(u)), emit (v, m(u)) for every
      v in N(u) + {u}. The node and all smaller neighbors collapse onto
      the smallest.

    Fixpoint = the edge set is exactly {(min(C), x) : x in C \\ min(C)} per
    component C, read out directly as the assignment.
    """
    # ids keep their input type: the algorithm needs only equality and a
    # total order, both of which Spark's least/greatest/min give every
    # orderable type — casting to long would crash (ANSI) or NULL-out
    # (non-ANSI) the engine's own string doc_ids
    e = cache.materialize(
        _canon(edges.select(F.col(src).alias("u"), F.col(dst).alias("v")), "u", "v")
    )
    converged = False
    try:
        # up to max_iterations star ROUNDS: convergence produced by round k is
        # detected by the check at the top of iteration k+1, so the final
        # round needs one extra checking pass — and a failed check there
        # raises before building a round nobody would read.
        for rounds in range(max_iterations + 1):
            # Exact fixpoint test first: checking at the top of the round
            # costs no confirmation round of two stars + two joins, and an
            # already-star input (e.g. exact-duplicate groups keyed to their
            # min) converges with ZERO star rounds.
            converged = _is_star_forest(e)
            if converged:
                break
            if rounds == max_iterations:
                raise RuntimeError(
                    f"connected_components did not converge in {max_iterations} rounds"
                )
            # the next round's blocks exist once materialize returns, so
            # the round they were computed from is no longer read
            nxt = cache.materialize(_star_round(e))
            cache.release(e)
            e = nxt
    finally:
        # any exit but convergence (the raise above, a failed job) leaves no
        # result to carry the blocks, so release them here; on convergence
        # e's blocks back the returned plan
        if not converged:
            cache.release(e)

    # no post-loop assertion needed: the loop exits only on the EXACT
    # star-forest test, so a split-cluster false fixpoint is impossible by
    # construction (the old hash-signature loop priced a ~2^-40/round
    # collision and paid two extra assertion jobs to backstop it)

    # star edges: u = component min (root), v = member
    comp = (
        e.select(F.col("v").alias("node"), F.col("u").alias("cluster_id"))
        .unionByName(
            e.select(F.col("u").alias("node"), F.col("u").alias("cluster_id"))
        )
        .groupBy("node")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
    # the final round's checkpoint blocks back `comp`'s plan as LogicalRDD
    # leaves — disposal is cache.release(result), the same contract as
    # minhash_near_dup_pairs (textops.py)
    return comp


def dedup_clusters(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Near-dup pairs -> (doc_id, cluster_id, cluster_size).

    The last stage of the dedup pipeline: transitive closure of the pair
    list plus per-cluster size (size > 1 by construction — every node here
    has an edge). Keep-policy downstream is `doc_id == cluster_id` (retain
    the canonical minimum, drop the rest), matching the reference's
    keep-first-of-group semantics on hash groups.
    """
    comp = connected_components(pairs, src, dst)
    sizes = comp.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return (
        comp.join(sizes, "cluster_id")
        .select(F.col("node").alias("doc_id"), "cluster_id", "cluster_size")
    )


def keep_canonical(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply the keep-policy: drop every clustered doc except its cluster's
    canonical (minimum-id) representative.

    `clusters` is dedup_clusters' output (doc_id, cluster_id, ...). Docs
    absent from `clusters` are singletons and always kept. The join is a
    left join on the doc id — clusters is O(duplicate docs), typically a
    small fraction of the corpus; Spark/AQE broadcasts it when it fits and
    falls back to a shuffled join when it does not, so no side is ever
    collected. End-to-end: pairs = minhash_near_dup_pairs(docs) ->
    dedup_clusters(pairs) -> keep_canonical(docs, clusters).
    """
    marks = clusters.select(
        F.col("doc_id").alias(id_col),
        (F.col("doc_id") == F.col("cluster_id")).alias("_is_canonical"),
    )
    return (
        docs.join(marks, id_col, "left")
        .where(F.coalesce(F.col("_is_canonical"), F.lit(True)))
        .drop("_is_canonical")
    )
