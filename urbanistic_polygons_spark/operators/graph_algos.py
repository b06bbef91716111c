"""Classic web-scale graph analytics: degree-ordered triangle counting,
integer-exact PageRank, and frontier-based shortest paths.

The reference's graph work is structural (faces, components, merges —
`operators/faces.py`, `operators/merge.py`); these add the analytic
side every large-graph pipeline needs, each with the shape that makes
it survive a 100 TB edge list:

* **Triangle counting** uses the degree-ordering trick (Suri &
  Vassilvitskii, WWW'11 — "the curse of the last reducer"): orient
  every undirected edge from its lower-(degree, id) endpoint to the
  higher one, and every triangle is counted EXACTLY once as a wedge
  u->v, u->w with an orienting edge v->w.  The payoff is skew control:
  a celebrity node of degree d contributes O(d^2) wedges undirected,
  but after orientation every node's out-degree is O(sqrt(m)), so the
  wedge join's per-key fan-out — the thing that kills the job at scale
  — is bounded no matter how skewed the degree distribution is.

* **PageRank** runs in scaled integer arithmetic (rank units of
  1e-12), every step a BIGINT multiply/DIV — so five iterations are
  bit-for-bit reproducible and the DuckDB oracle (the same five
  iterations as chained CTEs) hash-matches exactly.  Per-iteration
  lineage is cut with an eager localCheckpoint (plans otherwise grow
  multiplicatively — repo working-notes rule).

Neither algorithm ever materializes a neighborhood list on the driver;
the only collects are two scalars (node count, initial rank).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.lineage import fixpoint

DAMP_NUM, DAMP_DEN = 85, 100          # damping 0.85 as an integer ratio
PR_SCALE = 10 ** 12                   # rank fixed-point scale


def canonical_edges(edges: DataFrame, a: str = "a",
                    b: str = "b") -> DataFrame:
    """Undirected edge set, canonicalized (lo, hi), self-loops dropped,
    deduped — one shuffle on the canonical pair."""
    lo, hi = F.least(F.col(a), F.col(b)), F.greatest(F.col(a), F.col(b))
    return (edges.select(lo.alias("lo"), hi.alias("hi"))
            .where(F.col("lo") != F.col("hi"))
            .dropDuplicates(["lo", "hi"]))


def triangle_count(edges: DataFrame, a: str = "a",
                   b: str = "b") -> DataFrame:
    """-> single row (n_edges, n_triangles) for the undirected graph,
    each triangle counted exactly once.

    Plan: canonical dedup -> degree agg (explode_outer both endpoints)
    -> orient by (degree, id) -> wedge self-join on the hinge ->
    closing-edge check.  After orientation out-degree <= O(sqrt m) so
    the wedge join is skew-bounded; the closing check is an inner join
    against the directed edge set keyed on BOTH endpoints (never a
    per-node adjacency collect).  The oriented edge set feeds four
    consumers (both wedge sides, the closing probe, the edge count), so
    it is checkpointed once instead of replayed per consumer."""
    e = canonical_edges(edges, a, b)
    deg = (e.select(F.explode_outer(F.array("lo", "hi")).alias("node"))
           .groupBy("node").agg(F.count("*").alias("deg")))
    # orient each edge from the (deg, id)-smaller endpoint to the
    # larger; carry the HEAD's degree so wedge legs can be ordered by
    # the same total order without re-joining degrees
    d_lo = deg.select(F.col("node").alias("lo"), F.col("deg").alias("dlo"))
    d_hi = deg.select(F.col("node").alias("hi"), F.col("deg").alias("dhi"))
    lo_first = ((F.col("dlo") < F.col("dhi"))
                | ((F.col("dlo") == F.col("dhi"))
                   & (F.col("lo") < F.col("hi"))))
    ed = (e.join(d_lo, "lo").join(d_hi, "hi")
          .select(
              F.when(lo_first, F.col("lo")).otherwise(F.col("hi"))
              .alias("u"),
              F.when(lo_first, F.col("hi")).otherwise(F.col("lo"))
              .alias("v"),
              F.when(lo_first, F.col("dhi")).otherwise(F.col("dlo"))
              .alias("dv"))
          .localCheckpoint(eager=True))
    # wedge = two out-edges of the same hinge u, legs ordered by the
    # orientation's (deg, id) total order so the closing edge — which
    # by the same orientation runs small->large — is probed exactly once
    e1 = ed.select("u", "v", "dv")
    e2 = ed.select(F.col("u"), F.col("v").alias("w"),
                   F.col("dv").alias("dw"))
    wedges = (e1.join(e2, "u")
              .where((F.col("dv") < F.col("dw"))
                     | ((F.col("dv") == F.col("dw"))
                        & (F.col("v") < F.col("w"))))
              .select("v", "w"))
    closing = ed.select(F.col("u").alias("v"), F.col("v").alias("w"))
    tris = wedges.join(closing, ["v", "w"])
    # one aggregation over a tagged union — no scalar cross-joins, no
    # replayed subtrees
    counts = (ed.select(F.lit(1).cast("long").alias("is_e"),
                        F.lit(0).cast("long").alias("is_t"))
              .unionByName(tris.select(
                  F.lit(0).cast("long").alias("is_e"),
                  F.lit(1).cast("long").alias("is_t"))))
    return counts.agg(F.sum("is_e").cast("long").alias("n_edges"),
                      F.sum("is_t").cast("long").alias("n_triangles"))


def pagerank_int(edges: DataFrame, src: str = "src", dst: str = "dst",
                 iters: int = 5) -> DataFrame:
    """-> (node, rank) after `iters` synchronous PageRank iterations in
    scaled-integer arithmetic (PR_SCALE units; every op BIGINT mul/DIV,
    bit-for-bit reproducible).  Simplified formulation: dangling mass
    is not redistributed (deterministic on both engines); unreferenced
    nodes hold the teleport term.

    rank_0    = PR_SCALE DIV N
    rank_i+1  = (15*PR_SCALE) DIV (100*N)
                + (85 * sum_incoming(rank_i DIV outdeg(src))) DIV 100
    """
    ed = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
          .where(F.col("src") != F.col("dst"))
          .dropDuplicates(["src", "dst"]))
    nodes = (ed.select(F.col("src").alias("node"))
             .unionByName(ed.select(F.col("dst").alias("node")))
             .dropDuplicates(["node"]))
    outd = ed.groupBy("src").agg(F.count("*").alias("outdeg"))
    # edge table carries outdeg once, checkpointed — reused every round
    ew = ed.join(outd, "src").localCheckpoint(eager=True)
    n = nodes.count()                       # scalar, collected once
    base = (DAMP_DEN - DAMP_NUM) * PR_SCALE // (DAMP_DEN * n)
    ranks = nodes.withColumn("rank", F.lit(PR_SCALE // n).cast("long"))
    for _ in range(iters):
        contrib = (ew.join(ranks, ew.src == ranks.node)
                   .select(F.col("dst").alias("node"),
                           F.expr("rank DIV outdeg").alias("c")))
        inbound = contrib.groupBy("node").agg(
            F.sum("c").cast("long").alias("inb"))
        ranks = (nodes.join(inbound, "node", "left")
                 .select(F.col("node"),
                         (F.lit(base).cast("long")
                          + F.expr(f"({DAMP_NUM} * COALESCE(inb, 0L))"
                                   f" DIV {DAMP_DEN}").cast("long"))
                         .alias("rank"))
                 .localCheckpoint(eager=True))
    return ranks


def sssp_int(edges: DataFrame, source: int, src: str = "src",
             dst: str = "dst", weight: str = "w",
             max_rounds: int = 8) -> DataFrame:
    """Single-source shortest paths over a weighted directed graph,
    bounded at ``max_rounds`` relaxation rounds -> (node, dist) for
    every node reached within that many hops.  The routing analog for
    the road-network graph the reference builds (its faces/edges are a
    navigation substrate — anyways-open/urbanistic-polygons
    README "barrier graph"); distances stay BIGINT so the result is
    bit-for-bit reproducible and the DuckDB oracle (the SAME rounds
    unrolled as chained min-union CTEs) hash-matches exactly.

    Semantics: after round i, ``dist(v)`` = min total weight over paths
    of <= i edges (the synchronous Bellman-Ford prefix).  The loop
    (``plans.lineage.fixpoint``) stops the moment a round improves
    nothing, which leaves the result identical to running all k rounds;
    a graph still improving in round k warns at the cap, and its result
    is the exact k-hop-bounded distance the oracle unrolls (the catalog
    graph at sf0.001 does: 14 nodes still improve in round 8).

    Scale shape: FRONTIER-based — each round relaxes only the out-edges
    of nodes whose distance improved last round (provably equal,
    round-for-round, to relaxing every edge: a candidate from a
    non-improved node was already offered the round after that node
    last improved).  On a converging graph the frontier shrinks toward
    the shortest-path tree's growing boundary, so per-round shuffle
    volume decays instead of re-joining the full edge set each round.
    Each round is one frontier⨝edges join (shuffle keyed on src) + one
    partial-aggregable min + one full-outer merge with the distance
    table, whose improved flag is the round's ``_changed`` column and
    the next frontier.  Parallel edges collapse to their min weight up
    front; weights are expected non-negative (bounded-round results stay
    exact either way, but only non-negative ones converge to true SSSP).
    """
    ed = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"),
                       F.col(weight).cast("long").alias("w"))
          .where(F.col("src") != F.col("dst"))
          .groupBy("src", "dst").agg(F.min("w").alias("w"))
          .localCheckpoint(eager=True))

    def step(state):
        frontier = state.filter("_changed")
        cand = (ed.join(frontier, ed.src == frontier.node)
                .select(F.col("dst").alias("node"),
                        (F.col("dist") + F.col("w")).alias("d"))
                .groupBy("node").agg(F.min("d").alias("d")))
        improved = F.col("d").isNotNull() & (F.col("dist").isNull()
                                             | (F.col("d") < F.col("dist")))
        return (state.select("node", "dist").join(cand, "node", "full_outer")
                .select("node",
                        F.when(improved, F.col("d")).otherwise(F.col("dist"))
                        .alias("dist"),
                        improved.alias("_changed")))

    start = edges.sparkSession.createDataFrame(
        [(int(source), 0, True)], "node long, dist long, _changed boolean")
    return fixpoint(step, start, max_rounds, "sssp_int")
