"""Graph analytics (operators/graph_algos.py): degree-ordered triangle
counting and integer-exact PageRank.

Pins: triangle counts equal an itertools brute force on adversarial
small graphs (complete graph, triangle-free path, random multigraphs
with self-loops/duplicates/reversed edges — the canonicalization must
absorb all three); PageRank equals a pure-python integer model
iteration-for-iteration (the same recurrence the DuckDB oracle unrolls)
and conserves the teleport floor for sink nodes.
"""
import itertools
import random

import pyspark.sql.functions as F
import pytest

from urbanistic_polygons_spark.operators.graph_algos import (
    PR_SCALE, canonical_edges, pagerank_int, sssp_int, triangle_count)


def _brute_triangles(edges):
    es = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nodes = sorted({x for e in es for x in e})
    tris = sum(1 for a, b, c in itertools.combinations(nodes, 3)
               if (a, b) in es and (b, c) in es and (a, c) in es)
    return len(es), tris


@pytest.mark.parametrize("name,edges", [
    ("k5", [(i, j) for i in range(5) for j in range(i + 1, 5)]),
    ("path", [(0, 1), (1, 0), (1, 2), (2, 3), (2, 3), (3, 3)]),
    ("star_plus_rim", [(0, i) for i in range(1, 8)]
     + [(1, 2), (3, 4), (5, 6)]),
])
def test_triangle_count_matches_brute_force(spark, name, edges):
    df = spark.createDataFrame(edges, "a long, b long")
    got = triangle_count(df).collect()[0]
    assert (got["n_edges"], got["n_triangles"]) == _brute_triangles(edges)


def test_triangle_count_random_graphs(spark):
    rng = random.Random(42)
    for trial in range(3):
        edges = [(rng.randrange(25), rng.randrange(25))
                 for _ in range(250)]
        df = spark.createDataFrame(edges, "a long, b long")
        got = triangle_count(df).collect()[0]
        assert ((got["n_edges"], got["n_triangles"])
                == _brute_triangles(edges)), f"trial {trial}"


def test_canonical_edges_absorbs_dupes_loops_reversals(spark):
    df = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 2), (3, 3), (2, 3)], "a long, b long")
    got = sorted(tuple(r) for r in canonical_edges(df).collect())
    assert got == [(1, 2), (2, 3)]


def _brute_pagerank(edges, iters):
    es = {(s, d) for s, d in edges if s != d}
    nodes = sorted({x for e in es for x in e})
    out = {}
    for s, _ in es:
        out[s] = out.get(s, 0) + 1
    n = len(nodes)
    base = 15 * PR_SCALE // (100 * n)
    rank = {v: PR_SCALE // n for v in nodes}
    for _ in range(iters):
        inb = {}
        for s, d in es:
            inb[d] = inb.get(d, 0) + rank[s] // out[s]
        rank = {v: base + 85 * inb.get(v, 0) // 100 for v in nodes}
    return rank


@pytest.mark.parametrize("iters", [1, 3, 5])
def test_pagerank_matches_integer_model(spark, iters):
    rng = random.Random(7)
    edges = [(rng.randrange(20), rng.randrange(20)) for _ in range(80)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"]
           for r in pagerank_int(df, iters=iters).collect()}
    assert got == _brute_pagerank(edges, iters)


def test_pagerank_symmetric_cycle_is_uniform(spark):
    df = spark.createDataFrame([(0, 1), (1, 2), (2, 0)],
                               "src long, dst long")
    ranks = {r["rank"] for r in pagerank_int(df, iters=4).collect()}
    assert len(ranks) == 1


def test_pagerank_source_holds_teleport_floor(spark):
    # node 0 has no in-edges: after any iteration its rank is exactly
    # the teleport term
    df = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank_int(df, iters=3).collect()}
    assert got[0] == 15 * PR_SCALE // (100 * 3)


def _brute_sssp_rounds(edges, source, rounds):
    """Synchronous full-relaxation Bellman-Ford: dist after round i =
    min path weight over <= i edges (the recurrence the DuckDB oracle
    unrolls; sssp_int's frontier loop must equal it round-for-round)."""
    ew = {}
    for s, d, w in edges:
        if s != d:
            ew[(s, d)] = min(w, ew.get((s, d), w))
    dist = {source: 0}
    for _ in range(rounds):
        nxt = dict(dist)
        for (s, d), w in ew.items():
            if s in dist and dist[s] + w < nxt.get(d, dist[s] + w + 1):
                nxt[d] = dist[s] + w
        dist = nxt
    return dist


def _dijkstra(edges, source):
    import heapq
    adj = {}
    for s, d, w in edges:
        if s != d:
            adj.setdefault(s, []).append((d, w))
    dist, heap = {}, [(0, source)]
    while heap:
        dv, v = heapq.heappop(heap)
        if v in dist:
            continue
        dist[v] = dv
        for d, w in adj.get(v, []):
            if d not in dist:
                heapq.heappush(heap, (dv + w, d))
    return dist


@pytest.mark.filterwarnings("error:sssp_int stopped")
@pytest.mark.parametrize("rounds", [1, 2, 8])
def test_sssp_round_bounded_matches_full_relaxation(spark, rounds):
    # weighted chain + shortcuts: needs several rounds to converge, so
    # small round caps pin the <=k-edge-path semantics (frontier ==
    # full synchronous relaxation, round-for-round)
    edges = [(0, 1, 10), (1, 2, 10), (2, 3, 10), (3, 4, 10),
             (0, 2, 50), (1, 4, 100), (0, 4, 500)]
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    want = _brute_sssp_rounds(edges, 0, rounds)
    if want != _brute_sssp_rounds(edges, 0, rounds - 1):
        # round `rounds` still improves: the bound is hit on purpose
        with pytest.warns(RuntimeWarning, match="sssp_int stopped"):
            got = sssp_int(df, 0, max_rounds=rounds)
    else:
        got = sssp_int(df, 0, max_rounds=rounds)
    assert {r["node"]: r["dist"] for r in got.collect()} == want


@pytest.mark.filterwarnings("error:sssp_int stopped")
def test_sssp_fixpoint_matches_dijkstra_random(spark):
    rng = random.Random(11)
    for trial in range(3):
        edges = [(rng.randrange(30), rng.randrange(30),
                  1 + rng.randrange(20)) for _ in range(120)]
        df = spark.createDataFrame(edges, "src long, dst long, w long")
        got = {r["node"]: r["dist"]
               for r in sssp_int(df, 0, max_rounds=40).collect()}
        assert got == _dijkstra(edges, 0), f"trial {trial}"


def test_sssp_parallel_edges_and_loops_collapse(spark):
    edges = [(0, 1, 9), (0, 1, 3), (1, 1, 1), (1, 2, 2)]
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    got = {r["node"]: r["dist"] for r in sssp_int(df, 0).collect()}
    assert got == {0: 0, 1: 3, 2: 5}


def test_sssp_unreachable_nodes_absent(spark):
    edges = [(0, 1, 1), (2, 3, 1)]
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    got = {r["node"]: r["dist"] for r in sssp_int(df, 0).collect()}
    assert got == {0: 0, 1: 1}
