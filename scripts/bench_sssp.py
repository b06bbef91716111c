#!/usr/bin/env python
"""SSSP at a size where it means something (r4 verdict item 8).

The catalog's `sssp` entry runs on a 350-node correctness graph where
per-round fixed costs dominate; this script builds a DETERMINISTIC
10^6-node / ~4x10^6-edge directed graph (pure arithmetic over
spark.range — no external data), runs the frontier Bellman-Ford
(`graph_algos.sssp_int`, 8 rounds) and reports wall time for frontier
vs FULL relaxation (an independent inline dist⨝edges-every-round
implementation), plus result parity (row-count + summed distance)
between the two at equal rounds.  The per-round frontier sizes of the
10^6-node graph are recorded in BENCH.md.

Usage: python scripts/bench_sssp.py [n_nodes] [rounds]
"""
from __future__ import annotations

import json
import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))

from pyspark.sql import functions as F  # noqa: E402

from urbanistic_polygons_spark.operators.graph_algos import sssp_int  # noqa: E402
from urbanistic_polygons_spark.session import get_spark  # noqa: E402


def make_edges(spark, n):
    """~4 out-edges per node: multiplicative-hash dsts (long-range) plus
    a +1 ring edge (guarantees global reachability), weights 1..16."""
    base = spark.range(n).select(F.col("id").alias("src"))
    outs = []
    for salt in (7919, 104729, 1299709):
        outs.append(base.select(
            "src",
            ((F.col("src") * salt + salt // 3) % n).alias("dst"),
            ((F.col("src") * 31 + salt) % 16 + 1).alias("w")))
    outs.append(base.select(
        "src", ((F.col("src") + 1) % n).alias("dst"),
        F.lit(3).alias("w")))
    ed = outs[0]
    for o in outs[1:]:
        ed = ed.unionByName(o)
    return ed


def full_relaxation(ed, source, rounds):
    """Independent reference: relax EVERY edge each round."""
    spark = ed.sparkSession
    dist = spark.createDataFrame([(int(source), 0)], "node long, dist long")
    for _ in range(rounds):
        cand = (ed.join(dist, ed.src == dist.node)
                .select(F.col("dst").alias("node"),
                        (F.col("dist") + F.col("w")).alias("d"))
                .groupBy("node").agg(F.min("d").alias("d")))
        dist = (dist.join(cand, "node", "full_outer")
                .select("node",
                        F.when(F.col("d").isNotNull()
                               & (F.col("dist").isNull()
                                  | (F.col("d") < F.col("dist"))),
                               F.col("d")).otherwise(F.col("dist"))
                        .alias("dist"))
                .localCheckpoint(eager=True))
    return dist


def main(n=1_000_000, rounds=8):
    spark = get_spark("sssp_bench", cores=16, shuffle_partitions=32)
    ed = (make_edges(spark, n)
          .where(F.col("src") != F.col("dst"))
          .groupBy("src", "dst").agg(F.min("w").alias("w"))
          .localCheckpoint(eager=True))
    n_edges = ed.count()

    t0 = time.perf_counter()
    d1 = sssp_int(ed, source=0, max_rounds=rounds)
    r1, s1 = d1.agg(F.count("*"), F.sum("dist")).collect()[0]
    t_frontier = round(time.perf_counter() - t0, 1)

    t0 = time.perf_counter()
    d2 = full_relaxation(ed, 0, rounds)
    r2, s2 = d2.agg(F.count("*"), F.sum("dist")).collect()[0]
    t_full = round(time.perf_counter() - t0, 1)

    print(json.dumps({
        "n_nodes": n, "n_edges": n_edges, "rounds": rounds,
        "frontier_sec": t_frontier, "full_relax_sec": t_full,
        "parity": bool(r1 == r2 and s1 == s2),
        "reached": int(r1), "dist_sum": int(s1),
    }))


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000,
         int(sys.argv[2]) if len(sys.argv) > 2 else 8)
