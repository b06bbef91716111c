"""Batched learn_bpe scale evidence (r4 verdict item 3).

The driver's synthetic documents corpus has a tiny, tie-heavy
vocabulary (median token df 3862/5000 docs), which is the batched
loop's documented worst case AND cannot support a real merge budget
(it runs dry at ~106 productive merges).  Real BPE vocabularies are
learned from Zipfian text, so this script builds a deterministic
Zipfian corpus (20k distinct pseudo-words, freq ~ 1/rank — pure
function of the seed, no external data), then runs learn_bpe at a
1,000-merge budget and reports:

- wall time and the COUNT-ROUND count (the driver-round-trip metric
  the r4 verdict flagged: the old loop = exactly one round per merge),
- merges accepted per round,
- merge-by-merge equality against batch=1 for the first 64 merges
  (the full-budget equality is covered by the randomized pytest gate).

Usage: python scripts/bench_bpe.py [n_merges] [batch]
"""
import random
import sys
import time

sys.path.insert(0, "/root/repo")

from urbanistic_polygons_spark.session import get_spark  # noqa: E402
from urbanistic_polygons_spark.operators import bpe as B  # noqa: E402


def zipf_docs(spark, n_words=20_000, n_docs=2_000, seed=20260821):
    rng = random.Random(seed)
    alphabet = "abcdefghijklmnopqrstuvwxyz"
    words = []
    seen = set()
    while len(words) < n_words:
        w = "".join(rng.choice(alphabet) for _ in range(rng.randint(3, 12)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    # Zipf: word at rank r appears ~ N/r times, assembled into docs
    bag = []
    for r, w in enumerate(words, 1):
        bag.extend([w] * max(1, 60_000 // r))
    rng.shuffle(bag)
    per = len(bag) // n_docs
    rows = [(i, " ".join(bag[i * per:(i + 1) * per]))
            for i in range(n_docs)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def run(n_merges=1000, batch=256):
    spark = get_spark("bpe_bench", cores=16, shuffle_partitions=16)
    docs = zipf_docs(spark).localCheckpoint(eager=True)
    docs.count()

    rounds = {"n": 0, "accepted": []}
    orig = B._apply_merges

    def counting(vocab, pairs):
        p = list(pairs)
        rounds["n"] += 1
        rounds["accepted"].append(len(p))
        return orig(vocab, p)

    B._apply_merges = counting
    try:
        t0 = time.time()
        m = B.learn_bpe(docs, n_merges=n_merges, batch=batch)
        got = [(r["left"], r["right"], r["cnt"])
               for r in m.orderBy("step").collect()]
        dt = time.time() - t0
    finally:
        B._apply_merges = orig

    # equality spot-check vs batch=1 on the first 64 merges
    m1 = B.learn_bpe(docs, n_merges=64, batch=1)
    seq = [(r["left"], r["right"], r["cnt"])
           for r in m1.orderBy("step").collect()]
    match = got[:64] == seq

    import json
    print(json.dumps({
        "n_merges": len(got), "count_rounds": rounds["n"],
        "wall_sec": round(dt, 1),
        "merges_per_round": round(len(got) / max(rounds["n"], 1), 2),
        "accepted_first_rounds": rounds["accepted"][:10],
        "seq_prefix_match": match,
        "old_loop_equivalent_rounds": len(got),
    }))


if __name__ == "__main__":
    run(int(sys.argv[1]) if len(sys.argv) > 1 else 1000,
        int(sys.argv[2]) if len(sys.argv) > 2 else 256)
