"""Bloom-filter runtime semi-join pruning — filter a huge probe side
map-side before the exact join ever shuffles it.

The classic runtime-filter pattern (Spark's own InjectRuntimeFilter /
Iceberg's Bloom pushdown; the reference has no analog because its
single-process joins never shuffle, `Tiles/TileStatic.cs` joins are
in-memory loops): when joining a 100 TB probe table against a key set
that is too big to broadcast as a hash-join build side but whose *Bloom
fingerprint* is tiny, build an m-bit Bloom filter over the keys, ship
it to every task, and drop non-matching probe rows before the shuffle.
False positives are removed by the exact (semi-)join that follows, so
the composition is semantically transparent — the Bloom only changes
how many rows reach the shuffle (|S|·(1+fp) instead of |corpus|).

Spark's `bloom_filter_agg` / `might_contain` expressions exist but are
not in the public function registry (verified: UNRESOLVED_ROUTINE), so
the filter is built from public primitives, all JVM-side:

1. positions: k seeded hashes per key, ``pmod(xxhash64(key, seed), m)``;
2. bitmap: group positions by 64-bit word index, ``bit_or`` the bit
   masks — a shuffle of at most m/64 rows;
3. ship: collect the (word_idx -> word) map ONCE (scalar-size: m/64
   longs, e.g. 16 KiB for m=2^17) and embed it as ONE array literal —
   membership is k ``element_at`` lookups + bitwise AND per row, and the
   probe side is never shuffled before the filter.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _positions(key: Column, m_bits: int, k: int) -> list[Column]:
    """k seeded Bloom positions for one key expression (all JVM)."""
    return [F.pmod(F.xxhash64(key, F.lit(s)), F.lit(m_bits))
            for s in range(k)]


def bloom_words(keys: DataFrame, key_col: str, m_bits: int = 1 << 15,
                k: int = 3) -> DataFrame:
    """-> (word_idx, word) bitmap of the m-bit Bloom filter over keys.

    The only shuffle is the word aggregation, capped at m/64 rows
    regardless of key count.  Missing word_idx rows mean an all-zero
    word (``collect_bloom`` fills them in).
    """
    pos = keys.select(
        F.explode_outer(F.array(*_positions(F.col(key_col), m_bits, k)))
        .alias("p"))
    return (pos
            .select(F.expr("p DIV 64").alias("word_idx"),
                    F.expr("shiftleft(1L, CAST(p % 64 AS INT))")
                    .alias("bit"))
            .groupBy("word_idx")
            .agg(F.bit_or("bit").alias("word")))


def collect_bloom(keys: DataFrame, key_col: str, m_bits: int = 1 << 15,
                  k: int = 3) -> list[int]:
    """Materialize the bitmap as a dense m/64-long word list (ONE
    scalar-size collect, shared by every downstream consumer)."""
    dense = [0] * (m_bits // 64)
    for r in bloom_words(keys, key_col, m_bits, k).collect():
        dense[r["word_idx"]] = r["word"]
    return dense


def _shiftleft1(nbits: Column) -> Column:
    """shiftleft(1L, <column>) — the python F.shiftleft only accepts a
    static int shift amount; the SQL form accepts an expression."""
    return F.call_function("shiftleft", F.lit(1).cast("long"),
                           nbits.cast("int"))


def bloom_contains(key: Column, words: list[int], m_bits: int,
                   k: int = 3) -> Column:
    """Membership test against a collected bitmap: k element_at lookups
    + bitwise AND, one shared array literal (no UDF, no join)."""
    lit_words = F.lit(words)
    cond = F.lit(True)
    for p in _positions(key, m_bits, k):
        word = F.element_at(
            lit_words, (F.floor(p / F.lit(64)) + F.lit(1)).cast("int"))
        cond = cond & (
            word.bitwiseAND(_shiftleft1(p % F.lit(64))) != F.lit(0))
    return cond


def bloom_prefilter(probe: DataFrame, key_col: str,
                    keys: DataFrame, keys_col: str,
                    m_bits: int = 1 << 15, k: int = 3) -> DataFrame:
    """Probe rows that PASS the Bloom built over keys (superset of the
    true matches: zero false negatives, ~fp false positives)."""
    words = collect_bloom(keys, keys_col, m_bits, k)
    return probe.where(bloom_contains(F.col(key_col), words, m_bits, k))


def bloom_semi_join(probe: DataFrame, key_col: str,
                    keys: DataFrame, keys_col: str,
                    m_bits: int = 1 << 15, k: int = 3) -> DataFrame:
    """Exact semi-join probe⋉keys with Bloom pre-pruning: the probe
    stream is cut to |matches|·(1+fp) rows map-side BEFORE the exact
    join shuffles anything.  Result rows are exactly the probe rows
    whose key exists in keys (the refine join removes Bloom false
    positives), so correctness never depends on m or k."""
    pre = bloom_prefilter(probe, key_col, keys, keys_col, m_bits, k)
    kd = keys.select(F.col(keys_col).alias(key_col)).dropDuplicates()
    return pre.join(kd, key_col, "left_semi")
