"""Bloom runtime-filter semi-join (operators/bloomjoin.py).

Pins: (1) zero false negatives — the prefilter output is always a
superset of the true match set; (2) the exact refine removes every
false positive, so the result equals the plain semi-join row-for-row;
(3) the prefilter actually prunes (the point of the operator); (4) the
bitmap build shuffles at most m/64 rows regardless of key count.
"""
import pyspark.sql.functions as F
import pytest

from urbanistic_polygons_spark.operators.bloomjoin import (
    bloom_contains, bloom_prefilter, bloom_semi_join, bloom_words,
    collect_bloom)

M = 1 << 12
K = 3


@pytest.fixture(scope="module")
def sides(spark):
    keys = spark.range(0, 3000, 13).select(F.col("id").alias("key"))
    probe = spark.range(0, 6000).select(
        F.col("id").alias("key"),
        (F.col("id") % 7).alias("grp"))
    return keys, probe


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_modes_agree_and_match_exact_semi_join(sides):
    keys, probe = sides
    exact = probe.join(keys.dropDuplicates(), "key", "left_semi")
    lit = bloom_semi_join(probe, "key", keys, "key", m_bits=M, k=K)
    want = _rows(exact)
    assert want and _rows(lit) == want


def test_zero_false_negatives_and_real_pruning(sides):
    keys, probe = sides
    pre = bloom_prefilter(probe, "key", keys, "key", m_bits=M, k=K)
    pre_keys = {r["key"] for r in pre.select("key").collect()}
    true_keys = {r["key"] for r in keys.collect()}
    assert true_keys <= pre_keys            # no false negatives, ever
    # pruning: the prefilter must drop the bulk of the 6000-row probe
    # (231 true keys; fp rate at m=4096/k=3 over n=231 is ~0.2%)
    assert len(pre_keys) < 1000


def test_bitmap_build_is_word_bounded(spark, sides):
    keys, _ = sides
    words = bloom_words(keys, "key", m_bits=M, k=K)
    n = words.count()
    assert n <= M // 64
    # dense form: same words at the same indexes, zeros elsewhere
    dense = collect_bloom(keys, "key", m_bits=M, k=K)
    assert len(dense) == M // 64
    by_idx = {r["word_idx"]: r["word"] for r in words.collect()}
    assert all(dense[i] == by_idx.get(i, 0) for i in range(M // 64))


def test_contains_expression_agrees_with_python_model(spark):
    keys = spark.range(0, 500, 11).select(F.col("id").alias("key"))
    dense = collect_bloom(keys, "key", m_bits=M, k=K)
    probe = spark.range(0, 1200).select(F.col("id").alias("key"))
    got = {r["key"] for r in
           probe.where(bloom_contains(F.col("key"), dense, M, K))
                .collect()}
    member = {r["key"] for r in keys.collect()}
    assert member <= got
