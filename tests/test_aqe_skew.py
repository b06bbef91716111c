"""AQE skew-join evidence: the session enables
spark.sql.adaptive.skewJoin (session.py:24) — the runtime half of the
north_rule's skew story (the static half is salting, `salted_agg` /
`salted_prefix` in catalog/spatial.py).  This test proves the knob actually
*does* something on this engine: a deliberately skewed sort-merge join
gets its hot partition split by AQE (``skew=true`` in the final
adaptive plan) and the results are bit-identical with the optimization
on and off.

Reference workload analog: the urban-core tile hotspot —
`src/ANYWAYS.UrbanisticPolygons.Preprocessor/Program.cs:36-48` walks a
Belgium bbox where central-Brussels z14 tiles carry orders of magnitude
more ways than rural ones; any key-partitioned join on tile/cell id
inherits that skew at 100 TB.
"""

import pytest
from pyspark.sql import functions as F

# One hot key (~100k wide rows) + 64 cold keys.  With 8 shuffle
# partitions the hot key's partition is >10x the median, far past the
# lowered thresholds below.
_HOT_ROWS = 100_000
_COLD_KEYS = 64
_COLD_ROWS_PER_KEY = 500

_SKEW_CONFS = {
    # Lowered so local-mode data sizes trigger the same decision a
    # multi-TB partition would on a real cluster.
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1m",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256k",
    # Keep AQE from converting the SMJ to a broadcast join at runtime —
    # at 100 TB neither side of the hot join is broadcastable.
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def _skewed_tables(spark):
    fact = (
        spark.range(_HOT_ROWS + _COLD_KEYS * _COLD_ROWS_PER_KEY)
        .withColumn(
            "cell_id",
            F.when(F.col("id") < _HOT_ROWS, F.lit(0))
            .otherwise((F.col("id") - _HOT_ROWS) % _COLD_KEYS + 1),
        )
        # ~128B of high-entropy payload per row: skew detection uses the
        # COMPRESSED shuffle partition sizes, so repetitive padding would
        # deflate the hot partition back under the threshold.
        .withColumn(
            "payload",
            F.concat(*[F.md5(F.concat(F.col("id").cast("string"),
                                      F.lit(str(i)))) for i in range(4)]),
        )
    )
    dim = spark.range(_COLD_KEYS + 1).select(
        F.col("id").alias("cell_id"),
        (F.col("id") * 10).alias("weight"),
    )
    return fact, dim


def _run_join(spark, confs):
    saved = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        fact, dim = _skewed_tables(spark)
        # The verification aggregate is GLOBAL (partial map-side agg has no
        # required distribution): aggregating BY the join key would let the
        # agg reuse the join's hash partitioning, and AQE declines to split
        # a skewed partition when the split would force an extra shuffle.
        joined = (
            fact.hint("merge")
            .join(dim, "cell_id")
            .agg(
                F.count("*").alias("n"),
                F.sum("weight").alias("wsum"),
                F.sum(F.when(F.col("cell_id") == 0, 1).otherwise(0))
                .alias("hot_n"),
                # references payload so column pruning can't strip it from
                # the shuffle — otherwise the hot partition is 8B/row and
                # never crosses the skew threshold
                F.sum(F.length("payload")).alias("plen"),
            )
        )
        row = joined.collect()[0]
        plan = joined._jdf.queryExecution().executedPlan().toString()
        return (row["n"], row["wsum"], row["hot_n"], row["plen"]), plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_splits_hot_partition_and_results_match(spark):
    on_confs = dict(_SKEW_CONFS)
    off_confs = dict(_SKEW_CONFS)
    off_confs["spark.sql.adaptive.skewJoin.enabled"] = "false"

    res_on, plan_on = _run_join(spark, on_confs)
    res_off, plan_off = _run_join(spark, off_confs)

    # The optimization fired: the final adaptive plan marks the SMJ as
    # skew-handled only when the hot partition was actually split.
    assert "isFinalPlan=true" in plan_on
    assert "skew=true" in plan_on, plan_on
    assert "skew=true" not in plan_off

    # And it is purely physical: bit-identical results either way.
    assert res_on == res_off
    n_total = _HOT_ROWS + _COLD_KEYS * _COLD_ROWS_PER_KEY
    wsum = sum(10 * k * _COLD_ROWS_PER_KEY for k in range(1, _COLD_KEYS + 1))
    assert res_on == (n_total, wsum, _HOT_ROWS, 128 * n_total)
