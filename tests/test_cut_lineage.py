"""cut_lineage (plans/lineage.py): the localCheckpoint variant that
drops the checkpoint's inherited `originStats`.

Why it exists (r5 scale-stress find): Spark 4's localCheckpoint keeps
the origin plan's ESTIMATED statistics, and the size-only stats visitor
estimates a join as the PRODUCT of its children's sizeInBytes — so an
iterative loop whose round self-joins the previous checkpoint SQUARES
the estimate every round.  The BigInt's digit count doubles per round;
by round ~16 Catalyst burns minutes of driver CPU multiplying
million-digit integers (observed: near_dup_components on a 500k-edge
graph never finished in 9 minutes before the fix, 60s after).
"""
import warnings

import pytest
from pyspark.sql import functions as F

from urbanistic_polygons_spark.operators.dedup import near_dup_components
from urbanistic_polygons_spark.plans import lineage
from urbanistic_polygons_spark.plans.lineage import cut_lineage, fixpoint


def _size_in_bytes(df) -> int:
    return int(str(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))


def test_cut_lineage_strips_inherited_stats(spark, monkeypatch):
    df = spark.range(100).select(
        F.col("id").alias("node"), (F.col("id") % 7).alias("component"))
    g = df.groupBy("node").agg(F.min("component").alias("component"))
    plain = g.localCheckpoint(eager=True)
    cut = cut_lineage(g)
    assert cut._jdf.queryExecution().analyzed() \
        .getClass().getSimpleName() == "LogicalRDD"
    # plain inherits the (small here) origin estimate; cut resets to the
    # session default (Long.MaxValue) — i.e. the inherited chain is gone
    assert _size_in_bytes(cut) != _size_in_bytes(plain)
    assert _size_in_bytes(cut) == (1 << 63) - 1
    assert sorted(r["node"] for r in cut.collect()) == list(range(100))

    # the fallback path (py4j internals drifted): same rows as the plain
    # checkpoint, and a warning instead of a silent un-stripped result —
    # once per process
    def broken(*args, **kwargs):
        raise RuntimeError("simulated internal API drift")

    monkeypatch.setattr(lineage, "DataFrame", broken)
    monkeypatch.setattr(lineage, "_cut_lineage_warned", False)
    with pytest.warns(RuntimeWarning, match="cut_lineage could not strip"):
        fallback = cut_lineage(g)
    assert sorted(r["node"] for r in fallback.collect()) == list(range(100))
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert cut_lineage(g).count() == 100


def test_cut_lineage_bounds_selfjoin_stat_growth(spark):
    """20 fixpoint rounds of checkpoint -> self-join: with cut_lineage the
    estimate stays bounded; with plain localCheckpoint its digit count
    would double per round (19 * 2^20 digits by round 20 — unrunnable,
    so only the fixed path is executed here and the bound asserted).
    The step never converges, so the loop also warns at its cap."""
    digits = []

    def step(labels):
        if "_changed" in labels.columns:      # a checkpoint of fixpoint
            digits.append(len(str(_size_in_bytes(labels))))
        ptr = labels.select(F.col("node").alias("p"),
                            F.col("component").alias("pc"))
        return (labels.join(ptr, labels.component == ptr.p, "left")
                .select("node",
                        F.coalesce("pc", "component").alias("component"),
                        F.lit(True).alias("_changed")))

    labels = spark.range(50).select(
        F.col("id").alias("node"), F.col("id").alias("component"))
    with pytest.warns(RuntimeWarning, match="jump stopped at max_rounds=20"):
        labels = fixpoint(step, labels, max_rounds=20, name="jump")
    # digit count of every post-checkpoint estimate stays at the
    # 19-digit default instead of doubling each round
    assert len(digits) == 19 and max(digits) < 25
    assert len(str(_size_in_bytes(labels))) < 25
    assert labels.columns == ["node", "component"]
    assert labels.count() == 50


@pytest.mark.filterwarnings("error:near_dup_components stopped")
def test_components_on_long_chain_converges(spark):
    """A 300-node path graph forces many propagation rounds — the shape
    that hit the stats blowup before the fix; exact answer asserted."""
    n = 300
    e = spark.range(n - 1).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
    got = near_dup_components(e)
    assert got.count() == n
    assert got.filter(F.col("component") != 0).count() == 0
