"""Randomized-numeric oracle gate — sibling of the corpus/events/
embeddings gates for the lineitem/orders-reading queries (pricing agg,
HDR quantile sketch, HLL, pivot, keeper, the PTS-derived cell queries).
The generated tables plant the numeric boundary cases the sf corpus
never produces:

- prices that are exact POWERS OF TWO in cents (2^k, 2^k ± 1) — the HDR
  sketch's bucket boundaries (exponent = bit length - 1 flips there);
- 0.00 prices — the degenerate (0, 0) cell;
- decimal-tie prices (x.xx5) — HALF_UP vs half-even ROUND conventions;
- a single-row group and an all-identical-price group — rank clamping
  and window ties;
- shipdates exactly AT the q1 cutoff timestamp — <= boundary;
- duplicate (custkey, status) bursts, tied o_totalprice (global_topk's
  deterministic tie-break), and order statuses outside {F, O, P}
  (pivot counts them nowhere — identically in both engines).

Deterministic seeds; other tables symlink the real sf0.001."""

import os
import random

import duckdb
import pandas as pd
import pytest

from urbanistic_polygons_spark.catalog import TABLES, build_catalog

from test_catalog_oracle import SF_DIR, canon

CATALOG = build_catalog()

LINEITEM_QUERIES = ["q1_pricing", "hdr_quantiles"]
ORDERS_QUERIES = ["hll_distinct", "dedup_keeper", "pivot_status",
                  "global_topk", "salted_agg", "salted_prefix",
                  "density_raster", "cell_index", "cell_halo",
                  "morans_i"]

SEEDS = [11, 29]

CUTOFF = pd.Timestamp("1998-09-02 00:00:00")


def _gen_lineitem(seed: int) -> pd.DataFrame:
    rng = random.Random(seed)
    rows = []
    flags = ["A", "N", "R", "Z"]          # Z: a tiny group
    for i in range(4000):
        flag = "Z" if i < 1 else flags[i % 3]
        status = "O" if i % 2 else "F"
        p = rng.random()
        if p < 0.15:
            k = rng.randint(0, 40)        # power-of-two cents boundary
            cents = (1 << k) + rng.choice([-1, 0, 1])
            price = max(cents, 0) / 100.0
        elif p < 0.20:
            price = 0.0
        elif p < 0.30:
            price = rng.randint(0, 900) + rng.choice([.005, .015, .995])
        elif p < 0.40:
            price = 777.77                 # all-identical tie cluster
        else:
            price = round(rng.uniform(0.01, 105000.0), 2)
        ship = (CUTOFF if p < 0.05 else
                pd.Timestamp("1995-01-01")
                + pd.Timedelta(days=rng.randint(0, 2000)))
        rows.append((i // 4 + 1, i % 200 + 1, i % 100 + 1, i % 7,
                     float(rng.randint(1, 50)), price,
                     round(rng.uniform(0, 0.1), 2),
                     round(rng.uniform(0, 0.08), 2), flag, status, ship))
    df = pd.DataFrame(rows, columns=[
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate"])
    return df.astype({"l_orderkey": "int64", "l_partkey": "int64",
                      "l_suppkey": "int64", "l_linenumber": "int32",
                      "l_shipdate": "datetime64[us]"})


def _gen_orders(seed: int) -> pd.DataFrame:
    rng = random.Random(seed + 1000)
    statuses = ["F", "O", "P", "X"]       # X: outside the pivot columns
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-LOW", "5-NOT"]
    rows = []
    for i in range(2500):
        cust = rng.choice([rng.randint(1, 40),      # hot customers
                           rng.randint(1, 5000)])   # long tail
        price = rng.choice([111.11,                 # global_topk ties
                            round(rng.uniform(1, 500000), 2)])
        rows.append((i + 1, cust, rng.choice(statuses), price,
                     pd.Timestamp("1996-01-01")
                     + pd.Timedelta(days=rng.randint(0, 1000)),
                     rng.choice(prios)))
    df = pd.DataFrame(rows, columns=[
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"])
    return df.astype({"o_orderkey": "int64", "o_custkey": "int64",
                      "o_orderdate": "datetime64[us]"})


@pytest.fixture(scope="module")
def numeric_dirs(tmp_path_factory):
    dirs = {}
    for seed in SEEDS:
        d = tmp_path_factory.mktemp(f"rn{seed}")
        _gen_lineitem(seed).to_parquet(d / "lineitem.parquet", index=False)
        _gen_orders(seed).to_parquet(d / "orders.parquet", index=False)
        for t in TABLES:
            if t not in ("lineitem", "orders"):
                os.symlink(f"/root/testdata/sf0.001/{t}.parquet",
                           d / f"{t}.parquet")
        dirs[seed] = str(d)
    return dirs


@pytest.mark.parametrize("seed", SEEDS)
@pytest.mark.parametrize("name", LINEITEM_QUERIES + ORDERS_QUERIES)
def test_random_numeric_oracle(spark, numeric_dirs, name, seed):
    sf_dir = numeric_dirs[seed]
    spec = CATALOG[name]
    got = canon(spec["spark"](spark, sf_dir).toArrow(), name, "spark")
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')")
        exp = canon(con.execute(spec["oracle"]).arrow(), name, "oracle")
    finally:
        con.close()
    assert list(got.columns) == list(exp.columns), (
        f"{name}@seed{seed}: columns {list(got.columns)} != "
        f"{list(exp.columns)}")
    assert len(got) == len(exp), (
        f"{name}@seed{seed}: {len(got)} rows != {len(exp)}")
    assert len(got) > 0, f"{name}@seed{seed}: empty result"
    pd.testing.assert_frame_equal(got, exp, check_dtype=False,
                                  check_exact=True, obj=f"{name}@{seed}")


def test_morans_i_empty_orders(spark, tmp_path):
    """Empty input: both sides return the one summary row the oracle's
    scalar subqueries give — n_cells=0, w_pairs=0, NULL numerator and
    denominator."""
    import pyarrow.parquet as pq

    pq.write_table(pq.read_table(f"{SF_DIR}/orders.parquet").slice(0, 0),
                   tmp_path / "orders.parquet")
    for t in TABLES:
        if t != "orders":
            os.symlink(f"{SF_DIR}/{t}.parquet", tmp_path / f"{t}.parquet")
    spec = CATALOG["morans_i"]
    got = canon(spec["spark"](spark, str(tmp_path)).toArrow(),
                "morans_i", "spark")
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{tmp_path}/{t}.parquet')")
        exp = canon(con.execute(spec["oracle"]).arrow(), "morans_i", "oracle")
    finally:
        con.close()
    assert len(exp) == 1
    assert exp.n_cells[0] == 0 and exp.w_pairs[0] == 0
    assert pd.isna(exp.moran_num[0]) and pd.isna(exp.moran_den[0])
    pd.testing.assert_frame_equal(got, exp, check_dtype=False,
                                  check_exact=True, obj="morans_i@empty")
