"""G4 declarative shape-point pruning (degree-2 chain contraction) —
reference TiledBarrierGraphExtensions.cs:214-255 semantics."""

from pyspark.sql import functions as F

from urbanistic_polygons_spark.operators.graph_build import prune_shape_points


def _edges(spark, rows):
    """Barrier-edge rows; ``tag_sig`` is the way id (same-way edges
    share tags)."""
    full = []
    for way_id, seg, v1, v2, shape in rows:
        lons = [v1[0], v2[0]] + [p[0] for p in shape]
        lats = [v1[1], v2[1]] + [p[1] for p in shape]
        shape_str = ";".join(f"{p[0]:.9f} {p[1]:.9f}" for p in shape) or None
        full.append((way_id, seg, str(way_id), v1[0], v1[1], v2[0], v2[1],
                     shape_str, min(lons), min(lats), max(lons), max(lats)))
    return spark.createDataFrame(
        full, "way_id long, seg long, tag_sig string, "
              "v1_lon double, v1_lat double, "
              "v2_lon double, v2_lat double, shape_pts string, "
              "min_lon double, min_lat double, max_lon double, max_lat double")


def test_chain_collapses_to_one_edge(spark):
    # A(0,0) - B(1,0) - C(2,0) - D(3,0), one way, one shape pt on the middle
    e = _edges(spark, [
        (7, 0, (0.0, 0.0), (1.0, 0.0), []),
        (7, 1, (1.0, 0.0), (2.0, 0.0), [(1.5, 0.1)]),
        (7, 2, (2.0, 0.0), (3.0, 0.0), []),
    ])
    out = prune_shape_points(e).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.v1_lon, r.v2_lon) == (0.0, 3.0)  # standardized west->east
    mids = [tuple(map(float, p.split(" "))) for p in r.shape_pts.split(";")]
    assert mids == [(1.0, 0.0), (1.5, 0.1), (2.0, 0.0)]
    assert (r.min_lon, r.max_lon, r.max_lat) == (0.0, 3.0, 0.1)


def test_degree4_vertex_untouched(spark):
    # cross at (1,0): four edges, center has degree 4 -> nothing merges
    e = _edges(spark, [
        (1, 0, (0.0, 0.0), (1.0, 0.0), []),
        (1, 1, (1.0, 0.0), (2.0, 0.0), []),
        (1, 2, (1.0, -1.0), (1.0, 0.0), []),
        (1, 3, (1.0, 0.0), (1.0, 1.0), []),
    ])
    assert prune_shape_points(e).count() == 4


def test_different_ways_not_merged(spark):
    # degree-2 vertex shared by two WAYS (different tags) stays
    e = _edges(spark, [
        (1, 0, (0.0, 0.0), (1.0, 0.0), []),
        (2, 0, (1.0, 0.0), (2.0, 0.0), []),
    ])
    assert prune_shape_points(e).count() == 2


def test_cross_way_equal_tags_merge(spark):
    # degree-2 vertex shared by two WAYS with IDENTICAL tag collections:
    # the chain contracts across the way boundary
    # (reference merges on tag-collection equality, not way identity)
    e = _edges(spark, [
        (1, 0, (0.0, 0.0), (1.0, 0.0), []),
        (2, 0, (1.0, 0.0), (2.0, 0.0), [(1.5, 0.1)]),
    ]).withColumn("tag_sig", F.lit("sig-residential"))
    out = prune_shape_points(e).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.v1_lon, r.v2_lon) == (0.0, 2.0)
    assert r.way_id in (1, 2) and r.tag_sig == "sig-residential"
    mids = [tuple(map(float, p.split(" "))) for p in r.shape_pts.split(";")]
    assert mids == [(1.0, 0.0), (1.5, 0.1)]


def test_cross_way_different_tags_not_merged(spark):
    e = _edges(spark, [
        (1, 0, (0.0, 0.0), (1.0, 0.0), []),
        (2, 0, (1.0, 0.0), (2.0, 0.0), []),
    ]).withColumn("tag_sig",
                  F.when(F.col("way_id") == 1, "sig-a").otherwise("sig-b"))
    assert prune_shape_points(e).count() == 2


def test_long_chain_log_rounds(spark):
    # 16-edge chain collapses within the bounded rounds
    rows = [(3, i, (float(i), 0.0), (float(i + 1), 0.0), []) for i in range(16)]
    out = prune_shape_points(_edges(spark, rows)).collect()
    assert len(out) == 1
    assert (out[0].v1_lon, out[0].v2_lon) == (0.0, 16.0)
    mids = out[0].shape_pts.split(";")
    assert len(mids) == 15


def test_deterministic_across_partitionings(spark):
    rows = [(3, i, (float(i), 0.0), (float(i + 1), 0.0),
             [(i + 0.5, 0.25)]) for i in range(9)]
    a = prune_shape_points(_edges(spark, rows)).collect()
    b = prune_shape_points(_edges(spark, rows).repartition(7)).collect()
    key = lambda r: (r.way_id, r.seg, r.v1_lon, r.v2_lon, r.shape_pts)  # noqa: E731
    assert sorted(map(key, a)) == sorted(map(key, b))
