"""J4 planarization: crossing non-noded edges get split at proper
intersections; a square with crossing diagonals yields 4 triangular faces
+ exterior after planarize -> faces."""

import pytest
from pyspark.sql import functions as F

from urbanistic_polygons_spark.operators.faces import extract_faces
from urbanistic_polygons_spark.operators.planarize import (
    find_intersections, planarize,
)

B_LON, B_LAT = 4.78, 51.26
S = 0.004

EDGE_SCHEMA = ("way_id long, seg long, tag_sig string, v1_lon double, "
               "v1_lat double, v2_lon double, v2_lat double, "
               "shape_pts string, min_lon double, min_lat double, "
               "max_lon double, max_lat double")


def _edges(spark, rows):
    """Barrier-edge rows from ``(way_id, seg, v1_lon, v1_lat, v2_lon,
    v2_lat)``: no shape points, ``tag_sig`` = the way id."""
    return spark.createDataFrame(
        [(w, s, str(w), a, b, x, y, None, min(a, x), min(b, y), max(a, x),
          max(b, y)) for (w, s, a, b, x, y) in rows], EDGE_SCHEMA)


def _unsplit(edges):
    """The loop's per-edge piece path: empty before any split."""
    return edges.withColumn("_piece", F.array().cast("array<int>"))


def _square_with_diagonals(spark):
    c = [(B_LON, B_LAT), (B_LON + S, B_LAT), (B_LON + S, B_LAT + S),
         (B_LON, B_LAT + S)]
    return _edges(spark, [
        (10, 0, *c[0], *c[1]),
        (10, 1, *c[1], *c[2]),
        (10, 2, *c[2], *c[3]),
        (10, 3, *c[3], *c[0]),
        (11, 0, *c[0], *c[2]),  # crossing, not noded
        (12, 0, *c[1], *c[3]),
    ])


def test_find_intersections_center(spark):
    edges = _unsplit(_square_with_diagonals(spark))
    hits = find_intersections(edges).toPandas()
    # both diagonals get one split point each, at the square center
    assert set(zip(hits.way_id, hits.seg)) == {(11, 0), (12, 0)}
    assert len(hits) == 2
    assert hits.lon.map(lambda v: abs(v - (B_LON + S / 2)) < 1e-9).all()
    assert hits.lat.map(lambda v: abs(v - (B_LAT + S / 2)) < 1e-9).all()


def test_planarize_splits_diagonals(spark):
    edges = _square_with_diagonals(spark)
    flat = planarize(edges)
    # 4 sides + 4 half-diagonals, each carrying its way's tag_sig and a
    # bbox that covers its endpoints
    pdf = flat.toPandas()
    assert len(pdf) == 8
    assert sorted(zip(pdf.way_id, pdf.seg)) == [
        (10, 0), (10, 1), (10, 2), (10, 3), (11, 0), (11, 1), (12, 0), (12, 1)]
    assert (pdf.tag_sig == pdf.way_id.astype(str)).all()
    assert (pdf.min_lon == pdf[["v1_lon", "v2_lon"]].min(axis=1)).all()
    assert (pdf.max_lat == pdf[["v1_lat", "v2_lat"]].max(axis=1)).all()
    # and is now intersection-free
    assert find_intersections(_unsplit(flat)).isEmpty()


def test_faces_after_planarize(spark):
    edges = planarize(_square_with_diagonals(spark))
    bucketed = edges.select(
        F.lit(89563353).alias("anchor_cell"),  # cell of (4.78, 51.26)
        F.lit(1).alias("halo_ring"),
        "v1_lon", "v1_lat", "v2_lon", "v2_lat", "shape_pts",
        F.lit(True).alias("in_anchor"))
    faces = extract_faces(bucketed).filter(F.col("face_guid").isNotNull())
    pdf = faces.toPandas()
    # 4 triangles + 1 exterior
    assert len(pdf) == 5
    assert sorted(pdf.n_edges) == [3, 3, 3, 3, 4]


def test_noded_input_unchanged(spark):
    # edges sharing only endpoints are untouched (proper intersections only)
    edges = _edges(spark, [(1, 0, B_LON, B_LAT, B_LON + S, B_LAT),
                           (2, 0, B_LON + S, B_LAT, B_LON + S, B_LAT + S)])
    assert find_intersections(_unsplit(edges)).isEmpty()
    assert sorted(planarize(edges).collect()) == sorted(edges.collect())


def test_unsplit_edges_keep_orientation_and_numbering(spark):
    """Only split edges are rewritten: a vertical edge away from the
    crossing keeps its (v1, v2) orientation (re-orienting it by the
    strict ``v1_lon < v2_lon`` test would flip it whenever any other
    edge is split), and the (way_id, seg) renumbering of a way that
    mixes split and unsplit segments is dense in point order."""
    x = [B_LON + i * S for i in range(4)]
    rows = [
        # way 1: three segments along the parallel; seg 1 gets crossed
        (1, 0, x[0], B_LAT, x[1], B_LAT),
        (1, 1, x[1], B_LAT, x[2], B_LAT),
        (1, 2, x[2], B_LAT, x[3], B_LAT),
        # way 2: crosses way 1's seg 1 without a shared node
        (2, 0, x[1] + S / 4, B_LAT - S, x[2] - S / 4, B_LAT + S),
        # way 3: vertical, north -> south, far from the crossing
        (3, 0, x[3], B_LAT + 2 * S, x[3], B_LAT + S),
    ]
    out = {(r.way_id, r.seg): r
           for r in planarize(_edges(spark, rows)).collect()}
    assert sorted(out) == [(1, 0), (1, 1), (1, 2), (1, 3), (2, 0), (2, 1),
                           (3, 0)]
    v = out[(3, 0)]
    assert (v.v1_lon, v.v1_lat, v.v2_lon, v.v2_lat) == rows[4][2:6]
    # way 1 in point order: seg 0, the two halves of old seg 1 (split at
    # the crossing, x[1] + S/2), old seg 2
    xc = x[1] + S / 2
    got = [lon for s in range(4) for lon in (out[(1, s)].v1_lon,
                                            out[(1, s)].v2_lon)]
    assert got == pytest.approx([x[0], x[1], x[1], xc, xc, x[2], x[2], x[3]])


def test_prenoded_long_way_keeps_seg(spark):
    """A pre-noded way of 12 segments comes out of ``barrier_edges`` with
    every segment's ``seg`` as ``split_ways_to_edges`` numbered it (a
    string-ordered renumbering puts seg 10 and 11 before seg 2)."""
    from urbanistic_polygons_spark.operators.graph_build import (
        barrier_edges, classify_barriers, split_ways_to_edges)

    n = 12
    # a spur at every interior node makes it a vertex of the long way
    nodes = spark.createDataFrame(
        [(i, B_LON + i * S, B_LAT) for i in range(n + 1)]
        + [(100 + i, B_LON + i * S, B_LAT + S) for i in range(1, n)],
        "node_id long, lon double, lat double")
    tags = {"highway": "residential"}
    ways = spark.createDataFrame(
        [(1, list(range(n + 1)), tags)]
        + [(10 + i, [i, 100 + i], tags) for i in range(1, n)],
        "way_id long, nodes array<long>, tags map<string,string>")

    def by_seg(edges):
        return {r.seg: (r.v1_lon, r.v2_lon)
                for r in edges.filter("way_id = 1").collect()}

    split = by_seg(split_ways_to_edges(nodes, classify_barriers(ways)))
    assert sorted(split) == list(range(n))
    assert by_seg(barrier_edges(nodes, ways)) == split
