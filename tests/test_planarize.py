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

EDGE_SCHEMA = ("edge_key string, v1_lon double, v1_lat double, "
               "v2_lon double, v2_lat double, shape_pts string")


def _square_with_diagonals(spark):
    c = [(B_LON, B_LAT), (B_LON + S, B_LAT), (B_LON + S, B_LAT + S),
         (B_LON, B_LAT + S)]
    rows = [
        ("side0", *c[0], *c[1], None),
        ("side1", *c[1], *c[2], None),
        ("side2", *c[2], *c[3], None),
        ("side3", *c[3], *c[0], None),
        ("diag0", *c[0], *c[2], None),  # crossing, not noded
        ("diag1", *c[1], *c[3], None),
    ]
    flat = [(k, a, b, x, y, s) for (k, a, b, x, y, s) in rows]
    return spark.createDataFrame(flat, EDGE_SCHEMA)


def test_find_intersections_center(spark):
    edges = _square_with_diagonals(spark)
    hits = find_intersections(edges).toPandas()
    # both diagonals get one split point each, at the square center
    assert set(hits.edge_key) == {"diag0", "diag1"}
    assert len(hits) == 2
    assert hits.lon.map(lambda v: abs(v - (B_LON + S / 2)) < 1e-9).all()
    assert hits.lat.map(lambda v: abs(v - (B_LAT + S / 2)) < 1e-9).all()


def test_planarize_splits_diagonals(spark):
    edges = _square_with_diagonals(spark)
    flat = planarize(edges).toPandas()
    # 4 sides + 4 half-diagonals
    assert len(flat) == 8
    # and is now intersection-free
    again = find_intersections(
        spark.createDataFrame(flat, EDGE_SCHEMA))
    assert again.isEmpty()


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
    rows = [("e0", B_LON, B_LAT, B_LON + S, B_LAT, None),
            ("e1", B_LON + S, B_LAT, B_LON + S, B_LAT + S, None)]
    edges = spark.createDataFrame(rows, EDGE_SCHEMA)
    assert find_intersections(edges).isEmpty()
    assert planarize(edges).count() == 2


def test_unsplit_edges_keep_orientation_and_numbering(spark):
    """Only split edges are rewritten: a vertical edge away from the
    crossing keeps its (v1, v2) orientation (re-orienting it by the
    strict ``v1_lon < v2_lon`` test would flip it whenever any other
    edge is split), and the (way_id, seg) renumbering of a way that
    mixes split and unsplit segments is dense in point order."""
    from urbanistic_polygons_spark.operators.graph_build import planarize_edges

    x = [B_LON + i * S for i in range(4)]
    rows = [
        # way 1: three segments along the parallel; seg 1 gets crossed
        (1, 0, x[0], B_LAT, x[1], B_LAT, None),
        (1, 1, x[1], B_LAT, x[2], B_LAT, None),
        (1, 2, x[2], B_LAT, x[3], B_LAT, None),
        # way 2: crosses way 1's seg 1 without a shared node
        (2, 0, x[1] + S / 4, B_LAT - S, x[2] - S / 4, B_LAT + S, None),
        # way 3: vertical, north -> south, far from the crossing
        (3, 0, x[3], B_LAT + 2 * S, x[3], B_LAT + S, None),
    ]
    edges = spark.createDataFrame(
        rows, "way_id long, seg long, v1_lon double, v1_lat double, "
              "v2_lon double, v2_lat double, shape_pts string")
    out = {(r.way_id, r.seg): r for r in planarize_edges(edges).collect()}
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
