"""End-to-end graph pipeline: ways grid -> standardized edges -> per-cell
face extraction, verified against combinatorial expectations (a k x k
street lattice has (k-1)^2 interior faces + 1 exterior face)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from urbanistic_polygons_spark import datagen
from urbanistic_polygons_spark.operators.graph_build import (
    barrier_edges, bucket_edges_by_cell, build_faces, classify_barriers,
    detect_vertices, resolve_way_nodes, split_ways_to_edges,
)

K = 5


@pytest.fixture(scope="module")
def grid(spark):
    nodes_pdf, ways_pdf = datagen.gen_ways_grid(k=K, seed=44)
    nodes = spark.createDataFrame(nodes_pdf, schema="node_id long, lon double, lat double")
    ways = spark.createDataFrame(
        ways_pdf, schema="way_id long, nodes array<long>, tags map<string,string>")
    return nodes, ways


def test_classify_barriers(grid):
    nodes, ways = grid
    b = classify_barriers(ways)
    # 2k streets + 1 spur are barriers; 3 landuse rings are not
    assert b.count() == 2 * K + 1


def test_detect_vertices(grid):
    nodes, ways = grid
    wn = resolve_way_nodes(nodes, classify_barriers(ways))
    v = detect_vertices(wn).filter("is_vertex")
    # every lattice node is an intersection (2 ways) => vertex; spur end too
    assert v.count() == K * K + 1


def test_split_edges_count_and_orientation(grid):
    nodes, ways = grid
    edges = split_ways_to_edges(nodes, classify_barriers(ways))
    pdf = edges.toPandas()
    # lattice: k rows * (k-1) horizontal segments + same vertical + 1 spur
    assert len(pdf) == 2 * K * (K - 1) + 1
    # G5: every edge oriented west -> east
    assert (pdf.v1_lon < pdf.v2_lon).all()


def test_faces_grid(spark, grid):
    nodes, ways = grid
    spark.catalog.clearCache()
    faces = build_faces(barrier_edges(nodes, ways)).toPandas()
    # the build caches nothing that would outlive its DataFrames
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    # (k-1)^2 interior cells + 1 exterior ring face
    assert len(faces) == (K - 1) ** 2 + 1
    assert faces.face_guid.nunique() == len(faces)
    # interior faces have 4 edges each; exterior has 4(k-1)
    n_edges = sorted(faces.n_edges)
    assert n_edges[:-1] == [4] * ((K - 1) ** 2)
    assert n_edges[-1] == 4 * (K - 1)


def test_faces_partition_invariance(spark, grid):
    nodes, ways = grid
    a = build_faces(barrier_edges(nodes, ways)).toPandas()
    b = build_faces(barrier_edges(nodes.repartition(7),
                                  ways.repartition(5))).toPandas()
    assert sorted(a.face_guid) == sorted(b.face_guid)
    # a face seen from several anchors keeps one anchor_cell (the
    # partition key of the faces, landuse and merge stages) by rule, not
    # by which copy the session's shuffle partitioning meets first
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "3")
        c = build_faces(barrier_edges(nodes, ways)).toPandas()
    finally:
        spark.conf.set(key, prev)
    anchors = lambda df: dict(zip(df.face_guid, df.anchor_cell))  # noqa: E731
    assert anchors(a) == anchors(c)


def test_build_faces_planarizes_crossings(spark):
    """End-to-end J4 wiring: a square with NON-NODED crossing diagonals
    yields the 4 triangular faces only from the planarized barrier_edges;
    the raw split edges cannot close them."""
    B_LON, B_LAT, S = 4.78, 51.26, 0.004
    corners = [(1, B_LON, B_LAT), (2, B_LON + S, B_LAT),
               (3, B_LON + S, B_LAT + S), (4, B_LON, B_LAT + S)]
    nodes = spark.createDataFrame(corners, "node_id long, lon double, lat double")
    tags = {"highway": "residential"}
    ways = spark.createDataFrame(
        [(10, [1, 2, 3, 4, 1], tags),   # perimeter ring
         (11, [1, 3], tags),            # diagonal (crosses 12, not noded)
         (12, [2, 4], tags)],
        "way_id long, nodes array<long>, tags map<string,string>")
    n_flat = build_faces(barrier_edges(nodes, ways)).count()
    n_raw = build_faces(
        split_ways_to_edges(nodes, classify_barriers(ways))).count()
    # 4 triangles + the unbounded exterior face (a fully-loaded graph's
    # outer walk closes and is a normal face — same convention as the
    # reference and the 6x6 grid's 25+1=26)
    assert n_flat == 5, f"expected 4 triangles + outer, got {n_flat}"
    assert n_raw < 5  # without noding the diagonals cannot close triangles


def test_graph_tables_guids_and_roundtrip(spark, tmp_path):
    """build_graph_tables emits the reference's full per-tile artifact —
    vertices/edges with content-addressed GUIDs
    (Serialization/TiledBarrierGraphSerializer.cs:14-85): vertex GUID set
    matches the closed-form lattice expectation, edge ids are distinct and
    reference existing vertices, a straight edge's id reproduces from its
    raw point sequence, and a LineageStore commit reads back the same GUID
    sets."""
    import numpy as np

    from urbanistic_polygons_spark import kernels
    from urbanistic_polygons_spark.operators.graph_build import (
        build_graph_tables)
    from urbanistic_polygons_spark.plans.lineage import LineageStore

    nodes_pdf, ways_pdf = datagen.gen_ways_grid(k=K, seed=44, jitter=0.0)
    nodes = spark.createDataFrame(
        nodes_pdf, schema="node_id long, lon double, lat double")
    ways = spark.createDataFrame(
        ways_pdf, schema="way_id long, nodes array<long>, tags map<string,string>")
    vertices, edges = build_graph_tables(barrier_edges(nodes, ways))
    vp = vertices.toPandas()
    ep = edges.toPandas()

    # closed form: every street shares one tag collection, so G4 contracts
    # exactly the three degree-2 corner vertices ((0,k-1),(k-1,0),(k-1,k-1));
    # corner (0,0) keeps degree 3 via the spur and stays
    lon0, lat0, step = 4.70, 51.20, 0.01

    def vguid(lo, la):
        tx, ty = kernels.world_to_tile(np.array([lo]), np.array([la]))
        qx, qy = kernels.quantize(np.array([lo]), np.array([la]), tx, ty)
        return kernels.vertex_guid(
            qx[0], qy[0], kernels.tile_local_id(tx, ty)[0])

    pts = [(lon0 + gx * step, lat0 + gy * step)
           for gx in range(K) for gy in range(K)
           if (gx, gy) not in {(0, K - 1), (K - 1, 0), (K - 1, K - 1)}]
    pts.append((lon0 - step, lat0 - step))  # spur end
    exp = {vguid(lo, la) for lo, la in pts}
    assert set(vp.vertex_guid) == exp

    # 2k(k-1) lattice segments + spur, minus 3 corner contractions
    assert len(ep) == 2 * K * (K - 1) + 1 - 3
    assert ep.edge_guid.nunique() == len(ep)
    assert set(ep.v1_guid) | set(ep.v2_guid) == exp

    # content-addressing spot-check: the (0,0)-(1,0) edge id reproduces
    # from its raw forward point sequence
    lo = np.array([lon0, lon0 + step])
    la = np.array([lat0, lat0])
    tx, ty = kernels.world_to_tile(lo, la)
    qx, qy = kernels.quantize(lo, la, tx, ty)
    tid = kernels.tile_local_id(tx, ty)
    assert kernels.edge_guid(np.stack([qx, qy, tid], axis=1)) in set(ep.edge_guid)

    # commit -> read roundtrip (as the graph pipeline commits its stage 1)
    # preserves the GUID sets exactly
    store = LineageStore(str(tmp_path / "g"))
    rv = store.checkpoint(vertices, "graph_vertices", "tile_id")
    re = store.checkpoint(edges, "graph_edges", "v1_tile")
    assert set(rv.toPandas().vertex_guid) == exp
    assert set(re.toPandas().edge_guid) == set(ep.edge_guid)
