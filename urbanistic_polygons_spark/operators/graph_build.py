"""Graph construction: OSM-like (nodes, ways) -> standardized barrier edges,
cell-bucketed with halos, ready for per-cell face extraction.

Everything here is declarative DataFrame ops (Catalyst-optimized), mapping
the reference's imperative builder:

- J1 node-resolve:      posexplode(ways.nodes) hash equi-join against nodes
                        (reference TiledBarrierGraphBuilder.cs:139-195)
- G1 vertex detection:  a way-node is a vertex iff first/last in a way or
                        shared by >=2 ways (TiledBarrierGraphBuilder.cs:139-169)
- G2 way->edge split:   window running-sum of is_vertex defines segments
                        (TiledBarrierGraphBuilder.cs:197-259)
- G5 standardize:       orient every edge west->east, reversing the shape —
                        load-order independence (TiledBarrierGraphExtensions
                        .cs:299-318); one rule, ``west_to_east``, for the
                        split, the G4 merge and the J4 planarize pieces
- S3 cell bucketing:    edges replicated to every halo cell of the anchor
                        cells their bbox covers (tools/.../Program.cs:43-147
                        pass-1/pass-2 ingest, but as one shuffle)

Pruning (G3/G4) happens inside the per-cell kernel (operators/faces.py)
because it is tile-local and must respect halo suppression.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import cells as C
from ..functions import rings
from ..plans.lineage import fixpoint

log = logging.getLogger(__name__)


def classify_barriers(ways: DataFrame, barrier_keys=("highway", "waterway",
                                                     "railway", "barrier")) -> DataFrame:
    """F1 isBarrier predicate: keep ways whose tags contain a barrier key
    (reference BarrierInfo.cs:45-73 + DefaultMergeFactorCalculator.cs:14-32;
    the full 17-row weight dim lives in operators/classify.py)."""
    cond = None
    for k in barrier_keys:
        c = F.map_contains_key(F.col("tags"), F.lit(k))
        cond = c if cond is None else (cond | c)
    return ways.filter(cond)


def resolve_way_nodes(nodes: DataFrame, ways: DataFrame) -> DataFrame:
    """J1: (way_id, pos, node_id, lon, lat, n_nodes) — the hash equi-join.
    At scale: nodes side is large -> sort-merge with AQE; per-cell ingest
    keeps both sides co-partitioned on cell."""
    exploded = ways.select(
        "way_id", F.size("nodes").alias("n_nodes"),
        F.posexplode("nodes").alias("pos", "node_id"))
    return exploded.join(nodes.select("node_id", "lon", "lat"), "node_id")


def detect_vertices(way_nodes: DataFrame) -> DataFrame:
    """G1: node_id -> is_vertex.  First/last of a way, or used by >=2 ways
    (or >=2 times in one way, e.g. ring closure) => vertex."""
    stats = way_nodes.groupBy("node_id").agg(
        F.count("*").alias("n_uses"),
        F.count_distinct("way_id").alias("n_ways"),
        F.max(F.when((F.col("pos") == 0)
                     | (F.col("pos") == F.col("n_nodes") - 1), 1)
              .otherwise(0)).alias("is_end"),
    )
    return stats.select(
        "node_id",
        ((F.col("n_ways") >= 2) | (F.col("is_end") == 1)
         | (F.col("n_uses") >= 2)).alias("is_vertex"))


def tag_signature(tags_col) -> F.Column:
    """Canonical tag-collection signature: md5 over sorted ``k=v`` entries.
    Two ways have equal tag COLLECTIONS (the reference's G4 merge
    condition, TiledBarrierGraphExtensions.cs:214-255) iff their
    signatures are equal."""
    return F.md5(F.concat_ws(";", F.array_sort(F.transform(
        F.map_entries(tags_col),
        lambda e: F.concat_ws("=", e["key"], e["value"])))))


def polyline(pts: str) -> dict:
    """The point array column ``pts`` (v1 first) as the columns
    ``west_to_east`` reads: its ends a, b and the ``'lon lat;...'`` text
    of the points between them."""
    first, last = F.element_at(pts, 1), F.element_at(pts, -1)
    mids = F.slice(pts, 2, F.greatest(F.size(pts) - 2, F.lit(0)))
    return {"a_lon": first["lon"], "a_lat": first["lat"],
            "b_lon": last["lon"], "b_lat": last["lat"],
            "mid_str": rings.text(mids)}


def edge_points() -> F.Column:
    """The one parse of an edge row's geometry: v1, the ``shape_pts``
    points, v2 as ``array<struct<ord double, lon, lat>>`` (``ord`` is the
    point's index along v1 -> v2)."""
    mids = F.transform(rings.points("shape_pts"), lambda p, i: F.struct(
        (i + 1).cast("double").alias("ord"), p["lon"].alias("lon"),
        p["lat"].alias("lat")))
    head = F.array(F.struct(F.lit(0.0).alias("ord"),
                            F.col("v1_lon").alias("lon"),
                            F.col("v1_lat").alias("lat")))
    npts = F.size(mids) + 1
    tail = F.array(F.struct(npts.cast("double").alias("ord"),
                            F.col("v2_lon").alias("lon"),
                            F.col("v2_lat").alias("lat")))
    return F.concat(head, mids, tail)


def bbox_of(pts: str) -> dict:
    """min_lon..max_lat over the ``lon``/``lat`` fields of the point array
    column ``pts``."""
    return {"min_lon": F.array_min(f"{pts}.lon"),
            "min_lat": F.array_min(f"{pts}.lat"),
            "max_lon": F.array_max(f"{pts}.lon"),
            "max_lat": F.array_max(f"{pts}.lat")}


def west_to_east() -> dict:
    """G5 standardize: the edge a -> b through the ``mid_str`` points
    (columns ``a_lon, a_lat, b_lon, b_lat, mid_str``) as ``v1_lon..v2_lat,
    shape_pts`` with v1 the western end, the shape reversed with it —
    load-order independence (TiledBarrierGraphExtensions.cs:299-318).  An
    edge with ``a_lon == b_lon`` runs b -> a."""
    fwd = F.col("a_lon") < F.col("b_lon")
    return {
        "v1_lon": F.when(fwd, F.col("a_lon")).otherwise(F.col("b_lon")),
        "v1_lat": F.when(fwd, F.col("a_lat")).otherwise(F.col("b_lat")),
        "v2_lon": F.when(fwd, F.col("b_lon")).otherwise(F.col("a_lon")),
        "v2_lat": F.when(fwd, F.col("b_lat")).otherwise(F.col("a_lat")),
        "shape_pts": F.when(F.col("mid_str") == "", F.lit(None)).otherwise(
            F.when(fwd, F.col("mid_str")).otherwise(
                _reverse_shape(F.col("mid_str")))),
    }


def _reverse_shape(shape: F.Column) -> F.Column:
    """``shape_pts`` text with its points in reverse order (null stays
    null)."""
    return F.when(shape.isNull(), F.lit(None)).otherwise(
        rings.concat(F.reverse(rings.tokens(shape))))


def split_ways_to_edges(nodes: DataFrame, ways: DataFrame) -> DataFrame:
    """G2 + G5: barrier ways -> standardized edges.

    Output: (way_id, seg, v1_lon, v1_lat, v2_lon, v2_lat,
             shape_pts string 'lon lat;...', min_lon..max_lat bbox, tag_sig).
    """
    ways = ways.withColumn("tag_sig", tag_signature(F.col("tags")))
    wn = resolve_way_nodes(nodes, ways)
    verts = detect_vertices(wn)
    wn = wn.join(verts, "node_id")

    # segment numbering: with vseq = running count of vertices up to and
    # including this pos, a vertex OPENS segment vseq-1 and CLOSES segment
    # vseq-2; a shape point belongs to segment vseq-1.  Vertices are emitted
    # twice (head + tail) so both neighboring segments get the boundary node.
    w = Window.partitionBy("way_id").orderBy("pos")
    wn = wn.withColumn(
        "vseq", F.sum(F.col("is_vertex").cast("int")).over(w))
    head = wn.withColumn("seg", F.col("vseq") - 1)
    tail = wn.filter(F.col("is_vertex")).withColumn("seg", F.col("vseq") - 2)
    both = head.unionByName(tail).filter(F.col("seg") >= 0)

    seg_pts = (
        both.groupBy("way_id", "seg")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "lon", "lat"))).alias("pts"))
        .filter(F.size("pts") >= 2)
    )
    edges = (seg_pts.withColumns(polyline("pts"))
             .withColumns(west_to_east()).withColumns(bbox_of("pts")))
    # attach the per-way tag signature (G4 merge equality key): way_id is
    # the join key on both sides, so AQE co-partitions this cheaply
    return edges.select(
        "way_id", "seg", "v1_lon", "v1_lat", "v2_lon", "v2_lat", "shape_pts",
        "min_lon", "min_lat", "max_lon", "max_lat",
    ).join(ways.select("way_id", "tag_sig"), "way_id")


def prune_shape_points(edges: DataFrame, max_rounds: int = 16) -> DataFrame:
    """G4 (declarative variant): contract degree-2 vertices by merging their
    two incident edges, shapes concatenated through the removed vertex —
    reference TiledBarrierGraphExtensions.cs:214-255.

    Merge condition: equal tag COLLECTIONS via the ``tag_sig`` column
    (tag_signature) — so chains crossing WAY boundaries with identical
    tags contract, exactly like the reference.

    Round-based chain contraction: each round merges a conflict-free set of
    degree-2 vertices (an edge merges only at the vertex that is its
    smallest candidate key), contracting every chain by a constant factor
    per round — a length-L chain collapses in O(log L) rounds.  At scale each round is two narrow shuffles
    (degree count + merge join); the in-kernel variant in operators/faces.py
    covers the tile-local case, this one the global pre-pass.
    """
    vkey1 = rings.token(F.col("v1_lon"), F.col("v1_lat"))
    vkey2 = rings.token(F.col("v2_lon"), F.col("v2_lat"))
    ekey = F.format_string("%s#%s", F.col("way_id").cast("string"),
                           F.col("seg").cast("string"))
    cols = edges.columns

    def step(edges):
        e = edges.select(*cols).withColumn("ekey", ekey).withColumn(
            "vk1", vkey1).withColumn("vk2", vkey2)
        not_loop = e.filter(F.col("vk1") != F.col("vk2"))
        ends = not_loop.select(
            F.col("vk1").alias("vk"), F.struct("ekey", "tag_sig").alias("inc")
        ).unionByName(not_loop.select(
            F.col("vk2").alias("vk"), F.struct("ekey", "tag_sig").alias("inc")))
        cand = (ends.groupBy("vk")
                .agg(F.array_sort(F.collect_list("inc")).alias("incs"))
                .filter((F.size("incs") == 2)
                        & (F.col("incs")[0]["ekey"] != F.col("incs")[1]["ekey"])
                        & (F.col("incs")[0]["tag_sig"]
                           == F.col("incs")[1]["tag_sig"]))
                .select("vk", F.col("incs")[0]["ekey"].alias("e1"),
                        F.col("incs")[1]["ekey"].alias("e2")))
        # conflict-free: an edge participates only at its smallest cand vk
        emin = (cand.select(F.col("e1").alias("ek"), "vk")
                .unionByName(cand.select(F.col("e2").alias("ek"), "vk"))
                .groupBy("ek").agg(F.min("vk").alias("min_vk")))
        ok = (cand
              .join(emin.withColumnRenamed("ek", "e1")
                    .withColumnRenamed("min_vk", "m1"), ["e1"])
              .join(emin.withColumnRenamed("ek", "e2")
                    .withColumnRenamed("min_vk", "m2"), ["e2"])
              .filter((F.col("m1") == F.col("vk")) & (F.col("m2") == F.col("vk")))
              .select("vk", "e1", "e2"))
        # orient each merging edge to END at the removed vertex, then chain
        sides = (ok.select("vk", F.col("e1").alias("ekey"), F.lit(1).alias("side"))
                 .unionByName(ok.select("vk", F.col("e2").alias("ekey"),
                                        F.lit(2).alias("side"))))
        m = e.join(sides, "ekey")
        at_v2 = F.col("vk2") == F.col("vk")
        far_lon = F.when(at_v2, F.col("v1_lon")).otherwise(F.col("v2_lon"))
        far_lat = F.when(at_v2, F.col("v1_lat")).otherwise(F.col("v2_lat"))
        # shape oriented far -> vk
        shp = F.when(at_v2, F.col("shape_pts")).otherwise(
            _reverse_shape(F.col("shape_pts")))
        m = m.select("vk", "side", "way_id", "seg", "tag_sig",
                     far_lon.alias("f_lon"), far_lat.alias("f_lat"),
                     shp.alias("shp"))
        side = ("f_lon", "f_lat", "shp", "way_id", "seg", "tag_sig")
        merged = (
            m.groupBy("vk")
            .agg(F.min(F.when(F.col("side") == 1, F.struct(*side))).alias("a"),
                 F.min(F.when(F.col("side") == 2, F.struct(*side))).alias("b"))
            .select(
                # the merged edge takes side a's identity: (a.way_id, a.seg)
                # is freed by consuming a, and — unlike least(a.seg, b.seg) —
                # can never collide with a surviving edge when a and b come
                # from DIFFERENT ways (cross-way merge under tag equality)
                F.col("a.way_id").alias("way_id"),
                F.col("a.seg").alias("seg"),
                F.col("a.tag_sig").alias("tag_sig"),
                F.col("a.f_lon").alias("a_lon"), F.col("a.f_lat").alias("a_lat"),
                F.col("b.f_lon").alias("b_lon"), F.col("b.f_lat").alias("b_lat"),
                # a.shp (a->vk) + vk + reverse(b.shp) (vk->b)
                rings.concat("a.shp", "vk", _reverse_shape(F.col("b.shp")))
                .alias("mid_str"))
        )
        new_edges = (merged.withColumns(west_to_east())
                     .withColumn("pts", edge_points())
                     .withColumns(bbox_of("pts")))
        dropped = (sides.select("ekey").distinct())
        survivors = e.join(dropped, "ekey", "left_anti").select(*cols)
        # merged edges are this round's change; a round with no
        # conflict-free merge returns every edge unchanged
        return (survivors.withColumn("_changed", F.lit(False))
                .unionByName(new_edges.select(
                    *cols, F.lit(True).alias("_changed"))))

    return fixpoint(step, edges, max_rounds, "prune_shape_points")


def bucket_edges_by_cell(edges: DataFrame, halo_ring: int = 1) -> DataFrame:
    """S3 ingest: replicate each edge to the halo of every anchor cell its
    bbox overlaps; ``in_anchor`` marks rows whose edge bbox overlaps the
    anchor cell's box (only those seed face walks — reference Faces.cs:35-48).

    The shuffle key is ``anchor_cell`` — downstream applyInPandas groups on
    it.  Heavy cells are later salted by the caller if needed.
    """
    # anchor cells covered by the edge bbox (cells the edge itself touches)
    covered = edges.withColumn("own_cell", F.explode(C.bbox_cells()))
    # each covering cell's halo becomes an anchor that sees this edge
    with_anchor = covered.withColumn(
        "anchor_cell", F.explode(C.neighbor_cells(F.col("own_cell"), ring=halo_ring)))
    out = (
        with_anchor
        .withColumn("in_anchor", F.col("own_cell") == F.col("anchor_cell"))
        .groupBy("anchor_cell", "way_id", "seg", "v1_lon", "v1_lat",
                 "v2_lon", "v2_lat", "shape_pts")
        .agg(F.max("in_anchor").alias("in_anchor"))
        .withColumn("halo_ring", F.lit(halo_ring))
    )
    return out


def barrier_edges(nodes: DataFrame, ways: DataFrame) -> DataFrame:
    """The planar barrier edge set of one graph build: F1 classify -> G2/G5
    split -> J4 planarize.  Graph tables, faces and merge resistance all
    take this one edge set (the reference runs faces and landuse on the
    same planarized tile graph), so merge boundary segments match the face
    boundaries by construction."""
    from .planarize import planarize
    return planarize(split_ways_to_edges(nodes, classify_barriers(ways)))


GRAPH_EDGES_SCHEMA = (
    "edge_guid string, v1_guid string, v2_guid string, "
    "v1_tile long, v2_tile long, way_id long, seg long, tag_sig string, "
    "shape_pts string, v1_lon double, v1_lat double, "
    "v2_lon double, v2_lat double")
_GRAPH_EDGES_COLS = [f.split()[0] for f in GRAPH_EDGES_SCHEMA.split(", ")]


def _edge_guids_kernel(batches):
    """mapInPandas kernel: per edge, quantize the COMPLETE forward point
    sequence (v1 + shape + v2) to each point's own z14 tile grid and derive
    the content-addressed UUIDv5 ids (reference
    Guids/EdgeGuidGenerator.cs:20-39, VertexGuidGenerator.cs:21-30).
    A Python loop over the Arrow batch on executors — never per-row
    through Spark."""
    import numpy as np

    from .. import kernels

    for pdf in batches:
        n = len(pdf)
        eg = np.empty(n, dtype=object)
        v1g = np.empty(n, dtype=object)
        v2g = np.empty(n, dtype=object)
        t1 = np.empty(n, dtype=np.int64)
        t2 = np.empty(n, dtype=np.int64)
        for i, r in enumerate(pdf.itertuples(index=False)):
            mid = rings.parse(r.shape_pts)
            lo = np.concatenate(([r.v1_lon], mid[:, 0], [r.v2_lon]))
            la = np.concatenate(([r.v1_lat], mid[:, 1], [r.v2_lat]))
            tx, ty = kernels.world_to_tile(lo, la)
            qx, qy = kernels.quantize(lo, la, tx, ty)
            tid = kernels.tile_local_id(tx, ty)
            eg[i] = kernels.edge_guid(np.stack([qx, qy, tid], axis=1))
            v1g[i] = kernels.vertex_guid(qx[0], qy[0], tid[0])
            v2g[i] = kernels.vertex_guid(qx[-1], qy[-1], tid[-1])
            t1[i] = tid[0]
            t2[i] = tid[-1]
        yield pdf.assign(edge_guid=eg, v1_guid=v1g, v2_guid=v2g,
                         v1_tile=t1, v2_tile=t2)[_GRAPH_EDGES_COLS]


def build_graph_tables(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The reference's full per-tile graph artifact: VERTICES and EDGES
    tables with content-addressed GUIDs — the cross-partition join keys
    (SURVEY §1.1) — alongside the faces that build_faces emits
    (reference Serialization/TiledBarrierGraphSerializer.cs:14-85
    checkpoints all three per tile).  ``edges`` is the barrier_edges set;
    the tables carry it G4-contracted.

    Returns (vertices, edges):
      vertices(vertex_guid, tile_id, lon, lat) — endpoint vertices,
        GUID-deduped (the id IS the quantized tiled location);
      edges(edge_guid, v1_guid, v2_guid, v1_tile, v2_tile, way_id, seg,
        tag_sig, shape_pts, v1_lon..v2_lat) — standardized, G4-contracted.
    """
    g_edges = prune_shape_points(edges).mapInPandas(
        _edge_guids_kernel, GRAPH_EDGES_SCHEMA)
    v1 = g_edges.select(F.col("v1_guid").alias("vertex_guid"),
                        F.col("v1_tile").alias("tile_id"),
                        F.col("v1_lon").alias("lon"),
                        F.col("v1_lat").alias("lat"))
    v2 = g_edges.select(F.col("v2_guid").alias("vertex_guid"),
                        F.col("v2_tile").alias("tile_id"),
                        F.col("v2_lon").alias("lon"),
                        F.col("v2_lat").alias("lat"))
    vertices = v1.unionByName(v2).dropDuplicates(["vertex_guid"])
    return vertices, g_edges


def build_faces(edges: DataFrame, max_ring: int = 4) -> DataFrame:
    """Barrier edges (barrier_edges) -> per-cell face polygons with
    content-addressed GUIDs, cross-cell dedup'd.

    G6 missing-tile expansion, batched: anchors whose face walks leave their
    halo (sentinel rows from the kernel) are retried with a 1-bigger halo —
    the Spark analog of the reference's load-missing-tiles-and-retry loop
    (TiledBarrierGraphBuilder.cs:53-61), but as one extra shuffle per round
    over only the failed anchors instead of per-tile lazy I/O.  The faces
    come back checkpointed, with no cached table left behind.
    """
    from .faces import extract_faces

    # every ring re-reads the edges and its own kernel output; both stay
    # cached only until the faces are materialized below
    edges = edges.cache()
    cached = [edges]
    results = []
    retry_anchors = None  # None = all anchors (round 1)
    for ring in range(1, max_ring + 1):
        bucketed = bucket_edges_by_cell(edges, ring)
        if retry_anchors is not None:
            bucketed = bucketed.join(F.broadcast(retry_anchors),
                                     "anchor_cell", "left_semi")
        out = extract_faces(bucketed).cache()
        cached.append(out)
        results.append(out.filter(F.col("face_guid").isNotNull()))
        retry_anchors = (out.filter(F.col("face_guid").isNull())
                         .select("anchor_cell").distinct())
        if retry_anchors.isEmpty():
            break
        if ring == max_ring:
            # faces whose walk exceeds the maximum halo (typically the
            # unbounded OUTER face of a large extent — at planet scale it
            # is not per-tile extractable, same as the reference's
            # implicit unbounded face) are dropped, but never silently:
            n_incomplete = retry_anchors.count()
            log.warning(
                "build_faces: %d anchor cell(s) still had "
                "incomplete face walks at max_ring=%d; their oversized "
                "faces (usually the unbounded outer face) are omitted",
                n_incomplete, max_ring)
            break

    faces = results[0]
    for r in results[1:]:
        faces = faces.unionByName(r)
    # a face found from several anchors keeps the copy of its smallest
    # anchor_cell (a reference-point rule), so its partition never
    # depends on the session's partitioning; the caches go once the
    # faces are checkpointed
    cols = faces.columns
    first = ["anchor_cell", *(c for c in cols if c != "anchor_cell")]
    faces = (faces.groupBy("face_guid")
             .agg(F.min(F.struct(*first)).alias("f"))
             .select(*(F.col(f"f.{c}") for c in cols))
             .localCheckpoint(eager=True))
    for df in cached:
        df.unpersist()
    return faces
