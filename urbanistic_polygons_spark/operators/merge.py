"""Merge-by-similarity phase (reference README.md step 3).

The reference ships ONLY the resistance weight table for this phase
(DefaultMergeFactorCalculator.cs:14-32) — the merge itself has no
implementation anywhere in its src/ (SURVEY.md:15-18).  This module
supplies the missing phase Spark-first with documented semantics:

  two INTERIOR faces merge iff
    (a) they share at least one boundary segment of the planar graph,
    (b) the STRONGEST barrier along their shared boundary has
        resistance <= threshold (the strongest barrier decides whether
        the boundary "counts" — a motorway fragment in an otherwise
        residential boundary still separates), and
    (c) they are landuse-similar: equal dominant landuse class, with
        faces that have no landuse forming their own class.

  Merged regions are the connected components of the mergeable-pair
  graph (min-label propagation, ``dedup.near_dup_components``).

Scale notes: every step shuffles on a bounded key.  A planar boundary
segment borders at most TWO faces, so ``groupBy(seg_key)`` groups have
size <= 2 (+ the handful of barrier ways overlapping that segment on
the resistance side) — no pair enumeration beyond true adjacency ever
happens, and the component loop is diameter-bounded with pointer
jumping.  The unbounded outer face is excluded by ring ORIENTATION
(the right-turn face walk emits interior rings clockwise and the outer
ring counterclockwise — shoelace sign, kernels.signed_area semantics),
not by any size heuristic.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import rings
from ..plans.lineage import cut_lineage
from .dedup import near_dup_components

#: segments whose boundary matches no classified barrier edge DO NOT
#: merge: a missed segment-key join (filtered edge subset, or a
#: formatting divergence between the Python-formatted ring tokens and
#: the Java-formatted edge tokens, which differ on about half of the
#: coordinates whose shortest decimal ends in a 5 at the tenth place,
#: e.g. 4.7000000045 -> 4.700000004 vs 4.700000005, functions/rings.py)
#: must fail safe as "barrier unknown = keep apart", never as a silent
#: merge across a motorway
_DEFAULT_RESISTANCE = 1 << 30


def _seg_keys(pts: str):
    """Consecutive undirected segment keys over a CLOSED point array
    (face rings repeat their first point at the end, faces.face_ring, so
    consecutive pairs cover every boundary segment without wraparound).
    Canonical key: 'min|max' over the formatted point strings — any
    consistent total order works, both producers use the same one."""
    a = F.slice(F.col(pts), 1, F.size(F.col(pts)) - 1)
    b = F.slice(F.col(pts), 2, F.size(F.col(pts)) - 1)
    return F.zip_with(a, b, lambda p, q: F.concat_ws(
        "|", F.least(p, q), F.greatest(p, q)))


def _shoelace2() -> F.Column:
    """2x the shoelace signed area of the 'xy' point array (scalar-size
    per ring -> JVM HOF is the right tool; repo rule keeps Arrow kernels
    for corpus-wide math only).  Negative => clockwise => interior face
    (kernels.signed_area convention; the right-turn walk of faces.py
    emits interior rings clockwise, the unbounded face counterclockwise)."""
    a = F.slice(F.col("xy"), 1, F.size(F.col("xy")) - 1)
    b = F.slice(F.col("xy"), 2, F.size(F.col("xy")) - 1)
    return F.aggregate(
        F.zip_with(a, b,
                   lambda p, q: p["lon"] * q["lat"] - q["lon"] * p["lat"]),
        F.lit(0.0), lambda acc, v: acc + v)


def interior_faces(faces: DataFrame) -> DataFrame:
    """Drop the unbounded outer face(s) by ring orientation (A7)."""
    with_pts = faces.withColumn("_pts", rings.tokens("ring")).withColumn(
        "xy", rings.points("ring"))
    return (with_pts.withColumn("_area2", _shoelace2())
            .filter(F.col("_area2") < 0)
            .drop("xy", "_area2"))


def face_boundary_segments(faces: DataFrame) -> DataFrame:
    """(face_guid, seg_key) for every boundary segment of every ring.
    Input must carry ``face_guid`` and ``_pts`` (from interior_faces) or
    ``ring``."""
    df = faces if "_pts" in faces.columns else faces.withColumn(
        "_pts", rings.tokens("ring"))
    df = df.withColumn("_segs", _seg_keys("_pts"))
    # rings are never empty -> explode_outer dodges the
    # InferFiltersFromGenerate interpreted-filter trap (repo rule)
    return df.select("face_guid",
                     F.explode_outer("_segs").alias("seg_key"))


def edge_unit_segments(edges: DataFrame) -> DataFrame:
    """Standardized barrier edges (split_ways_to_edges output) -> one row
    per unit polyline segment: (way_id, seg_key).  The polyline is
    v1 + shape points + v2 as the point tokens of ``functions.rings``,
    the format the face kernel writes its rings in."""
    poly = F.concat(F.array(rings.token("v1_lon", "v1_lat")),
                    rings.tokens("shape_pts"),
                    F.array(rings.token("v2_lon", "v2_lat")))
    df = edges.withColumn("_pts", poly).withColumn("_segs", _seg_keys("_pts"))
    return df.select("way_id", F.explode_outer("_segs").alias("seg_key"))


def segment_resistance(edges: DataFrame, way_resistance: DataFrame) -> DataFrame:
    """(seg_key, resistance): strongest classified barrier crossing each
    unit segment.  ``way_resistance`` = (way_id, resistance), the F1 dim
    join output (classify.classify_barrier_ways)."""
    segs = edge_unit_segments(edges)
    return (segs.join(way_resistance.select("way_id", "resistance"), "way_id")
            .groupBy("seg_key")
            .agg(F.max("resistance").alias("resistance")))


def adjacent_face_pairs(faces: DataFrame, seg_res: DataFrame,
                        dominant: DataFrame | None = None) -> DataFrame:
    """(fa, fb, res) for every similarity-gated adjacent interior-face
    pair, where ``res`` is the strongest barrier on the shared boundary —
    the threshold-INDEPENDENT part of the merge rule, so size-targeted
    iteration (:func:`merge_to_size`) computes it exactly once.

    ``dominant`` = (face_guid, dominant_cls) from landuse_join.dominant_type;
    None disables the similarity gate (pure resistance merge).  The gate
    rides the SAME seg_key shuffle as pair detection (one extra left join
    on face_guid, then count_distinct inside the existing groupBy) instead
    of two per-pair join-backs.
    """
    segs = face_boundary_segments(faces)
    if dominant is not None:
        segs = segs.join(
            dominant.select("face_guid", "dominant_cls"), "face_guid", "left")
        cls_col = F.count_distinct(
            F.coalesce("dominant_cls", F.lit("~none"))).alias("ncls")
    else:
        cls_col = F.lit(1).alias("ncls")
    pair = (segs.groupBy("seg_key")
            .agg(F.count("*").alias("nf"),
                 F.min("face_guid").alias("fa"),
                 F.max("face_guid").alias("fb"),
                 cls_col)
            .filter((F.col("nf") == 2) & (F.col("fa") != F.col("fb"))
                    & (F.col("ncls") == 1)))
    return (pair.join(seg_res, "seg_key", "left")
            .groupBy("fa", "fb")
            .agg(F.max(F.coalesce("resistance",
                                  F.lit(_DEFAULT_RESISTANCE))).alias("res")))


def mergeable_pairs(faces: DataFrame, seg_res: DataFrame,
                    threshold: int, dominant: DataFrame | None = None
                    ) -> DataFrame:
    """(fa, fb, res) face-guid pairs that satisfy the full merge rule at
    one resistance ``threshold`` (see :func:`adjacent_face_pairs`)."""
    return adjacent_face_pairs(faces, seg_res, dominant).filter(
        F.col("res") <= threshold)


def merge_to_size(faces: DataFrame, seg_res: DataFrame,
                  dominant: DataFrame | None = None,
                  expected_faces_per_region: float = 4.0,
                  thresholds: list[int] | None = None) -> DataFrame:
    """Size-targeted merge — the reference's ``expectedPolygonSize``
    semantic (DefaultMergeFactorCalculator.cs ctor arg, the one knob its
    unimplemented merge phase defines): raise the resistance threshold
    through the ascending barrier weights until the MEAN interior-region
    size reaches the target, then keep that level.

    ``thresholds`` defaults to the ascending distinct weights of the
    barrier dim (classify.BARRIERS).  SINGLE pipeline pass (r3 verdict
    item 2): the boundary-segment scan + resistance join runs ONCE
    (:func:`adjacent_face_pairs`, cached — the pair set is bounded by
    planar adjacency, ~4 rows/face); then, because thresholds ascend,
    level t's regions are a contraction of level t-1's, so each level
    runs connected components only on the CONTRACTED region graph of the
    previous level using only the NEWLY passable edges
    (prev < res <= t).  The loop is driver-side but scalar-only (an
    isEmpty probe + one distinct count per level, <= ~8 levels).
    Returns the winning level's faces+region frame with a literal
    ``threshold`` column."""
    if thresholds is None:
        from .classify import BARRIERS
        thresholds = sorted({int(w) for _, _, w in BARRIERS})
    inter = interior_faces(faces).drop("_pts").localCheckpoint(eager=True)
    n_faces = inter.count()
    pairs = adjacent_face_pairs(inter, seg_res, dominant).localCheckpoint(
        eager=True)
    labels = inter.select("face_guid", F.col("face_guid").alias("region"))
    prev_t = None

    def _out(t):
        return inter.join(labels, "face_guid").withColumn(
            "threshold", F.lit(t))

    for t in thresholds:
        cond = (F.col("res") <= t) if prev_t is None else (
            (F.col("res") > prev_t) & (F.col("res") <= t))
        prev_t = t
        new_edges = pairs.filter(cond)
        la = labels.select(F.col("face_guid").alias("fa"),
                           F.col("region").alias("ra"))
        lb = labels.select(F.col("face_guid").alias("fb"),
                           F.col("region").alias("rb"))
        region_edges = (new_edges.join(la, "fa").join(lb, "fb")
                        .select("ra", "rb")
                        .filter(F.col("ra") != F.col("rb")))
        if not region_edges.isEmpty():
            comp = near_dup_components(region_edges, "ra", "rb").select(
                F.col("doc_id").alias("region"), "component")
            # cut_lineage, not plain localCheckpoint: each level joins
            # labels against comp(labels) — the inherited size estimate
            # squares per level (see plans.lineage.cut_lineage)
            labels = cut_lineage(
                labels.join(comp, "region", "left")
                      .select("face_guid",
                              F.coalesce("component", "region")
                              .alias("region")))
        n_regions = labels.select("region").distinct().count()
        if n_regions == 0 or n_faces / n_regions >= expected_faces_per_region:
            return _out(t)
    return _out(thresholds[-1])


def merge_faces(faces: DataFrame, seg_res: DataFrame, threshold: int,
                dominant: DataFrame | None = None) -> DataFrame:
    """Full merge phase: interior faces + a ``region`` column (the min
    face_guid of the merged connected component; unmerged faces are their
    own region)."""
    inter = interior_faces(faces)
    pairs = mergeable_pairs(inter, seg_res, threshold, dominant)
    labels = (near_dup_components(pairs, "fa", "fb")
              .select(F.col("doc_id").alias("face_guid"),
                      F.col("component").alias("_region")))
    return (inter.drop("_pts").join(labels, "face_guid", "left")
            .withColumn("region", F.coalesce("_region", "face_guid"))
            .drop("_region"))
