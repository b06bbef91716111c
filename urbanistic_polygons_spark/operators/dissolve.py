"""Region dissolve — merged regions -> outline polygons.

The reference's README step 3 promises *merged* landuse polygons as the
deliverable, but its code stops at the resistance weight table
(DefaultMergeFactorCalculator.cs:14-32); ``operators/merge.py`` supplies
the missing merge, and this module supplies the equally-missing output
shape: the UNION (GIS "dissolve") of each region's faces into outline
rings, so regions can be served as single polygons instead of face
soups.

Spark-first plan — no geometry library, no pairwise polygon union:

1.  Boundary-segment PARITY.  Every face ring is decomposed into
    canonical undirected unit segments (``merge.face_boundary_segments``
    — the same keys the merge phase shuffles on).  Within one region a
    planar segment appears exactly twice iff it separates two member
    faces (dissolved away) and exactly once iff it borders a non-member
    or the unbounded face (region outline).  One ``groupBy(region,
    seg_key)`` + ``count`` therefore computes the exact outline segment
    set — a single bounded-key shuffle, linear in total boundary length,
    with no face×face interaction at any point.  This is why dissolve
    scales: 10^9 faces is just 10^9·~4 segment rows through one
    hash aggregate.
2.  Ring WALK (only when actual ring geometry is requested).  Outline
    segments of one region are a planar even-degree graph; walking
    always-rightmost turns re-assembles them into closed rings (outer
    ring + holes).  Ring size is bounded by one region's perimeter, so
    this runs as ``applyInPandas`` per region — the same bounded-group
    pattern as the face walk itself (operators/faces.py).

The parity stage is the catalog-verified surface (`region_dissolve`,
closed-form lattice oracle); the ring walk is pytest-verified including
a donut region with a hole (tests/test_dissolve.py).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import rings
from .merge import face_boundary_segments


def region_segment_parity(merged: DataFrame) -> DataFrame:
    """(region, seg_key, n) for every boundary segment of every member
    face; ``n`` = how many member faces carry the segment (1 = outline,
    2 = interior, dissolved).  ``merged`` = merge_faces output
    (face_guid, ring, region, ...)."""
    segs = face_boundary_segments(merged.select("face_guid", "ring"))
    return (segs.join(merged.select("face_guid", "region"), "face_guid")
            .groupBy("region", "seg_key")
            .agg(F.count("*").alias("n")))


def dissolve_stats(merged: DataFrame) -> DataFrame:
    """Per-region dissolve summary: (region, n_faces, n_boundary_segs,
    n_internal_segs).  Exact for planar face sets: a segment shared by
    two member faces is interior (counted once here), a segment with a
    single member occurrence is outline."""
    parity = region_segment_parity(merged)
    seg_stats = parity.groupBy("region").agg(
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias("n_boundary_segs"),
        F.sum(F.when(F.col("n") == 2, 1).otherwise(0)).alias("n_internal_segs"))
    n_faces = merged.groupBy("region").agg(F.count("*").alias("n_faces"))
    return n_faces.join(seg_stats, "region")


_RINGS_SCHEMA = T.StructType([
    T.StructField("region", T.StringType()),
    T.StructField("ring_idx", T.IntegerType()),
    T.StructField("is_outer", T.BooleanType()),
    T.StructField("n_segments", T.IntegerType()),
    T.StructField("ring", T.StringType()),
])


def dissolve_rings(merged: DataFrame) -> DataFrame:
    """Re-assemble each region's outline segments into closed rings.

    Output: one row per ring — (region, ring_idx, is_outer, n_segments,
    ring) with ``ring`` in the repo's 'lon lat;...;lon lat' closed-string
    convention (first point repeated last).  The ring with the largest
    |shoelace| per region is flagged ``is_outer``; the rest are holes.
    Ring point order follows the walk (deterministic: start at the
    lexicographically-smallest point, step to the smallest non-backtrack
    neighbour), so equal inputs give byte-equal rings.

    Scale: the group key is ``region`` and the group payload is one
    region's OUTLINE segments only (interior segments were dissolved in
    the parity aggregate before this shuffle), so group size is bounded
    by region perimeter, not region area.
    """
    import pandas as pd

    outline = region_segment_parity(merged).filter(F.col("n") == 1)

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        region = pdf["region"].iloc[0]
        # adjacency over point tokens; planar outline graphs have even
        # degree everywhere (2 normally, 4 at pinch points)
        adj: dict[str, list[str]] = {}
        edges = set()
        for key in pdf["seg_key"]:
            a, b = key.split("|")
            adj.setdefault(a, []).append(b)
            adj.setdefault(b, []).append(a)
            edges.add((a, b))
            edges.add((b, a))
        for v in adj:
            adj[v].sort()
        used: set[tuple[str, str]] = set()

        def take(u, v):
            # an undirected outline edge belongs to exactly ONE ring:
            # consume both directions or every ring walks twice reversed
            used.add((u, v))
            used.add((v, u))

        rows = []
        # deterministic ring enumeration: repeatedly start from the
        # smallest point with an unused incident edge
        for start in sorted(adj):
            for first in adj[start]:
                if (start, first) in used:
                    continue
                ring = [start]
                prev, cur = start, first
                take(start, first)
                while cur != start:
                    ring.append(cur)
                    nxts = [w for w in adj[cur]
                            if (cur, w) not in used and w != prev]
                    if not nxts:  # forced backtrack (degenerate input)
                        nxts = [w for w in adj[cur] if (cur, w) not in used]
                    if not nxts:
                        break
                    nxt = nxts[0]
                    take(cur, nxt)
                    prev, cur = cur, nxt
                if cur == start:
                    ring.append(start)
                    rows.append((region, len(ring) - 1, rings.join(ring)))
        # largest |shoelace| = outer ring
        def area2(ring_s: str) -> float:
            pts = rings.parse(ring_s).tolist()
            return abs(sum(x0 * y1 - x1 * y0 for (x0, y0), (x1, y1)
                           in zip(pts, pts[1:])))
        rows.sort(key=lambda r: (-area2(r[2]), r[2]))
        return pd.DataFrame(
            [(region, i, i == 0, n, s)
             for i, (_, n, s) in enumerate(rows)],
            columns=["region", "ring_idx", "is_outer", "n_segments", "ring"])

    return (outline.groupBy("region")
            .applyInPandas(walk, schema=_RINGS_SCHEMA))
