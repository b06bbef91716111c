"""Face extraction: the reference's signature computation, re-expressed for
Spark.

The half-edge right-turn walk is inherently sequential *within* one tile's
graph but embarrassingly parallel *across* tiles, so the engine runs the
pure-Python kernel below inside ``applyInPandas`` grouped by anchor cell
(each group carries the cell's halo-complete edge set).  Everything that can
be relational (vertex detection, way splitting, dedup) stays in DataFrame
ops in :mod:`urbanistic_polygons_spark.operators.graph_build`.

Semantics mirror the reference:
- AssignFaces driver        reference Graphs/Barrier/Faces/Faces.cs:16-65
- NextClockwise/NextRight   reference Faces/TiledBarrierGraphExtensions.cs:11-38
- RightTurnLoop             reference Faces.cs:67-102
- AssignFace + degenerate-loop repair  reference Faces.cs:104-150
- EnumerateFaceClockwise / FaceToClockwiseCoordinates  reference Faces.cs:152-226
- angle convention          reference Geo/GeoExtensions.cs:21-200 (CCW angle
  from incoming-back vector to candidate vector, in (0, 2pi]; NaN-degenerate
  candidates skipped)
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from .. import kernels
from ..functions import rings

UNASSIGNABLE = 0  # sentinel face (reference Faces.cs:25-26)


@dataclass
class TileGraph:
    """In-memory planar graph for ONE anchor cell's halo group.

    vertices: id -> (lon, lat); edges: (v1, v2, shape) where shape is the
    list of intermediate points (lon, lat) between the vertices.
    """

    vx: list = field(default_factory=list)  # vertex lon
    vy: list = field(default_factory=list)  # vertex lat
    edges: list = field(default_factory=list)  # (v1, v2, shape list[(lon,lat)])
    adj: list = field(default_factory=list)  # vertex -> [edge ids]
    # face id per edge side; None = int.MaxValue sentinel in the reference
    face_left: list = field(default_factory=list)
    face_right: list = field(default_factory=list)
    n_faces: int = 0

    def add_vertex(self, lon: float, lat: float) -> int:
        self.vx.append(float(lon))
        self.vy.append(float(lat))
        self.adj.append([])
        return len(self.vx) - 1

    def add_edge(self, v1: int, v2: int, shape=()) -> int:
        e = len(self.edges)
        self.edges.append((v1, v2, list(shape)))
        self.adj[v1].append(e)
        if v2 != v1:
            self.adj[v2].append(e)
        self.face_left.append(None)
        self.face_right.append(None)
        return e

    # -- angular navigation ------------------------------------------------

    def _first_non_vertex1(self, e: int, forward: bool):
        """First shape point walking away from the half-edge's origin
        (reference Faces/TiledBarrierGraphExtensions.cs:57-72)."""
        v1, v2, shape = self.edges[e]
        if not forward:
            v1, v2 = v2, v1
        if not shape:
            return self.vx[v2], self.vy[v2]
        return shape[0] if forward else shape[-1]

    def _first_non_vertex2(self, e: int, forward: bool):
        """First shape point walking back from the half-edge's head
        (reference Faces/TiledBarrierGraphExtensions.cs:40-55)."""
        v1, v2, shape = self.edges[e]
        if not forward:
            v1, v2 = v2, v1
        if not shape:
            return self.vx[v1], self.vy[v1]
        return shape[-1] if forward else shape[0]

    def next_right(self, e: int, forward: bool):
        """Rightmost outgoing half-edge at the head of (e, forward).

        Reference NextClockwise (Faces/TiledBarrierGraphExtensions.cs:11-38):
        candidates sorted ascending by Angle(back-point, vertex, cand-point);
        equal angle keys collapse last-writer-wins like SortedDictionary
        assignment; the incoming edge itself is excluded.  NextRight = first.
        """
        v1, v2, _ = self.edges[e]
        head = v2 if forward else v1
        bx, by = self._first_non_vertex2(e, forward)
        cx, cy = self.vx[head], self.vy[head]
        best: dict[float, int] = {}
        for ne in self.adj[head]:
            if ne == e:
                continue
            nv1, nv2, _ = self.edges[ne]
            nf = nv1 == head
            px, py = self._first_non_vertex1(ne, nf)
            ang = _angle_ccw(bx, by, cx, cy, px, py)
            if math.isnan(ang):
                continue
            best[ang] = ne
        if not best:
            return None
        ne = best[min(best)]
        nv1, nv2, _ = self.edges[ne]
        nf = nv1 == head
        nhead = nv2 if nf else nv1
        return ne, nf, head, nhead

    # -- pruning (G3) --------------------------------------------------------

    def prune_dead_ends(self, vertex_in_scope=None) -> list[bool]:
        """Iteratively delete edges whose endpoint has degree 1 (reference
        PruneDeadEnds, Graphs/Barrier/TiledBarrierGraphExtensions.cs:257-297).

        ``vertex_in_scope(v) -> bool`` suppresses pruning at vertices whose
        true degree may be unknown (outside the loaded halo — reference
        :273/:292 skip edges touching unloaded tiles).  Self-loops are kept.
        Returns the alive mask and rewrites adjacency in place.
        """
        alive = [True] * len(self.edges)
        deg = [0] * len(self.vx)
        for e, (v1, v2, _) in enumerate(self.edges):
            deg[v1] += 1
            if v2 != v1:
                deg[v2] += 1
        queue = [v for v in range(len(self.vx)) if deg[v] == 1]
        while queue:
            v = queue.pop()
            if deg[v] != 1:
                continue
            if vertex_in_scope is not None and not vertex_in_scope(v):
                continue
            e = next((e for e in self.adj[v] if alive[e]), None)
            if e is None:
                continue
            v1, v2, _ = self.edges[e]
            if v1 == v2:
                continue  # self-loop, keep
            alive[e] = False
            deg[v1] -= 1
            deg[v2] -= 1
            other = v2 if v1 == v else v1
            if deg[other] == 1:
                queue.append(other)
        for v in range(len(self.adj)):
            self.adj[v] = [e for e in self.adj[v] if alive[e]]
        return alive

    # -- right-turn loop + face assignment ----------------------------------

    def right_turn_loop(self, e: int, forward: bool, vertex_loaded=None):
        """Reference Faces.cs:67-102.  Returns (path, missing):
        path = list of (v1, e, fwd, v2) or None when a directed edge repeats
        (degenerate walk); missing = True when the walk stepped onto a
        vertex outside the loaded halo (reference HasTileFor check at
        Faces.cs:82-86 — the caller must retry with a bigger halo)."""
        v1, v2, _ = self.edges[e]
        if not forward:
            v1, v2 = v2, v1
        seen = {(e, forward)}
        path = [(v1, e, forward, v2)]
        nxt = self.next_right(e, forward)
        while nxt is not None:
            ne, nf, nv1, nv2 = nxt
            if ne == path[-1][1]:  # u-turn
                break
            if vertex_loaded is not None and not vertex_loaded(nv2):
                return None, True
            path.append((nv1, ne, nf, nv2))
            if (ne, nf) in seen:
                return None, False  # directed edge visited twice -> abort
            seen.add((ne, nf))
            if nv2 == path[0][0]:
                break
            nxt = self.next_right(ne, nf)
        return path, False

    def _assign_face(self, e: int, forward: bool, vertex_loaded=None) -> bool:
        """Reference Faces.cs:104-150.  Returns True when the walk left the
        loaded halo (missing tiles -> caller retries with a bigger halo)."""
        loop, missing = self.right_turn_loop(e, forward, vertex_loaded)
        if loop is None:
            return missing
        face = UNASSIGNABLE
        if loop[0][0] == loop[-1][3]:
            # closed: strip sub-paths traversing the same edge twice
            removed = True
            while removed:
                removed = False
                first_at: dict[int, int] = {}
                for i, (_, le, _, _) in enumerate(loop):
                    if le in first_at:
                        fi = first_at[le]
                        loop = loop[:fi] + loop[i + 1:]
                        removed = True
                        break
                    first_at[le] = i
            face = self.n_faces
            self.n_faces += 1
        for _, le, lf, _ in loop:
            if lf:
                self.face_right[le] = face
            else:
                self.face_left[le] = face
        return False

    def assign_faces(self, in_scope=None, vertex_loaded=None) -> tuple[int, int]:
        """Reference Faces.cs:16-65.  ``in_scope(e) -> bool`` limits face
        seeding to edges overlapping the anchor tile box (halo edges only
        participate when reached by a walk); ``vertex_loaded(v) -> bool``
        aborts walks leaving the loaded halo.  Returns (face count including
        the sentinel, number of halo-aborted walks — the reference's
        missing-tiles signal, TiledBarrierGraphBuilder.cs:53-61).
        """
        self.face_left = [None] * len(self.edges)
        self.face_right = [None] * len(self.edges)
        self.n_faces = 1  # face 0 = unassignable sentinel
        n_missing = 0
        for v in range(len(self.vx)):
            for e in self.adj[v]:
                v1, v2, _ = self.edges[e]
                forward = v1 == v
                if in_scope is not None and not in_scope(e):
                    continue
                if forward and self.face_right[e] is not None:
                    continue
                if not forward and self.face_left[e] is not None:
                    continue
                if self._assign_face(e, forward, vertex_loaded):
                    n_missing += 1
        return self.n_faces, n_missing

    # -- face -> ring ------------------------------------------------------

    def face_half_edges(self, face: int):
        """Collect the face's half-edges oriented so the face is on the
        right, then chain them (reference EnumerateFaceClockwise,
        Faces.cs:152-187)."""
        if face == UNASSIGNABLE:
            return []
        out = []
        for e, (v1, v2, shape) in enumerate(self.edges):
            if self.face_left[e] == face:
                out.append((v2, e, False, v1))
            if self.face_right[e] == face:
                out.append((v1, e, True, v2))
        if len(out) <= 1:
            return []
        if out[0][0] == out[1][3]:
            out.reverse()
        # chain into order
        chained = [out[0]]
        rest = out[1:]
        while rest:
            nxt_i = next((i for i, h in enumerate(rest) if h[0] == chained[-1][3]), None)
            if nxt_i is None:
                return []  # open ring
            chained.append(rest.pop(nxt_i))
        if chained[0][0] != chained[-1][3]:
            return []
        return chained

    def face_ring(self, face: int):
        """Clockwise coordinate ring (reference FaceToClockwiseCoordinates,
        Faces.cs:189-226).  Returns [(lon, lat), ...] or None if < 4 coords."""
        coords = []
        for i, (v1, e, fwd, v2) in enumerate(self.face_half_edges(face)):
            _, _, shape = self.edges[e]
            if i == 0:
                coords.append((self.vx[v1], self.vy[v1]))
            pts = shape if fwd else shape[::-1]
            coords.extend(pts)
            coords.append((self.vx[v2], self.vy[v2]))
        if len(coords) <= 3:
            return None
        return coords


def _angle_ccw(ax, ay, cx, cy, bx, by) -> float:
    """CCW angle in (0, 2pi] from vector (a - c) to vector (b - c).

    Behavioral equivalent of reference Geo/GeoExtensions.cs:21-200 as a sort
    key (exact quadrant-stable asin/acos selection replaced by atan2, which
    is monotone-identical for ordering; 0 maps to 2pi like the reference's
    "close to 360 degrees" branch).  NaN for zero-length vectors.
    """
    v1x, v1y = ax - cx, ay - cy
    v2x, v2y = bx - cx, by - cy
    if (v1x == 0 and v1y == 0) or (v2x == 0 and v2y == 0):
        return float("nan")
    ang = math.atan2(v2y, v2x) - math.atan2(v1y, v1x)
    ang = ang % (2.0 * math.pi)
    if ang == 0.0:
        ang = 2.0 * math.pi
    return ang


# ---------------------------------------------------------------------------
# pandas kernel for applyInPandas (one group = one anchor cell + halo)
# ---------------------------------------------------------------------------

FACES_OUT_SCHEMA = (
    "anchor_cell long, face_guid string, ring string, "
    "min_lon double, min_lat double, max_lon double, max_lat double, n_edges int"
)
_FACES_OUT_COLS = [f.split()[0] for f in FACES_OUT_SCHEMA.split(", ")]


def faces_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    """Group kernel: edges of one anchor cell (+ halo) -> face rows.

    Input columns: anchor_cell, v1_lon, v1_lat, v2_lon, v2_lat,
    shape_pts ('lon lat;lon lat' string or None), in_anchor (bool).
    Output: one row per non-sentinel face with its clockwise ring (WKT-less
    'lon lat;...' string, from its top-left vertex), bbox and
    content-addressed GUID.
    """
    if pdf.empty:
        return pd.DataFrame(columns=_FACES_OUT_COLS)
    anchor = int(pdf["anchor_cell"].iloc[0])
    halo_ring = int(pdf["halo_ring"].iloc[0]) if "halo_ring" in pdf.columns else 1
    g = TileGraph()
    vindex: dict[tuple, int] = {}

    def vid(lon: float, lat: float) -> int:
        key = (round(lon, 9), round(lat, 9))
        if key not in vindex:
            vindex[key] = g.add_vertex(lon, lat)
        return vindex[key]

    in_anchor_edges = []
    for row in pdf.itertuples(index=False):
        v1 = vid(row.v1_lon, row.v1_lat)
        v2 = vid(row.v2_lon, row.v2_lat)
        shape = list(map(tuple, rings.parse(row.shape_pts).tolist()))
        e = g.add_edge(v1, v2, shape)
        in_anchor_edges.append(bool(row.in_anchor))

    # loaded set = this anchor's halo; degree/walks are only trustworthy for
    # vertices inside it (reference tile-loaded checks)
    halo = set(kernels.neighbor_cells(np.array([anchor]),
                                      ring=halo_ring)[0].tolist())
    vcell = kernels.tile_local_id(
        *kernels.world_to_tile(np.array(g.vx), np.array(g.vy)))

    def vertex_loaded(v: int) -> bool:
        return int(vcell[v]) in halo

    # G3: prune dead-end spurs at in-halo vertices only
    alive = g.prune_dead_ends(vertex_loaded)
    in_anchor_edges = [ia and alive[e] for e, ia in enumerate(in_anchor_edges)]

    _, n_missing = g.assign_faces(in_scope=lambda e: in_anchor_edges[e],
                                  vertex_loaded=vertex_loaded)

    rows = []
    if n_missing > 0:
        # sentinel row: this anchor needs a bigger halo (reference
        # missing-tile expansion loop, TiledBarrierGraphBuilder.cs:53-61)
        rows.append({
            "anchor_cell": anchor, "face_guid": None, "ring": "",
            "min_lon": 0.0, "min_lat": 0.0, "max_lon": 0.0, "max_lat": 0.0,
            "n_edges": int(n_missing),
        })
    edges_per_face: dict[int, int] = {}
    for e in range(len(g.edges)):
        for f in (g.face_left[e], g.face_right[e]):
            if f is not None and f != UNASSIGNABLE:
                edges_per_face[f] = edges_per_face.get(f, 0) + 1
    for f in range(1, g.n_faces):
        ring = g.face_ring(f)
        if ring is None:
            continue
        # start at the top-left vertex (the face GUID's rule), so the ring
        # text does not depend on which half-edge the walk met first
        s = min(range(len(ring) - 1), key=lambda i: (ring[i][0], -ring[i][1]))
        ring = ring[s:-1] + ring[:s + 1]
        lons = np.array([c[0] for c in ring])
        lats = np.array([c[1] for c in ring])
        guid = _ring_guid(lons, lats)
        rows.append({
            "anchor_cell": anchor,
            "face_guid": guid,
            "ring": rings.fmt(lons, lats),
            "min_lon": float(lons.min()), "min_lat": float(lats.min()),
            "max_lon": float(lons.max()), "max_lat": float(lats.max()),
            "n_edges": int(edges_per_face.get(f, 0)),
        })
    return pd.DataFrame(rows, columns=_FACES_OUT_COLS)


def _ring_guid(lons: np.ndarray, lats: np.ndarray) -> str:
    """Content-addressed face GUID over the quantized clockwise ring
    (reference Guids/FaceGuidGenerator.cs:44-77): coordinates quantized to
    the 16384 grid of their own z14 tile, ring rotated to top-left."""
    tx, ty = kernels.world_to_tile(lons, lats)
    qx, qy = kernels.quantize(lons, lats, tx, ty)
    tid = kernels.tile_local_id(tx, ty)
    ring_q = np.stack([qx, qy, tid], axis=1)
    return kernels.face_guid(ring_q)


def extract_faces(edges_df, anchor_col: str = "anchor_cell"):
    """DataFrame-level face extraction for ONE halo round: group the
    halo-replicated edge set by anchor cell and run :func:`faces_kernel` per
    group.  Output has real face rows plus sentinel rows (face_guid IS NULL,
    n_edges = aborted-walk count) for anchors whose walks left the halo —
    the caller retries those at a larger ring (reference missing-tile loop,
    TiledBarrierGraphBuilder.cs:53-61) and dedups faces across anchors by
    content-addressed GUID (reference TiledPolygonGraphBuilder.cs:33-45).

    ``edges_df`` columns: anchor_cell, halo_ring, v1_lon, v1_lat, v2_lon,
    v2_lat, shape_pts, in_anchor.  Scale note: groups are skew-prone (urban
    cores); callers repartition by a salted cell prefix upstream and AQE
    handles the rest.
    """
    return edges_df.groupBy(anchor_col).applyInPandas(faces_kernel, FACES_OUT_SCHEMA)
