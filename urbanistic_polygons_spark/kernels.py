"""Pure-NumPy geometry / tile-math kernels.

These are the vectorized building blocks shared by (a) the Spark pandas/Arrow
UDFs and (b) the single-process test oracle, so both compute bit-identical
results.  Semantics mirror the reference implementation:

- slippy-map tile math          -> reference Tiles/TileStatic.cs:8-171
- 16384-grid quantization       -> reference Tiles/TileStatic.cs:57-100
- content-addressed UUIDv5 ids  -> reference Guids/GuidUtility.cs:21-49,
                                   Guids/{Vertex,Edge,Face}GuidGenerator.cs
- clockwise angle               -> reference Geo/GeoExtensions.cs:21-200
- equirectangular distance      -> reference Geo/GeoExtensions.cs:208-222
- ray-cast point-in-polygon     -> reference PointInPolygon.cs:27-87
- shoelace signed area          -> reference Landuse/CompleteWayExtensions.cs:25-47

No Spark imports here: this module must stay importable on executors with
zero session state.
"""

from __future__ import annotations

import hashlib
import logging
import struct
import uuid

import numpy as np

log = logging.getLogger(__name__)

# --------------------------------------------------------------------------
# Tile math (slippy map, default zoom 14 like the reference preprocessor)
# --------------------------------------------------------------------------

DEFAULT_ZOOM = 14
QUANT = 16384  # per-tile quantization grid (reference TileStatic.cs:57-73)

# Per-entity UUIDv5 namespaces, matching the reference generators exactly:
NS_VERTEX = uuid.UUID("cff2a084-3138-486b-84e4-6f8099cb4c70")  # VertexGuidGenerator.cs:14
NS_EDGE = uuid.UUID("62b34a03-f1fd-4d04-965f-4e8355a8ac24")    # EdgeGuidGenerator.cs:14
NS_FACE = uuid.UUID("2115f6f1-20c3-46e0-9f82-863ba536dee9")    # FaceGuidGenerator.cs:19


def world_to_tile(lon: np.ndarray, lat: np.ndarray, zoom: int = DEFAULT_ZOOM):
    """lon/lat -> integer tile (x, y) at ``zoom``.

    Mirrors reference Tiles/TileStatic.cs:113-125 (WorldToTile).
    """
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    n = np.int64(1) << zoom
    x = np.floor((lon + 180.0) / 360.0 * n).astype(np.int64)
    lat_rad = np.radians(lat)
    y = np.floor(
        (1.0 - np.log(np.tan(lat_rad) + 1.0 / np.cos(lat_rad)) / np.pi) / 2.0 * n
    ).astype(np.int64)
    # clamp like the usual slippy convention (poles / antimeridian)
    x = np.clip(x, 0, n - 1)
    y = np.clip(y, 0, n - 1)
    return x, y


def tile_local_id(x: np.ndarray, y: np.ndarray, zoom: int = DEFAULT_ZOOM) -> np.ndarray:
    """Flatten (x, y) -> local id ``y * 2**zoom + x``.

    Mirrors reference Tiles/TileStatic.cs:20-24 (ToLocalId).
    """
    n = np.int64(1) << zoom
    return np.asarray(y, dtype=np.int64) * n + np.asarray(x, dtype=np.int64)


def tile_from_local_id(tile_id: np.ndarray, zoom: int = DEFAULT_ZOOM):
    """Inverse of :func:`tile_local_id` (reference TileStatic.cs:8-18)."""
    tile_id = np.asarray(tile_id, dtype=np.int64)
    n = np.int64(1) << zoom
    return tile_id % n, tile_id // n


def tile_box(x: np.ndarray, y: np.ndarray, zoom: int = DEFAULT_ZOOM):
    """Tile -> (min_lon, min_lat, max_lon, max_lat).

    Mirrors reference Tiles/TileStatic.cs:26-39 (Box): top-left of (x, y) and
    of (x+1, y+1) via inverse Mercator.
    """
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n = float(1 << zoom)
    min_lon = x / n * 360.0 - 180.0
    max_lon = (x + 1.0) / n * 360.0 - 180.0
    max_lat = np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * y / n))))
    min_lat = np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * (y + 1.0) / n))))
    return min_lon, min_lat, max_lon, max_lat


def quantize(lon: np.ndarray, lat: np.ndarray, tile_x: np.ndarray, tile_y: np.ndarray,
             zoom: int = DEFAULT_ZOOM):
    """World coords -> per-tile 16384x16384 integer grid coords.

    Bit-exact mirror of reference Tiles/TileStatic.cs:58-74
    (ToLocalTileCoordinates): per-axis step = extent / resolution, then
    truncating int cast of offset / step — the step-division order matters
    for the content-addressed ids, so it is replicated literally.
    """
    min_lon, min_lat, max_lon, max_lat = tile_box(tile_x, tile_y, zoom)
    lat_step = (max_lat - min_lat) / QUANT
    lon_step = (max_lon - min_lon) / QUANT
    qx = ((np.asarray(lon, np.float64) - min_lon) / lon_step).astype(np.int64)
    qy = ((max_lat - np.asarray(lat, np.float64)) / lat_step).astype(np.int64)
    return qx, qy


def dequantize(qx: np.ndarray, qy: np.ndarray, tile_x: np.ndarray, tile_y: np.ndarray,
               zoom: int = DEFAULT_ZOOM):
    """Inverse of :func:`quantize` (reference TileStatic.cs:85-103):
    ``left + lon_step * x`` / ``top - y * lat_step``."""
    min_lon, min_lat, max_lon, max_lat = tile_box(tile_x, tile_y, zoom)
    lat_step = (max_lat - min_lat) / QUANT
    lon_step = (max_lon - min_lon) / QUANT
    lon = min_lon + lon_step * np.asarray(qx, np.float64)
    lat = max_lat - np.asarray(qy, np.float64) * lat_step
    return lon, lat


def tiles_for_box(min_lon: float, min_lat: float, max_lon: float, max_lat: float,
                  zoom: int = DEFAULT_ZOOM) -> np.ndarray:
    """All flat tile ids covering a bbox (reference TileStatic.cs:127-139)."""
    x0, y1 = world_to_tile(np.array([min_lon]), np.array([min_lat]), zoom)
    x1, y0 = world_to_tile(np.array([max_lon]), np.array([max_lat]), zoom)
    xs = np.arange(x0[0], x1[0] + 1, dtype=np.int64)
    ys = np.arange(y0[0], y1[0] + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys)
    return tile_local_id(gx.ravel(), gy.ravel(), zoom)


def sub_tiles(tile_id: np.ndarray, zoom_from: int,
              zoom_to: int = DEFAULT_ZOOM) -> np.ndarray:
    """(n, 4^d) z``zoom_to`` tile ids under each z``zoom_from`` tile —
    the pyramid descent serving z<14 requests (reference
    Tiles/TileStatic.cs:141-171 SubTilesFor)."""
    d = zoom_to - zoom_from
    if d < 0:
        raise ValueError("zoom_to must be >= zoom_from")
    n = 1 << d
    x, y = tile_from_local_id(np.asarray(tile_id, np.int64), zoom_from)
    i = np.arange(n)
    cx = (x[:, None] * n + i[None, :])  # (n_tiles, n)
    cy = (y[:, None] * n + i[None, :])
    # all (cy, cx) combos: (n_tiles, n, n)
    ids = (cy[:, :, None] * (1 << zoom_to) + cx[:, None, :])
    return ids.reshape(len(x), n * n)


def neighbor_cells(tile_id: np.ndarray, ring: int = 1, zoom: int = DEFAULT_ZOOM) -> np.ndarray:
    """(n,) tile ids -> (n, (2r+1)^2) ids of the r-ring halo around each tile.

    The eager-halo replacement for the reference's lazy neighbor-tile loading
    loop (reference TiledBarrierGraphBuilder.cs:53-61).
    """
    x, y = tile_from_local_id(tile_id, zoom)
    n = np.int64(1) << zoom
    offs = np.arange(-ring, ring + 1, dtype=np.int64)
    dx, dy = np.meshgrid(offs, offs)
    nx = (x[:, None] + dx.ravel()[None, :]) % n
    ny = np.clip(y[:, None] + dy.ravel()[None, :], 0, n - 1)
    return ny * n + nx


# --------------------------------------------------------------------------
# Content-addressed ids (UUIDv5 over quantized geometry)
# --------------------------------------------------------------------------

def _uuid5_bytes(namespace: uuid.UUID, payload: bytes) -> str:
    """RFC-4122 v5 (SHA-1) GUID over raw payload bytes.

    Bit-exact mirror of reference Guids/GuidUtility.cs:22-51: SHA-1 over
    network-order namespace bytes + name, version/variant bit-twiddling.
    (The C# code's final SwapByteOrder + ``new Guid`` round-trips back to the
    big-endian string, so the stdlib layout matches.)
    """
    h = hashlib.sha1(namespace.bytes + payload).digest()[:16]
    b = bytearray(h)
    b[6] = (b[6] & 0x0F) | 0x50  # version 5
    b[8] = (b[8] & 0x3F) | 0x80  # RFC 4122 variant
    return str(uuid.UUID(bytes=bytes(b)))


def _loc_bytes(qx: int, qy: int, tile_id: int) -> bytes:
    """12-byte tiled-location payload: uint tileId, int x, int y, all
    little-endian — reference IO/CustomBitCoder.cs:8-19 (tileId first)."""
    return struct.pack("<Iii", int(tile_id) & 0xFFFFFFFF, int(qx), int(qy))


def vertex_guid(qx: int, qy: int, tile_id: int) -> str:
    """Vertex id from the 12-byte tiled location
    (reference Guids/VertexGuidGenerator.cs:21-30)."""
    return _uuid5_bytes(NS_VERTEX, _loc_bytes(qx, qy, tile_id))


def edge_guid(shape_q: np.ndarray) -> str:
    """Edge id from the concatenated complete quantized shape
    ``[(qx, qy, tile_id), ...]`` including both end vertices, always in the
    edge's stored (forward) orientation.

    Mirrors reference Guids/EdgeGuidGenerator.cs:20-39 (which re-orients a
    backward enumerator to forward before hashing).
    """
    shape_q = np.asarray(shape_q, dtype=np.int64).reshape(-1, 3)
    payload = b"".join(_loc_bytes(r[0], r[1], r[2]) for r in shape_q)
    return _uuid5_bytes(NS_EDGE, payload)


def face_guid(ring_q: np.ndarray, zoom: int = DEFAULT_ZOOM) -> str:
    """Face id from the face's clockwise-enumerated quantized ring rotated to
    its top-left vertex.

    Mirrors reference Guids/FaceGuidGenerator.cs:44-77: the closing duplicate
    coordinate is dropped, the winding is NOT normalized (the ring arrives in
    face-on-the-right order from the face walk, so interior and exterior
    faces hash differently), and "top-left" compares dequantized world
    coordinates — lon ascending then lat descending, first occurrence wins
    (Guids/GeoExtensions.cs:7-21 CompareTopLeft).
    """
    ring_q = np.asarray(ring_q, dtype=np.int64).reshape(-1, 3)
    if len(ring_q) > 1 and np.array_equal(ring_q[0], ring_q[-1]):
        ring_q = ring_q[:-1]
    tx, ty = tile_from_local_id(ring_q[:, 2], zoom)
    lon, lat = dequantize(ring_q[:, 0], ring_q[:, 1], tx, ty, zoom)
    start = min(range(len(ring_q)), key=lambda i: (lon[i], -lat[i]))
    ring_q = np.roll(ring_q, -start, axis=0)
    payload = b"".join(_loc_bytes(r[0], r[1], r[2]) for r in ring_q)
    return _uuid5_bytes(NS_FACE, payload)


# --------------------------------------------------------------------------
# Scalar geometry
# --------------------------------------------------------------------------

EARTH_RADIUS_M = 6371000.0


def distance_m(lon1, lat1, lon2, lat2) -> np.ndarray:
    """Equirectangular distance estimate, R=6371000.

    Mirrors reference Geo/GeoExtensions.cs:208-222 (DistanceEstimateInMeter).
    """
    lon1 = np.radians(np.asarray(lon1, np.float64))
    lat1 = np.radians(np.asarray(lat1, np.float64))
    lon2 = np.radians(np.asarray(lon2, np.float64))
    lat2 = np.radians(np.asarray(lat2, np.float64))
    x = (lon2 - lon1) * np.cos((lat1 + lat2) / 2.0)
    y = lat2 - lat1
    return np.sqrt(x * x + y * y) * EARTH_RADIUS_M


def offset_with_distance_x(lon, lat, meter) -> np.ndarray:
    """Offset a coordinate east along the x axis by ``meter`` meters:
    probe 0.001 deg east, measure the equirectangular distance, scale the
    longitude delta linearly; latitude is unchanged.

    Mirrors reference Geo/GeoExtensions.cs:224-239 (OffsetWithDistanceX).
    """
    lon = np.asarray(lon, np.float64)
    lat = np.asarray(lat, np.float64)
    probe = 0.001
    lon_distance = distance_m(lon, lat, lon + probe, lat)
    return lon + (np.asarray(meter, np.float64) / lon_distance) * probe


def signed_area(lon: np.ndarray, lat: np.ndarray) -> float:
    """Shoelace signed area of a ring; negative => clockwise.

    Mirrors reference Landuse/CompleteWayExtensions.cs:25-47.
    """
    x = np.asarray(lon, np.float64)
    y = np.asarray(lat, np.float64)
    x2 = np.roll(x, -1)
    y2 = np.roll(y, -1)
    return float(np.sum(x * y2 - x2 * y)) / 2.0


def is_clockwise(lon: np.ndarray, lat: np.ndarray) -> bool:
    return signed_area(lon, lat) < 0


def points_in_polygon(px: np.ndarray, py: np.ndarray,
                      ring_x: np.ndarray, ring_y: np.ndarray) -> np.ndarray:
    """Vectorized ray-cast (W->E ray) crossing-parity test: (n,) bool for n
    points against one ring.

    Mirrors reference PointInPolygon.cs:27-87 (even-odd rule).
    """
    px = np.asarray(px, np.float64)[:, None]
    py = np.asarray(py, np.float64)[:, None]
    x1 = np.asarray(ring_x, np.float64)[None, :]
    y1 = np.asarray(ring_y, np.float64)[None, :]
    x2 = np.roll(ring_x, -1).astype(np.float64)[None, :]
    y2 = np.roll(ring_y, -1).astype(np.float64)[None, :]
    cond = (y1 > py) != (y2 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
    crossings = cond & (px < xint)
    return (np.sum(crossings, axis=1) % 2).astype(bool)


def points_in_polygon_blocked(px: np.ndarray, py: np.ndarray,
                              ring_x: np.ndarray, ring_y: np.ndarray,
                              block: int = 4096) -> np.ndarray:
    """Cache-blocked ray-cast PIP: same even-odd semantics as
    :func:`points_in_polygon`, but loops segments over point blocks sized to
    stay L2-resident instead of materializing the (n_points, n_vertices)
    matrix.

    The matrix form streams ~n_vertices * 40 bytes per point from RAM, which
    saturates shared memory bandwidth long before CPUs are busy (measured:
    4->16 local cores gave only 1.6x).  Blocking restores CPU-bound scaling
    (0.94 efficiency from local[2] to local[8] on the scaling bench).
    """
    px = np.ascontiguousarray(px, np.float64)
    py = np.ascontiguousarray(py, np.float64)
    x1 = np.asarray(ring_x, np.float64)
    y1 = np.asarray(ring_y, np.float64)
    x2 = np.roll(x1, -1)
    y2 = np.roll(y1, -1)
    with np.errstate(divide="ignore", invalid="ignore"):
        dx_inv_dy = (x2 - x1) / (y2 - y1)
    out = np.empty(len(px), bool)
    for s in range(0, len(px), block):
        bx = px[s:s + block]
        by = py[s:s + block]
        inside = np.zeros(len(bx), bool)
        for j in range(len(x1)):
            cond = (y1[j] > by) != (y2[j] > by)
            xint = (by - y1[j]) * dx_inv_dy[j] + x1[j]
            inside ^= cond & (bx < xint)
        out[s:s + len(bx)] = inside
    return out


def clip_polygon_convex(subject_x: np.ndarray, subject_y: np.ndarray,
                        clip_x: np.ndarray, clip_y: np.ndarray):
    """Sutherland–Hodgman: clip an arbitrary ring by a CONVEX ring.

    Pure-NumPy replacement for the reference's NTS ``Intersection``
    (Landuse/TiledBarrierGraphExtensions.cs:58-72) — sufficient for the
    area-overlap join because the landuse clipper rings are convex; the
    general concave-concave case is noted as a limitation and counted, not
    crashed on (mirroring the reference's non-noded-intersection catch at
    :74-83).  Returns (x, y) arrays of the clipped ring (possibly empty).
    """
    sx = list(np.asarray(subject_x, np.float64))
    sy = list(np.asarray(subject_y, np.float64))
    cx = np.asarray(clip_x, np.float64)
    cy = np.asarray(clip_y, np.float64)
    # ensure counter-clockwise clipper so "inside" = left of each edge
    if signed_area(cx, cy) < 0:
        cx, cy = cx[::-1], cy[::-1]
    n = len(cx)
    for i in range(n):
        ex1, ey1 = cx[i], cy[i]
        ex2, ey2 = cx[(i + 1) % n], cy[(i + 1) % n]
        if not sx:
            break
        nx, ny = [], []
        m = len(sx)
        for j in range(m):
            px1, py1 = sx[j], sy[j]
            px2, py2 = sx[(j + 1) % m], sy[(j + 1) % m]
            d1 = (ex2 - ex1) * (py1 - ey1) - (ey2 - ey1) * (px1 - ex1)
            d2 = (ex2 - ex1) * (py2 - ey1) - (ey2 - ey1) * (px2 - ex1)
            if d1 >= 0:
                nx.append(px1)
                ny.append(py1)
            if (d1 > 0) != (d2 > 0) and d1 != d2:
                t = d1 / (d1 - d2)
                nx.append(px1 + t * (px2 - px1))
                ny.append(py1 + t * (py2 - py1))
        sx, sy = nx, ny
    return np.array(sx), np.array(sy)


def polygon_area(x: np.ndarray, y: np.ndarray) -> float:
    """Absolute shoelace area."""
    if len(x) < 3:
        return 0.0
    return abs(signed_area(x, y))


# incremented whenever ear clipping hits the no-ear degenerate fallback
# (per Python process; see blocks() below)
TRIANGULATE_FALLBACKS = 0


def triangulate_ear(x: np.ndarray, y: np.ndarray) -> list[tuple[int, int, int]]:
    """Ear-clipping triangulation of a simple polygon (any orientation).

    Returns vertex-index triples that partition the polygon.  O(n^2) —
    landuse/face rings are tens of vertices, and the call sits inside an
    Arrow batch kernel with per-ring caching, so this is never hot.
    """
    n = len(x)
    if n < 3:
        return []
    xs = np.asarray(x, np.float64)
    ys = np.asarray(y, np.float64)
    if signed_area(xs, ys) < 0:  # normalize to CCW
        order = list(range(n - 1, -1, -1))
    else:
        order = list(range(n))
    tris: list[tuple[int, int, int]] = []

    def cross(i, j, k):
        return ((xs[j] - xs[i]) * (ys[k] - ys[i])
                - (ys[j] - ys[i]) * (xs[k] - xs[i]))

    def point_in_tri(p, i, j, k):
        d1 = cross_pt(p, i, j)
        d2 = cross_pt(p, j, k)
        d3 = cross_pt(p, k, i)
        return (d1 >= 0) and (d2 >= 0) and (d3 >= 0)

    def cross_pt(p, i, j):
        return ((xs[j] - xs[i]) * (ys[p] - ys[i])
                - (ys[j] - ys[i]) * (xs[p] - xs[i]))

    def blocks(p, i, j, k):
        # a vertex COINCIDENT with an ear corner (repeated points /
        # grid-aligned rings) must not block the ear: the >=0 boundary
        # test would otherwise reject every ear and force the degenerate
        # fallback on perfectly valid rings (ADVICE r2)
        if ((xs[p] == xs[i] and ys[p] == ys[i])
                or (xs[p] == xs[j] and ys[p] == ys[j])
                or (xs[p] == xs[k] and ys[p] == ys[k])):
            return False
        return point_in_tri(p, i, j, k)

    guard = 0
    while len(order) > 3 and guard < 4 * n * n:
        guard += 1
        m = len(order)
        clipped = False
        for t in range(m):
            i, j, k = order[(t - 1) % m], order[t], order[(t + 1) % m]
            if cross(i, j, k) <= 0:  # reflex or collinear — not an ear
                continue
            if any(blocks(p, i, j, k)
                   for p in order if p not in (i, j, k)):
                continue
            tris.append((i, j, k))
            order.pop(t)
            clipped = True
            break
        if not clipped:  # degenerate ring (collinear runs): drop a vertex
            # surfaced, not silent: per-process counter (executor-local;
            # asserted by tests/test_clip_general.py) + a warning on the
            # first occurrence per process
            global TRIANGULATE_FALLBACKS
            if TRIANGULATE_FALLBACKS == 0:
                log.warning(
                    "triangulate_ear: no-ear degenerate fallback hit "
                    "(collinear/self-touching ring); dropping a vertex — "
                    "intersection areas for this ring may be inexact")
            TRIANGULATE_FALLBACKS += 1
            order.pop(0)
    if len(order) == 3:
        tris.append(tuple(order))
    return tris


def polygon_intersection_area(subject_x: np.ndarray, subject_y: np.ndarray,
                              clip_x: np.ndarray, clip_y: np.ndarray) -> float:
    """Exact |subject ∩ clip| for SIMPLE polygons, both possibly CONCAVE.

    General replacement for the reference's NTS ``Intersection().Area``
    (Landuse/TiledBarrierGraphExtensions.cs:58-72): ear-clip the clip ring
    into triangles (a partition — disjoint interiors), Sutherland–Hodgman
    the subject against each convex triangle, sum the piece areas.
    Sutherland–Hodgman on a concave subject can emit coincident connector
    edges, but those cancel in the shoelace sum, so the area is exact.
    """
    cx = np.asarray(clip_x, np.float64)
    cy = np.asarray(clip_y, np.float64)
    total = 0.0
    for (i, j, k) in triangulate_ear(cx, cy):
        tx = cx[[i, j, k]]
        ty = cy[[i, j, k]]
        ix, iy = clip_polygon_convex(subject_x, subject_y, tx, ty)
        total += polygon_area(ix, iy)
    return total


def bbox_overlaps(aminx, aminy, amaxx, amaxy, bminx, bminy, bmaxx, bmaxy,
                  eps: float = 1e-8) -> np.ndarray:
    """Box-overlap with the reference's epsilon (Geo/GeoExtensions.cs:666-684)."""
    return (
        (np.asarray(aminx) <= np.asarray(bmaxx) + eps)
        & (np.asarray(amaxx) >= np.asarray(bminx) - eps)
        & (np.asarray(aminy) <= np.asarray(bmaxy) + eps)
        & (np.asarray(amaxy) >= np.asarray(bminy) - eps)
    )


def dp_keep_mask(x: np.ndarray, y: np.ndarray, tol: float) -> np.ndarray:
    """Douglas-Peucker keep-mask over a polyline (iterative stack; float64
    squared-distance comparison ``cross^2 > tol^2 * len^2`` so no sqrt).

    Works unchanged for CLOSED rings passed with the closing duplicate
    point: both anchors are vertex 0, the anchor segment degenerates, and
    the first split lands on the vertex radially farthest from vertex 0 —
    the standard closed-ring DP anchoring.

    Zoom-dependent MVT generalization companion: the reference serves
    full-resolution rings at every zoom (TileController.cs:78-141); at
    z<10 a 4096-extent tile cannot resolve sub-tolerance detail, so
    simplification is pure win at scale.
    """
    n = x.size
    keep = np.zeros(n, dtype=bool)
    if n == 0:
        return keep
    keep[0] = keep[-1] = True
    if n <= 2:
        return keep
    tol2 = float(tol) * float(tol)
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j - i < 2:
            continue
        ax, ay, bx, by = x[i], y[i], x[j], y[j]
        px = x[i + 1:j]
        py = y[i + 1:j]
        dx, dy = bx - ax, by - ay
        seg2 = dx * dx + dy * dy
        if seg2 == 0.0:
            d2 = (px - ax) ** 2 + (py - ay) ** 2
            thresh = tol2
        else:
            cross = dx * (py - ay) - dy * (px - ax)
            d2 = cross * cross
            thresh = tol2 * seg2
        k = int(np.argmax(d2))
        if d2[k] > thresh:
            m = i + 1 + k
            keep[m] = True
            stack.append((i, m))
            stack.append((m, j))
    return keep
