"""Mapbox Vector Tile (MVT) sink: a from-scratch pure-Python protobuf
encoder for the MVT 2.1 spec (``encode_tile``) and one Arrow tile adapter
that runs it per tile group.

Reference analog: API/Controllers/TileController.cs:78-141 (layer assembly,
dominant type) and LanduseTileController.cs:85-126 — there via the
NetTopologySuite MVT writer; here the wire format is hand-encoded (varint +
zigzag + command integers) because no protobuf lib ships in the image.

Scale: rows are exploded JVM-side to their covering tiles and grouped on
(tile_x, tile_y); ``applyInArrow`` hands each tile's rows to the encoder
as one ``pyarrow.Table`` and gets back one row per tile, so encoding
parallelizes across tiles and each task touches one tile's features only.
Both sinks (``faces_to_mvt``, ``landuse_to_mvt``) go through the same
adapter.
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .. import kernels

EXTENT = 4096


def _varint(v: int) -> bytes:
    out = bytearray()
    v &= (1 << 64) - 1
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v < 0 else v << 1


def _tag(field: int, wire: int) -> bytes:
    return _varint((field << 3) | wire)


def _len_field(field: int, payload: bytes) -> bytes:
    return _tag(field, 2) + _varint(len(payload)) + payload


def _mvt_value(s) -> bytes:
    """Tile.Value message: string (1) / double (3) / int (4) / bool (7)."""
    if isinstance(s, bool):
        return _tag(7, 0) + _varint(1 if s else 0)
    if isinstance(s, (int, np.integer)):
        return _tag(4, 0) + _varint(int(s) & ((1 << 64) - 1))
    if isinstance(s, (float, np.floating)):
        return _tag(3, 1) + struct.pack("<d", float(s))
    payload = str(s).encode("utf-8")
    return _tag(1, 2) + _varint(len(payload)) + payload


def _ring_signed_area(qx: np.ndarray, qy: np.ndarray) -> float:
    """Surveyor's (shoelace) formula in tile coordinate space — the MVT 2.1
    §4.3.3.3 winding test: exterior rings MUST have positive area,
    interior rings negative."""
    x2 = np.roll(qx, -1)
    y2 = np.roll(qy, -1)
    return float(np.sum(qx.astype(np.float64) * y2 - x2 * qy)) / 2.0


def _geometry_polygon(rings: list[tuple[np.ndarray, np.ndarray]]) -> list[int]:
    """Command-integer sequence for one polygon: exterior ring first, then
    any interior rings (holes) — each MoveTo(1) + LineTo(n-1) + ClosePath,
    coordinates delta-encoded zigzag with the cursor CONTINUING across
    rings (MVT 2.1 §4.3.4.4).  Winding is normalized per spec: exterior
    positive area, interiors negative (reference NTS MVT writer handles
    these rings in TileController.cs:78-141 / LanduseTileController.cs:85-126)."""
    cmds: list[int] = []
    px, py = 0, 0
    n_emitted = 0
    for qx, qy in rings:
        # drop closing dup (ClosePath implies it)
        if len(qx) > 1 and qx[0] == qx[-1] and qy[0] == qy[-1]:
            qx, qy = qx[:-1], qy[:-1]
        if len(qx) < 3:
            continue
        area = _ring_signed_area(qx, qy)
        if area == 0:
            # zero-area ring: neither a valid exterior nor a valid hole
            # (MVT 2.1 §4.3.3.3) — skip rather than emit unnormalizable
            continue
        # winding keys on the EMITTED ring index, not the input index: if
        # the input exterior was degenerate and skipped, the next emitted
        # ring becomes the exterior and must wind positive
        if (n_emitted == 0) != (area > 0):
            qx, qy = qx[::-1], qy[::-1]
        n_emitted += 1
        cmds.append((1 << 3) | 1)  # MoveTo, count 1
        cmds.append(_zigzag(int(qx[0]) - px))
        cmds.append(_zigzag(int(qy[0]) - py))
        px, py = int(qx[0]), int(qy[0])
        n = len(qx) - 1
        cmds.append((n << 3) | 2)  # LineTo, count n
        for i in range(1, len(qx)):
            cmds.append(_zigzag(int(qx[i]) - px))
            cmds.append(_zigzag(int(qy[i]) - py))
            px, py = int(qx[i]), int(qy[i])
        cmds.append((1 << 3) | 7)  # ClosePath
    return cmds


def encode_tile(tile_x: int, tile_y: int, zoom: int,
                features: list[dict], layer_name: str = "faces") -> bytes:
    """features: [{'ring': 'lon lat;...', 'props': {k: v}}, ...] -> MVT
    bytes with one layer.  Rings are projected into the tile's EXTENT grid
    (same math as the reference's per-tile quantization, just 4096 instead
    of 16384)."""
    min_lon, min_lat, max_lon, max_lat = kernels.tile_box(
        np.array([tile_x]), np.array([tile_y]), zoom)
    min_lon, min_lat = float(min_lon[0]), float(min_lat[0])
    max_lon, max_lat = float(max_lon[0]), float(max_lat[0])

    keys: list[str] = []
    values: list = []
    kidx: dict[str, int] = {}
    vidx: dict = {}

    feats_payload = b""
    for fid, feat in enumerate(features):
        # "rings": [exterior, hole, ...] (general polygons, e.g. landuse
        # served directly via the E3 path); "ring": single-ring shorthand
        # (faces from the planar walk are hole-free by construction)
        ring_strs = feat.get("rings") or [feat["ring"]]
        rings = []
        for rs in ring_strs:
            pts = np.array([p.split() for p in rs.split(";")],
                           dtype=np.float64)
            qx = ((pts[:, 0] - min_lon) / (max_lon - min_lon)
                  * EXTENT).astype(np.int64)
            qy = ((max_lat - pts[:, 1]) / (max_lat - min_lat)
                  * EXTENT).astype(np.int64)
            rings.append((qx, qy))
        cmds = _geometry_polygon(rings)
        if not cmds:
            continue
        tags: list[int] = []
        for k, v in feat.get("props", {}).items():
            if k not in kidx:
                kidx[k] = len(keys)
                keys.append(k)
            vkey = (type(v).__name__, v)
            if vkey not in vidx:
                vidx[vkey] = len(values)
                values.append(v)
            tags.extend([kidx[k], vidx[vkey]])
        body = _tag(1, 0) + _varint(fid + 1)                       # id
        if tags:
            body += _len_field(2, b"".join(_varint(t) for t in tags))
        body += _tag(3, 0) + _varint(3)                            # POLYGON
        body += _len_field(4, b"".join(_varint(c) for c in cmds))  # geometry
        feats_payload += _len_field(2, body)

    layer = _tag(15, 0) + _varint(2)                               # version
    layer += _len_field(1, layer_name.encode("utf-8"))
    layer += feats_payload
    for k in keys:
        layer += _len_field(3, k.encode("utf-8"))
    for v in values:
        layer += _len_field(4, _mvt_value(v))
    layer += _tag(5, 0) + _varint(EXTENT)
    return _len_field(3, layer)  # Tile.layers


MVT_SCHEMA = "tile_z int, tile_x long, tile_y long, mvt binary, n_features int"


def _bbox_tile_cover(df, zoom: int, keep_cols: list[str]):
    """Explode each row to its covering (tile_x, tile_y) set from the
    bbox columns (min_lon..max_lat), keeping ``keep_cols``.  A bbox always
    covers >= 1 tile: explode_outer dodges the InferFiltersFromGenerate
    interpreted-filter trap (repo rule)."""
    from pyspark.sql import functions as F

    from ..functions import cells as C

    return df.withColumn(
        "tile_xy",
        F.explode_outer(F.flatten(F.transform(
            F.sequence(C.tile_y(F.col("max_lat"), zoom),
                       C.tile_y(F.col("min_lat"), zoom)),
            lambda cy: F.transform(
                F.sequence(C.tile_x(F.col("min_lon"), zoom),
                           C.tile_x(F.col("max_lon"), zoom)),
                lambda cx: F.struct(cx.alias("x"), cy.alias("y")))))),
    ).select(*keep_cols,
             F.col("tile_xy.x").alias("tile_x"),
             F.col("tile_xy.y").alias("tile_y"))


def _type_summary(cls: pa.ChunkedArray) -> str:
    """'cls:count,...' over the non-null classes, sorted by class."""
    counts = pc.value_counts(pc.drop_null(cls)).to_pylist()
    return ",".join(f"{c}:{n}" for c, n in
                    sorted((d["values"], d["counts"]) for d in counts))


def _encode_tiles(tiled, zoom: int, layer_name: str, order: str,
                  props: list[tuple[str, str]], summary: str | None = None):
    """The one tile adapter: ``tiled`` (tile_x, tile_y, ring, ...) -> one
    row (tile_z, tile_x, tile_y, mvt, n_features[, type_summary]) per
    tile, encoded by ``encode_tile`` inside ``applyInArrow``.  Features
    are ordered by ``order`` then ring, so a tile's bytes do not depend on
    the input's row order or partitioning; ``props`` maps each feature
    property name to its source column, in tag order; ``summary`` names
    the column whose per-class counts fill ``type_summary``."""
    schema = MVT_SCHEMA if summary is None else (
        MVT_SCHEMA + ", type_summary string")
    names = [name for name, _ in props]

    # no type hints: applyInArrow infers the table/iterator form from
    # them, and a partly annotated kernel fails that inference
    def kernel(key, tbl):
        tbl = tbl.sort_by([(order, "ascending"), ("ring", "ascending")])
        cols = [tbl[col].to_pylist() for _, col in props]
        feats = [{"ring": ring, "props": dict(zip(names, vals))}
                 for ring, *vals in zip(tbl["ring"].to_pylist(), *cols)]
        tx, ty = key[0].as_py(), key[1].as_py()
        row = {"tile_z": pa.array([zoom], pa.int32()),
               "tile_x": [tx], "tile_y": [ty],
               "mvt": [encode_tile(tx, ty, zoom, feats, layer_name)],
               "n_features": pa.array([len(feats)], pa.int32())}
        if summary is not None:
            row["type_summary"] = [_type_summary(tbl[summary])]
        return pa.table(row)

    return tiled.groupBy("tile_x", "tile_y").applyInArrow(kernel, schema)


def faces_to_mvt(faces, zoom: int = kernels.DEFAULT_ZOOM):
    """faces(face_guid, ring, min_lon..max_lat) -> one MVT blob per covering
    tile (S7 sink): layer 'faces', each feature tagged with its
    ``face_guid``.

    Tile cover: if the input already carries ``tile_x``/``tile_y`` columns
    (a caller that knows the exact integer cover — e.g. the density
    pipeline, whose segments live on z14 cell boundaries where the
    float Mercator round-trip is floor-unstable), they are used verbatim;
    otherwise the cover derives from the face bbox JVM-side."""
    if "tile_x" in faces.columns and "tile_y" in faces.columns:
        tiled = faces.select("face_guid", "ring", "tile_x", "tile_y")
    else:
        tiled = _bbox_tile_cover(faces, zoom, ["face_guid", "ring"])
    return _encode_tiles(tiled, zoom, "faces", "face_guid",
                         [("face_guid", "face_guid")])


def landuse_to_mvt(polys, zoom: int = kernels.DEFAULT_ZOOM):
    """E3 raw-landuse serve sink: classified closed landuse rings
    (lu_id, cls, ring, min_lon..max_lat — classify.classify_landuse_ways
    output joined to coordinates) -> one MVT blob per covering tile with
    a 'landuse' layer whose features carry the classified ``type``
    attribute (reference LanduseTileController.cs:85-126), plus the
    tile's ``type_summary``."""
    tiled = _bbox_tile_cover(polys, zoom, ["lu_id", "cls", "ring"])
    return _encode_tiles(tiled, zoom, "landuse", "lu_id",
                         [("type", "cls"), ("lu_id", "lu_id")],
                         summary="cls")
