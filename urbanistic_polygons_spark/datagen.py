"""Deterministic synthetic-data generators.

Everything is a pure function of (seed, scale): no wall clock, no global RNG
state — so the Spark pipeline output can be compared row-exactly against the
single-process oracle (FIXTURES.md requirement).

Generates the driver-contract input shape (BASELINE.json input_hint):
    documents(doc_id string,
              spans array<struct<kind string, text string,
                                 media_ref string, offset int>>)
with ``geo`` spans carrying "lon,lat" in ``text``, plus the candidate
polygon index (FIXTURES.md §4) and an OSM-like nodes/ways layer
(reference data model Data/OsmTileSource.cs:35-80).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from . import kernels
from .functions import rings

# Belgium-ish bbox, same region as the reference preprocessor
# (Preprocessor/Program.cs:36: (2.3785,51.5224)-(6.5094,49.4002))
BBOX = (2.3785, 49.4002, 6.5094, 51.5224)

WORDS = np.array(
    "urban polygon barrier landuse residential industrial water rural natural "
    "school tile face edge vertex graph spatial join cell index density grid "
    "vector raster point line ring area the a of and to in for with".split()
)


def _rng(seed: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64(seed))


def gen_documents(n_docs: int, seed: int = 42, skew: float = 0.8,
                  n_hot_cells: int = 4) -> pd.DataFrame:
    """Interleaved text+media documents.

    ``skew`` of the docs concentrate in ``n_hot_cells`` urban-core z14 cells
    (FIXTURES.md skew knob) to exercise salted repartitioning.
    Each doc gets 1-8 spans: text spans, optional image spans (opaque
    media_ref), and >=1 geo span with "lon,lat" text; offsets strictly
    increasing in span order.
    """
    rng = _rng(seed)
    min_lon, min_lat, max_lon, max_lat = BBOX

    # hot-cell centers (urban cores), deterministic from seed
    hot_lon = rng.uniform(min_lon + 0.5, max_lon - 0.5, n_hot_cells)
    hot_lat = rng.uniform(min_lat + 0.3, max_lat - 0.3, n_hot_cells)

    is_hot = rng.random(n_docs) < skew
    which_hot = rng.integers(0, n_hot_cells, n_docs)
    # hot docs: tight gaussian around a core (sub-cell scale ~0.01 deg)
    lon = np.where(
        is_hot,
        hot_lon[which_hot] + rng.normal(0, 0.008, n_docs),
        rng.uniform(min_lon, max_lon, n_docs),
    )
    lat = np.where(
        is_hot,
        hot_lat[which_hot] + rng.normal(0, 0.005, n_docs),
        rng.uniform(min_lat, max_lat, n_docs),
    )
    lon = np.clip(lon, min_lon, max_lon)
    lat = np.clip(lat, min_lat, max_lat)

    n_spans = rng.integers(2, 9, n_docs)
    geo_pos = np.array([rng.integers(0, k) for k in n_spans])

    docs = []
    for i in range(n_docs):
        spans = []
        offset = 0
        for s in range(n_spans[i]):
            if s == geo_pos[i]:
                spans.append(("geo", f"{lon[i]:.7f},{lat[i]:.7f}", "", offset))
                offset += 24
            elif rng.random() < 0.25:
                spans.append(("image", "", f"blob://img/{i}_{s}.bin", offset))
                offset += 1
            else:
                nw = int(rng.integers(3, 12))
                text = " ".join(WORDS[rng.integers(0, len(WORDS), nw)])
                spans.append(("text", text, "", offset))
                offset += len(text) + 1
        docs.append((f"doc_{i:012d}", spans))
    return pd.DataFrame(docs, columns=["doc_id", "spans"])


def gen_polygons(n_polys: int, seed: int = 43) -> pd.DataFrame:
    """Candidate urban-boundary polygons (FIXTURES.md §4): convex rings
    (deterministic irregular hexagons) with bbox, covering cells, landuse
    map, and a content-addressed guid.

    Returns one row per polygon; covering cells as a list column (exploded
    to (cell_id, polygon) pairs by the caller for the candidate join).
    """
    rng = _rng(seed)
    min_lon, min_lat, max_lon, max_lat = BBOX
    cx = rng.uniform(min_lon + 0.1, max_lon - 0.1, n_polys)
    cy = rng.uniform(min_lat + 0.1, max_lat - 0.1, n_polys)
    # radii ~ one z14 tile (0.022 deg lon) up to a few tiles
    r = rng.uniform(0.005, 0.05, n_polys)
    classes = np.array(["residential", "industrial", "water",
                        "rural", "natural", "school"])

    rows = []
    for i in range(n_polys):
        k = 6
        angles = np.sort(rng.uniform(0, 2 * np.pi, k))
        rads = r[i] * rng.uniform(0.6, 1.0, k)
        lons = cx[i] + rads * np.cos(angles)
        lats = cy[i] + rads * np.sin(angles) * 0.62  # approx cos(51 deg)
        # clockwise (reference rings are clockwise); the ring text below
        # repeats the first point last
        if not kernels.is_clockwise(lons, lats):
            lons, lats = lons[::-1], lats[::-1]
        cells = kernels.tiles_for_box(float(lons.min()), float(lats.min()),
                                      float(lons.max()), float(lats.max()))
        tx, ty = kernels.world_to_tile(lons, lats)
        qx, qy = kernels.quantize(lons, lats, tx, ty)
        tid = kernels.tile_local_id(tx, ty)
        guid = kernels.face_guid(np.stack([qx, qy, tid], axis=1))
        cls = classes[rng.integers(0, len(classes))]
        pct = round(float(rng.uniform(0.5, 1.0)), 4)
        rows.append({
            "polygon_guid": guid,
            "cells": cells.tolist(),
            "ring": rings.fmt(np.append(lons, lons[0]),
                              np.append(lats, lats[0])),
            "min_lon": float(lons.min()), "min_lat": float(lats.min()),
            "max_lon": float(lons.max()), "max_lat": float(lats.max()),
            "landuse": {str(cls): pct},
        })
    return pd.DataFrame(rows)


def gen_ways_grid(k: int = 6, seed: int = 44,
                  origin=(4.70, 51.20), step: float = 0.01,
                  jitter: float = 1.0) -> tuple[pd.DataFrame, pd.DataFrame]:
    """A k x k lattice of barrier ways sharing intersection nodes, plus a few
    closed landuse rings overlapping grid faces — reproduces the reference
    unit-test scenarios (FIXTURES.md §2) at Belgian coordinates.

    Returns (nodes, ways) frames:
      nodes(node_id long, lon double, lat double)
      ways(way_id long, nodes array<long>, tags map<string,string>)
    """
    rng = _rng(seed)
    lon0, lat0 = origin
    nodes = []
    nid = {}
    for gy in range(k):
        for gx in range(k):
            i = len(nodes)
            nid[(gx, gy)] = i
            # tiny deterministic jitter so no degenerate colinearity;
            # jitter=0.0 gives exact closed-form coordinates (the DuckDB
            # faces/landuse oracles need them)
            jx = float(rng.uniform(-step * 0.05, step * 0.05)) * jitter
            jy = float(rng.uniform(-step * 0.05, step * 0.05)) * jitter
            nodes.append((i, lon0 + gx * step + jx, lat0 + gy * step + jy))
    ways = []
    wid = 0
    for gy in range(k):  # horizontal streets
        ways.append((wid, [nid[(gx, gy)] for gx in range(k)],
                     {"highway": "residential"}))
        wid += 1
    for gx in range(k):  # vertical streets
        ways.append((wid, [nid[(gx, gy)] for gy in range(k)],
                     {"highway": "residential"}))
        wid += 1
    # dangling dead-end spur (exercises PruneDeadEnds)
    spur_id = len(nodes)
    nodes.append((spur_id, lon0 - step, lat0 - step))
    ways.append((wid, [nid[(0, 0)], spur_id], {"highway": "residential"}))
    wid += 1
    # closed landuse rings overlapping grid faces: axis-aligned rects on
    # QUARTER-step lattice offsets, placed closed-form (no rng) — every
    # face∩landuse ratio is an exact multiple of 1/16 (and the outer face's
    # an exact multiple of 1/((k-1)^2*16)), so the faces_landuse catalog
    # query has a bit-exact integer-permyriad DuckDB oracle while still
    # exercising the REAL float clip kernel (VERDICT r2 #1b).  Tags all
    # resolve in the landuse dim (the old ("landuse","water") silently
    # classified to null and dropped the third ring).
    # spans in quarter-step units relative to the anchor cell (x0,y0,x1,y1)
    rects = [
        ({"landuse": "residential"}, (1, 2), (1, 1, 7, 7)),
        ({"landuse": "industrial"}, (k - 3, 1), (1, 2, 6, 5)),
        ({"natural": "water"}, (1, 2), (2, 2, 4, 4)),
    ]
    for tags, (gx, gy), (qx0, qy0, qx1, qy1) in rects:
        base = len(nodes)
        xs = (lon0 + (gx + qx0 / 4) * step, lon0 + (gx + qx1 / 4) * step)
        ys = (lat0 + (gy + qy0 / 4) * step, lat0 + (gy + qy1 / 4) * step)
        corners = [(xs[0], ys[0]), (xs[1], ys[0]), (xs[1], ys[1]), (xs[0], ys[1])]
        for j, (cx, cy) in enumerate(corners):
            nodes.append((base + j, cx, cy))
        ring_pts = [base, base + 1, base + 2, base + 3]
        ways.append((wid, ring_pts + [ring_pts[0]], tags))
        wid += 1
    nodes_df = pd.DataFrame(nodes, columns=["node_id", "lon", "lat"])
    ways_df = pd.DataFrame(ways, columns=["way_id", "nodes", "tags"])
    return nodes_df, ways_df


# -- Spark-side materialization ---------------------------------------------

DOCUMENTS_SCHEMA = (
    "doc_id string, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>"
)

POLYGONS_SCHEMA = (
    "polygon_guid string, cells array<long>, ring string, "
    "min_lon double, min_lat double, max_lon double, max_lat double, "
    "landuse map<string,double>"
)


def documents_df(spark, n_docs: int, seed: int = 42, **kw):
    pdf = gen_documents(n_docs, seed, **kw)
    pdf["spans"] = pdf["spans"].apply(
        lambda sp: [{"kind": k, "text": t, "media_ref": m, "offset": o}
                    for k, t, m, o in sp])
    return spark.createDataFrame(pdf, schema=DOCUMENTS_SCHEMA)


def polygons_df(spark, n_polys: int, seed: int = 43):
    return spark.createDataFrame(gen_polygons(n_polys, seed),
                                 schema=POLYGONS_SCHEMA)
