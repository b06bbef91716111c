"""Flagship pipeline tests: Spark output vs a single-process NumPy oracle on
the same seeded synthetic input (FIXTURES.md §5 expected_assignments)."""

import numpy as np
import pandas as pd
import pytest

from urbanistic_polygons_spark import datagen, kernels
from urbanistic_polygons_spark.operators.spatial_join import (
    assign_documents, extract_geo_points,
)

N_DOCS = 300
N_POLYS = 40


def oracle_assignments(docs_pdf: pd.DataFrame, polys_pdf: pd.DataFrame):
    """Single-process reimplementation: for each geo span, all containing
    polygons by ray-cast; assignment = min polygon_guid; orphans -> nearest
    centroid within 3 halo rings (tie-break guid)."""
    rings = {}
    centroids = {}
    cellmap = {}
    for r in polys_pdf.itertuples(index=False):
        pts = np.array([p.split() for p in r.ring.split(";")], dtype=np.float64)
        rings[r.polygon_guid] = (pts[:-1, 0], pts[:-1, 1])
        centroids[r.polygon_guid] = (pts[:-1, 0].mean(), pts[:-1, 1].mean())
        for c in r.cells:
            cellmap.setdefault(int(c), []).append(r.polygon_guid)

    out = []
    for d in docs_pdf.itertuples(index=False):
        for idx, (kind, text, media, off) in enumerate(d.spans):
            if kind != "geo":
                continue
            lon, lat = map(float, text.split(","))
            tx, ty = kernels.world_to_tile(np.array([lon]), np.array([lat]))
            cell = int(kernels.tile_local_id(tx, ty)[0])
            hits = []
            for g in cellmap.get(cell, []):
                rx, ry = rings[g]
                if kernels.points_in_polygon(np.array([lon]), np.array([lat]), rx, ry)[0]:
                    hits.append(g)
            if hits:
                out.append((d.doc_id, idx, cell, min(hits), "pip"))
                continue
            # knn rings
            found = None
            for ring_k in (1, 2, 3):
                halo = set(kernels.neighbor_cells(np.array([cell]), ring=ring_k)[0].tolist())
                cands = {g for c in halo for g in cellmap.get(int(c), [])}
                if cands:
                    def key(g):
                        cx, cy = centroids[g]
                        d_m = kernels.distance_m(lon, lat, cx, cy)
                        return (round(float(d_m), 6), g)
                    found = min(cands, key=key)
                    break
            if found:
                out.append((d.doc_id, idx, cell, found, "knn"))
            else:
                out.append((d.doc_id, idx, cell, None, "none"))
    return sorted(out)


@pytest.fixture(scope="module")
def data(spark):
    docs_pdf = datagen.gen_documents(N_DOCS, seed=42)
    polys_pdf = datagen.gen_polygons(N_POLYS, seed=43)
    docs = datagen.documents_df(spark, N_DOCS, seed=42)
    polys = datagen.polygons_df(spark, N_POLYS, seed=43)
    return docs_pdf, polys_pdf, docs, polys


def test_extract_geo_points_counts(data):
    docs_pdf, _, docs, _ = data
    n_geo = sum(1 for sp in docs_pdf.spans for k, *_ in sp if k == "geo")
    assert extract_geo_points(docs).count() == n_geo


def test_cell_ids_match_kernel(data):
    docs_pdf, _, docs, _ = data
    got = extract_geo_points(docs).select("doc_id", "span_idx", "cell_id").toPandas()
    for r in got.itertuples(index=False):
        spans = docs_pdf[docs_pdf.doc_id == r.doc_id].spans.iloc[0]
        lon, lat = map(float, spans[r.span_idx][1].split(","))
        tx, ty = kernels.world_to_tile(np.array([lon]), np.array([lat]))
        assert int(kernels.tile_local_id(tx, ty)[0]) == r.cell_id


def test_flagship_matches_oracle(data):
    docs_pdf, polys_pdf, docs, polys = data
    expected = oracle_assignments(docs_pdf, polys_pdf)
    got = assign_documents(docs, polys).toPandas()
    got_t = sorted(
        (r.doc_id, int(r.span_idx), int(r.cell_id),
         r.polygon_guid if pd.notna(r.polygon_guid) else None, r.method)
        for r in got.itertuples(index=False))
    assert got_t == expected


def test_partition_invariance(data):
    """Exact-match determinism across partitionings (SURVEY.md §7 hard
    part): repartitioned input yields byte-identical assignments."""
    _, _, docs, polys = data
    a = assign_documents(docs, polys).toPandas()
    b = assign_documents(docs.repartition(13), polys.repartition(3)).toPandas()
    key = ["doc_id", "span_idx"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_knn_block_semantics(spark):
    """Probe for the 3x3-block tier rule: an orphan whose OWN cell holds a
    far polygon while the adjacent cell holds a nearer one must snap to
    the nearer adjacent-cell polygon (the expand loop's first probe is
    the whole 3x3 block keyed by distance, not own-cell-first)."""
    from urbanistic_polygons_spark.operators.knn import knn_snap

    tx, ty, n = 8300, 5447, 1 << 14
    cell = ty * n + tx
    lon0 = tx / n * 360.0 - 180.0          # west edge of the own cell
    lon1 = (tx + 1) / n * 360.0 - 180.0    # east edge
    lat_mid = 51.43                        # inside ty=5447 at z14

    def square(cx, cy, s=1e-4):
        pts = [(cx - s, cy - s), (cx + s, cy - s), (cx + s, cy + s),
               (cx - s, cy + s), (cx - s, cy - s)]
        return ";".join(f"{x} {y}" for x, y in pts)

    orphan_lon = lon1 - 0.0005             # near the east edge
    orphans = spark.createDataFrame(
        [(7, 0, cell, orphan_lon, lat_mid)],
        "doc_id long, span_idx int, cell_id long, lon double, lat double")
    polys = spark.createDataFrame(
        [("far-own", square(lon0 + 0.0005, lat_mid), [cell]),
         ("near-adjacent", square(lon1 + 0.0005, lat_mid), [cell + 1])],
        "polygon_guid string, ring string, cells array<long>")
    got = knn_snap(orphans, polys).toPandas()
    assert len(got) == 1
    assert got.iloc[0].polygon_guid == "near-adjacent"
    assert got.iloc[0].method == "knn"


def test_pip_only_points_inside(data):
    _, polys_pdf, docs, polys = data
    hits = (assign_documents(docs, polys).filter("method = 'pip'")
            .toPandas())
    assert len(hits) > 0
    rings = {}
    for r in polys_pdf.itertuples(index=False):
        p = np.array([q.split() for q in r.ring.split(";")], dtype=np.float64)
        rings[r.polygon_guid] = (p[:-1, 0], p[:-1, 1])
    for r in hits.itertuples(index=False):
        rx, ry = rings[r.polygon_guid]
        assert kernels.points_in_polygon(
            np.array([r.lon]), np.array([r.lat]), rx, ry)[0]
