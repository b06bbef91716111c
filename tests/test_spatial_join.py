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


# one z14 cell in Belgium (its west edge, width and a latitude inside
# it), for hand-placed kNN probes
KNN_TX, KNN_TY, KNN_N = 8300, 5447, 1 << 14
KNN_CELL = KNN_TY * KNN_N + KNN_TX
KNN_W = 360.0 / KNN_N                      # cell width in degrees
KNN_LON0 = KNN_TX * KNN_W - 180.0          # west edge of the cell
KNN_LAT = 51.43
KNN_COLS = ["doc_id", "span_idx", "cell_id", "lon", "lat", "polygon_guid",
            "method"]


def _square(cx, cy, s=1e-4):
    pts = [(cx - s, cy - s), (cx + s, cy - s), (cx + s, cy + s),
           (cx - s, cy + s), (cx - s, cy - s)]
    return ";".join(f"{x} {y}" for x, y in pts)


def _snap(spark, orphans, polys):
    """knn_snap over (doc_id, lon, cell offset) orphans and (guid,
    centroid lon, cell offset) polygons, cells counted east of KNN_CELL."""
    from urbanistic_polygons_spark.operators.knn import knn_snap

    o = spark.createDataFrame(
        [(d, 0, KNN_CELL + dx, lon, KNN_LAT) for d, lon, dx in orphans],
        "doc_id long, span_idx int, cell_id long, lon double, lat double")
    p = spark.createDataFrame(
        [(g, _square(lon, KNN_LAT), [KNN_CELL + dx]) for g, lon, dx in polys],
        "polygon_guid string, ring string, cells array<long>")
    return knn_snap(o, p)


def test_knn_block_semantics(spark):
    """Probe for the 3x3-block tier rule: an orphan whose OWN cell holds a
    far polygon while the adjacent cell holds a nearer one must snap to
    the nearer adjacent-cell polygon (the expand loop's first probe is
    the whole 3x3 block keyed by distance, not own-cell-first)."""
    got = _snap(spark, [(7, KNN_LON0 + KNN_W - 0.0005, 0)],
                [("far-own", KNN_LON0 + 0.0005, 0),
                 ("near-adjacent", KNN_LON0 + KNN_W + 0.0005, 1)]).toPandas()
    assert len(got) == 1
    assert got.iloc[0].polygon_guid == "near-adjacent"
    assert got.iloc[0].method == "knn"


def test_knn_tier_beats_distance(spark):
    """A ring-2 centroid nearer than every ring-1 centroid still loses:
    the first non-empty block (own cell + ring 1) wins before distance."""
    orphan = KNN_LON0 + 0.0005
    near_ring2 = KNN_LON0 - KNN_W - 0.0005          # ~1 cell west
    far_ring1 = KNN_LON0 + 2 * KNN_W - 0.0005       # ~2 cells east
    assert abs(near_ring2 - orphan) < abs(far_ring1 - orphan)
    got = _snap(spark, [(1, orphan, 0)],
                [("near-ring2", near_ring2, -2),
                 ("far-ring1", far_ring1, 1)]).collect()
    assert [(r.polygon_guid, r.method) for r in got] == [("far-ring1", "knn")]


def test_knn_equidistant_tie_breaks_on_guid(spark):
    """Two centroids mirrored about the orphan, in the same tier: the
    smaller polygon_guid wins whatever the input order."""
    orphan = KNN_LON0 + KNN_W / 2
    got = _snap(spark, [(1, orphan, 0)],
                [("guid-b", orphan - 0.002, 0),
                 ("guid-a", orphan + 0.002, 0)]).collect()
    assert [(r.polygon_guid, r.method) for r in got] == [("guid-a", "knn")]


def test_knn_empty_halo_is_none(spark):
    """An orphan whose 7x7 halo holds no centroid comes back once, with
    method='none' and a null guid, next to a snapped one."""
    far = KNN_LON0 + 10 * KNN_W + 0.001
    got = _snap(spark, [(1, KNN_LON0 + 0.001, 0), (2, far, 10)],
                [("p10", far + 0.001, 10)]).collect()
    assert sorted((r.doc_id, r.polygon_guid, r.method) for r in got) == [
        (1, None, "none"), (2, "p10", "knn")]


def test_knn_empty_orphans(spark):
    """No orphans: an empty frame with the seven output columns."""
    out = _snap(spark, [], [("p", KNN_LON0, 0)])
    assert out.columns == KNN_COLS
    assert out.count() == 0


def test_knn_plan_is_one_broadcast_join(spark):
    """The snap is one broadcast of the centroid index joined once: no
    second broadcast and no anti-join re-deriving the unmatched orphans."""
    out = _snap(spark, [(1, KNN_LON0 + 0.001, 0)], [("p", KNN_LON0, 0)])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastExchange") == 1, plan
    assert "LeftAnti" not in plan, plan


def test_ringed_halo_matches_kernel(spark):
    """neighbor_cells_ringed is the NumPy halo (kernels.neighbor_cells)
    with each cell tagged by its Chebyshev ring, in the same order: an
    interior cell, x-wrap cells at both edges, y-clamp cells at both poles
    (whose clamped rows repeat cells) and two corners.  A null cell gives
    49 entries with a null cell."""
    from pyspark.sql import functions as F

    from urbanistic_polygons_spark.functions.cells import neighbor_cells_ringed

    n, mid = KNN_N, KNN_N // 2
    cells = [KNN_CELL, mid * n, mid * n + n - 1, mid, (n - 1) * n + mid,
             0, n * n - 1]
    offs = np.arange(-3, 4)
    dx, dy = np.meshgrid(offs, offs)
    rings = np.maximum(abs(dx), abs(dy)).ravel().tolist()
    expected = {c: list(zip(h.tolist(), rings)) for c, h in zip(
        cells, kernels.neighbor_cells(np.array(cells, np.int64), ring=3))}
    expected[None] = [(None, r) for r in rings]

    out = spark.createDataFrame(
        [(c,) for c in expected], "cell_id long").select(
        "cell_id", neighbor_cells_ringed(F.col("cell_id")).alias("h"))
    assert (out.schema["h"].dataType.simpleString()
            == "array<struct<cell:bigint,ring:int>>")
    got = {r.cell_id: [(e.cell, e.ring) for e in r.h] for r in out.collect()}
    assert got == expected
    assert len({c for c, _ in got[mid]}) < 49     # the y clamp repeats


def test_assign_plan_build_py4j_budget(data, monkeypatch):
    """Building (not running) the flagship plan stays within a py4j
    round-trip budget: each ``F.*`` call is 10-20 round-trips, so a Python
    loop that builds a fixed-shape expression family call by call (the
    49-struct kNN halo took ~7,000) shows up here as driver time."""
    import gc

    import py4j.clientserver as cs

    _, _, docs, polys = data
    assign_documents(docs, polys)        # warm-up: JVM lookups get cached
    gc.collect()                         # its JVM handles detach here
    calls = 0
    send = cs.ClientServerConnection.send_command

    def counting(self, command):
        nonlocal calls
        calls += 1
        return send(self, command)

    monkeypatch.setattr(cs.ClientServerConnection, "send_command", counting)
    assign_documents(docs, polys)
    monkeypatch.undo()
    assert 0 < calls <= 3000, calls


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
