"""Face-extraction kernel tests mirroring the reference xunit suite
(test/.../Graphs/Barrier/Faces/FacesTests.cs)."""

import pandas as pd
import pytest

from urbanistic_polygons_spark.operators.faces import (
    UNASSIGNABLE, TileGraph, faces_kernel,
)

# the reference triangle (FacesTests.cs:44-56)
V1 = (4.788075685501099, 51.26676188180721)
V2 = (4.786123037338257, 51.26496276736555)
V3 = (4.790832996368408, 51.265137311403734)


def triangle():
    g = TileGraph()
    v1 = g.add_vertex(*V1)
    v2 = g.add_vertex(*V2)
    v3 = g.add_vertex(*V3)
    e1 = g.add_edge(v1, v2)
    e2 = g.add_edge(v2, v3)
    e3 = g.add_edge(v3, v1)
    return g, (v1, v2, v3), (e1, e2, e3)


def test_no_edges_does_nothing():
    g = TileGraph()
    assert g.assign_faces()[0] == 1  # only the sentinel


def test_one_edge_assigns_only_sentinel():
    # reference Faces_AssignFaces_OneEdge_ShouldAssign1
    g = TileGraph()
    v1 = g.add_vertex(4.7522735595703125, 50.97918242660188)
    v2 = g.add_vertex(4.7525310516357420, 50.97851368626033)
    g.add_edge(v1, v2)
    assert g.assign_faces()[0] == 1
    assert g.face_left[0] == UNASSIGNABLE
    assert g.face_right[0] == UNASSIGNABLE


def test_right_turn_loop_forward():
    # reference Faces_RightTurnLoop_3EdgeLoop_Forward_ShouldReturnClockwiseLoop
    g, (v1, v2, v3), (e1, e2, e3) = triangle()
    loop, missing = g.right_turn_loop(e1, True)
    assert not missing
    assert loop == [(v1, e1, True, v2), (v2, e2, True, v3), (v3, e3, True, v1)]


def test_right_turn_loop_backward():
    # reference Faces_RightTurnLoop_3EdgeLoop_Backward_ShouldReturnCounterClockwiseLoop
    g, (v1, v2, v3), (e1, e2, e3) = triangle()
    loop, missing = g.right_turn_loop(e1, False)
    assert not missing
    assert loop == [(v2, e1, False, v1), (v1, e3, False, v3), (v3, e2, False, v2)]


def test_triangle_assigns_interior_and_exterior():
    # reference Faces_AssignFaces_OneLoop1_ShouldAssign2 (+ sentinel = 3)
    g, _, (e1, e2, e3) = triangle()
    n, n_missing = g.assign_faces()
    assert n == 3 and n_missing == 0
    # each edge has both sides assigned, and the two non-sentinel faces each
    # cover all three edges (interior + exterior)
    sides = [g.face_left[e] for e in (e1, e2, e3)] + [g.face_right[e] for e in (e1, e2, e3)]
    assert None not in sides
    faces = set(sides)
    assert UNASSIGNABLE not in faces
    assert len(faces) == 2


def test_triangle_ring_is_closed_and_clockwise():
    g, _, _ = triangle()
    g.assign_faces()
    rings = [g.face_ring(f) for f in range(1, g.n_faces)]
    rings = [r for r in rings if r is not None]
    assert len(rings) == 2
    for r in rings:
        assert len(r) == 4  # 3 vertices + closing vertex
        assert r[0] == r[-1]


def test_shape_points_in_ring():
    # an edge with intermediate shape points must contribute them in order
    g = TileGraph()
    v1 = g.add_vertex(0.0, 0.0)
    v2 = g.add_vertex(1.0, 0.0)
    v3 = g.add_vertex(0.5, 1.0)
    g.add_edge(v1, v2, shape=[(0.4, -0.1), (0.6, -0.1)])
    g.add_edge(v2, v3)
    g.add_edge(v3, v1)
    g.assign_faces()
    rings = [g.face_ring(f) for f in range(1, g.n_faces)]
    rings = [r for r in rings if r]
    assert any(len(r) == 6 for r in rings)  # 3 verts + 2 shape + close


def test_dangling_spur_gets_sentinel():
    g, (v1, v2, v3), _ = triangle()
    v4 = g.add_vertex(4.7950, 51.2700)
    spur = g.add_edge(v1, v4)
    g.assign_faces()
    # walks that run into the dead end are unassignable
    assert g.face_left[spur] == UNASSIGNABLE or g.face_right[spur] == UNASSIGNABLE


def test_faces_kernel_pandas():
    pdf = pd.DataFrame({
        "anchor_cell": [89546969] * 3,
        "v1_lon": [V1[0], V2[0], V3[0]],
        "v1_lat": [V1[1], V2[1], V3[1]],
        "v2_lon": [V2[0], V3[0], V1[0]],
        "v2_lat": [V2[1], V3[1], V1[1]],
        "shape_pts": [None, None, None],
        "in_anchor": [True, True, True],
    })
    out = faces_kernel(pdf)
    assert len(out) == 2
    assert out["face_guid"].nunique() == 2
    assert (out["n_edges"] == 3).all()
    # deterministic: re-run gives identical guids
    out2 = faces_kernel(pdf)
    assert sorted(out["face_guid"]) == sorted(out2["face_guid"])
    # the edges' row order does not rotate a ring: each starts at its
    # top-left vertex
    rot = faces_kernel(pdf.iloc[[1, 2, 0]].reset_index(drop=True))
    assert sorted(rot["ring"]) == sorted(out["ring"])
    assert all(r.startswith("%.9f %.9f" % V2) for r in out["ring"])


def test_faces_kernel_partition_invariance():
    """The same triangle seen from two different anchor cells must produce
    identical face GUIDs (the cross-tile dedup invariant, reference
    TiledPolygonGraphBuilder.cs:33-45)."""
    base = {
        "v1_lon": [V1[0], V2[0], V3[0]],
        "v1_lat": [V1[1], V2[1], V3[1]],
        "v2_lon": [V2[0], V3[0], V1[0]],
        "v2_lat": [V2[1], V3[1], V1[1]],
        "shape_pts": [None, None, None],
        "in_anchor": [True, True, True],
    }
    a = faces_kernel(pd.DataFrame({"anchor_cell": [89546969] * 3, **base}))
    b = faces_kernel(pd.DataFrame({"anchor_cell": [89546970] * 3, **base}))
    assert sorted(a["face_guid"]) == sorted(b["face_guid"])


def test_equal_angle_candidates_collapse_last_writer_wins():
    """SURVEY hard part: the reference's angular sort is a
    SortedDictionary keyed by double — candidates at EXACTLY equal angles
    collapse by indexer assignment (last writer wins).  Two collinear
    outgoing edges have identical angles from any back point; the one
    added LAST must win, and swapping insertion order flips the winner."""
    def build(order):
        g = TileGraph()
        b = g.add_vertex(4.70, 51.20)          # back point (west)
        h = g.add_vertex(4.71, 51.20)          # head
        p1 = g.add_vertex(4.72, 51.20)         # east, nearer
        p2 = g.add_vertex(4.73, 51.20)         # east, farther (collinear)
        e_in = g.add_edge(b, h)
        outs = []
        for p in order:
            outs.append(g.add_edge(h, p1 if p == 1 else p2))
        return g, e_in, outs

    g, e_in, outs = build([1, 2])
    ne, nf, _, _ = g.next_right(e_in, True)
    assert ne == outs[-1]                      # last-added collinear edge

    g, e_in, outs = build([2, 1])
    ne, nf, _, _ = g.next_right(e_in, True)
    assert ne == outs[-1]
