"""Geometry kernel truth tables (PIP boundary cases, leaf-table
invariants, curve predicates) — mirrors the reference's predicate
semantics (AdminCountPerCountryAnalyzer.cs:664-674 containment,
BrokenCoastlineAnalyzer.cs:93-217 curve checks)."""

from types import SimpleNamespace

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from osmnightwatch_spark.functions import cells as C
from osmnightwatch_spark.functions import geometry as G
from osmnightwatch_spark.operators.pip_join import (_EDGE_COLS, BOUNDARY, FULL,
                                                  PreparedPolygons)

SQUARE = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], float)
HOLE = np.array([[4, 4], [6, 4], [6, 6], [4, 6], [4, 4]], float)


def test_pip_truth_table():
    wkb = G.rings_to_wkb([SQUARE, HOLE])
    cases = [
        ((5, 1), True),        # interior
        ((5, 5), False),       # inside hole
        ((-1, 5), False),      # outside
        ((0, 5), True),        # on left edge (boundary counts inside)
        ((10, 10), True),      # on corner vertex
        ((4, 5), True),        # on hole edge — boundary counts inside
        ((4.5, 4.5), False),   # strictly inside hole
        ((5, 0), True),        # on bottom edge
        ((5, 10), True),       # on top edge
    ]
    for (x, y), expected in cases:
        assert bool(G.point_in_wkb(x, y, wkb)[0]) == expected, (x, y)


def test_pip_nonconvex():
    l_shape = G.rings_to_wkb([np.array(
        [[0, 0], [10, 0], [10, 5], [5, 5], [5, 10], [0, 10], [0, 0]], float)])
    assert bool(G.point_in_wkb(2, 8, l_shape)[0])       # in the vertical arm
    assert not bool(G.point_in_wkb(8, 8, l_shape)[0])   # in the notch
    assert bool(G.point_in_wkb(8, 2, l_shape)[0])       # in the horizontal arm


def test_wkb_roundtrip_multipolygon():
    wkb = G.polygons_to_wkb([[SQUARE, HOLE], [SQUARE + 20]])
    polys = G.wkb_to_polygons(wkb)
    assert len(polys) == 2 and len(polys[0]) == 2 and len(polys[1]) == 1
    np.testing.assert_array_equal(polys[0][0], SQUARE)
    np.testing.assert_array_equal(polys[1][0], SQUARE + 20)


def _leaf(polys, res):
    return PreparedPolygons.build([(1, G.polygons_to_wkb(polys))], res=res).leaf


def test_covering_partition_invariants():
    polys = [[SQUARE, HOLE]]
    leaf = _leaf(polys, 9)
    # one row per leaf cell, every cell at the leaf res
    assert not leaf.cell.duplicated().any()
    assert ((leaf.cell.to_numpy() >> 58) == 9).all()
    soup = G.EdgeSoup(polys)
    full = leaf.cell.to_numpy()[leaf.kind == FULL]
    lon0, lat0, lon1, lat1 = C.cell_bounds(full)
    # all four corners of a FULL cell are inside
    for cx, cy in [(lon0, lat0), (lon0, lat1), (lon1, lat0), (lon1, lat1)]:
        assert G.points_in_edgesoup(cx, cy, soup).all()
    # a BOUNDARY cell carries its ray-cast edges, a FULL cell none
    n = leaf._bx1.map(len).to_numpy()
    assert (n[leaf.kind == BOUNDARY] > 0).all() and (n[leaf.kind == FULL] == 0).all()


@given(st.lists(st.tuples(
    st.floats(min_value=-9.9, max_value=19.9, allow_nan=False),
    st.floats(min_value=-9.9, max_value=19.9, allow_nan=False),
), min_size=30, max_size=30))
@settings(max_examples=20, deadline=None)
def test_covering_matches_raycast(points):
    """leaf-table containment == plain ray cast for any point (the
    engine's FULL-cell shortcut and per-cell edges must never
    disagree)."""
    polys = [[SQUARE, HOLE]]
    soup = G.EdgeSoup(polys)
    leaf = _leaf(polys, 8).set_index("cell")
    px = np.array([p[0] for p in points])
    py = np.array([p[1] for p in points])
    truth = G.points_in_edgesoup(px, py, soup)
    # emulate the join: a FULL row is inside, a BOUNDARY row ray-casts
    # the point over the row's own edges, a missing row is outside
    verdict = np.zeros(len(px), dtype=bool)
    for i, cell in enumerate(C.cell_of(px, py, 8)):
        if cell not in leaf.index:
            continue
        row = leaf.loc[cell]
        own = SimpleNamespace(**{k: np.asarray(row[c]) for k, c in zip(
            ("x1", "y1", "x2", "y2"), _EDGE_COLS)})
        verdict[i] = row.kind == FULL or G.points_in_edgesoup(px[i:i + 1], py[i:i + 1], own)[0]
    np.testing.assert_array_equal(verdict, truth)


def test_curve_predicates():
    assert G.ring_is_ccw(SQUARE)
    assert not G.ring_is_ccw(SQUARE[::-1])
    a = np.array([[0, 0], [4, 4]], float)
    assert G.segments_cross(a, np.array([[0, 4], [4, 0]], float))
    assert not G.segments_cross(a, np.array([[4, 4], [8, 0]], float))  # endpoint touch
    assert not G.segments_cross(a, np.array([[0, 1], [4, 5]], float))  # parallel
    zig = np.array([[0, 0], [4, 0], [4, 2], [2, -2]], float)
    assert G.polyline_self_intersects(zig)
    assert not G.polyline_self_intersects(SQUARE)  # closed ring is simple


def test_snap_precision_model():
    # reference snaps to 1e-7 (BuildPolygonFromRelation.cs:12-13)
    v = np.array([1.23456789012, -9.87654321098])
    s = G.snap(v)
    np.testing.assert_allclose(s, [1.2345679, -9.8765432], atol=1e-12)


def test_polygon_area_sign():
    assert G.polygon_area([SQUARE]) == pytest.approx(100.0)
    assert G.polygon_area([SQUARE, HOLE[::-1]]) == pytest.approx(96.0)
