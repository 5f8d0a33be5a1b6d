"""pip_join's per-cell refine vs the independent numpy ray cast
(``geometry.points_in_edgesoup`` over each polygon's whole edge soup).

The polygons are random stars with a hole. About 30% of their vertices
sit exactly on leaf grid-row boundaries and about 30% exactly on
leaf grid-column boundaries (some on cell corners), so edges start and
end on the lines the leaf cells clip them by. The points include every
vertex, every edge midpoint, points lying exactly on row and column
boundaries and on cell corners, and points at the height of every
vertex (where an east edge's stub starts) — the cases where a wrong
edge-to-cell assignment would show."""

import re
import tracemalloc
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

from osmnightwatch_spark.functions import geometry as G
from osmnightwatch_spark.functions import cells as C
from osmnightwatch_spark.operators.pip_join import (_EDGE_COLS, BOUNDARY, FULL,
                                                  PreparedPolygons, _cell_edges,
                                                  pip_join)
from osmnightwatch_spark.sources import polygons as P

RES = 7
ROW = 180.0 / (1 << RES)
COL = 360.0 / (1 << RES)


def _snap(xy, rng):
    for axis, lo, step in ((0, -180.0, COL), (1, -90.0, ROW)):
        snap = rng.random(len(xy)) < 0.3
        xy[snap, axis] = lo + np.round((xy[snap, axis] - lo) / step) * step
    return xy


def _star_polygons(rng, n=12):
    polys = []
    for pid in range(n):
        cx, cy = rng.uniform(-150, 150), rng.uniform(-60, 60)
        r = rng.uniform(5, 20)
        k = int(rng.integers(30, 201))
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        rad = rng.uniform(0.6 * r, r, k)
        shell = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
        h = np.linspace(2 * np.pi, 0, 9)[:-1]  # clockwise
        hole = np.column_stack([cx + 0.25 * r * np.cos(h), cy + 0.25 * r * np.sin(h)])
        rings = [np.vstack([ring, ring[:1]]) for ring in (_snap(shell, rng), _snap(hole, rng))]
        polys.append((1000 + pid, G.rings_to_wkb(rings)))
    return polys


def _probe_points(rng, polys):
    xs, ys = [rng.uniform(-180, 180, 6000)], [rng.uniform(-85, 85, 6000)]
    for _, wkb in polys:
        soup = G.EdgeSoup.from_wkb(wkb)
        x0, y0, x1, y1 = soup.bbox
        xs += [soup.x1, (soup.x1 + soup.x2) / 2, rng.uniform(x0, x1, 1000)]
        ys += [soup.y1, (soup.y1 + soup.y2) / 2, rng.uniform(y0, y1, 1000)]
        # exactly on the leaf rows and columns the polygon spans, and
        # on the cell corners where they meet
        rows = -90.0 + ROW * np.arange(np.floor((y0 + 90) / ROW),
                                       np.ceil((y1 + 90) / ROW) + 1)
        cols = -180.0 + COL * np.arange(np.floor((x0 + 180) / COL),
                                        np.ceil((x1 + 180) / COL) + 1)
        xs += [rng.uniform(x0, x1, len(rows) * 10), np.repeat(cols, 10)]
        ys += [np.repeat(rows, 10), rng.uniform(y0, y1, len(cols) * 10)]
        gx, gy = np.meshgrid(cols, rows)
        xs.append(gx.ravel())
        ys.append(gy.ravel())
        # at every vertex height, mostly west of the vertex
        xs.append(rng.uniform(x0, x1, len(soup.y1)))
        ys.append(soup.y1)
    lon, lat = np.concatenate(xs), np.concatenate(ys)
    return pd.DataFrame({"pt_id": np.arange(len(lon)), "lon": lon, "lat": lat})


def _numpy_pairs(pts, polys):
    out = set()
    for pid, wkb in polys:
        hit = G.points_in_edgesoup(pts.lon.to_numpy(), pts.lat.to_numpy(),
                                   G.EdgeSoup.from_wkb(wkb))
        out |= {(int(i), pid) for i in pts.pt_id.to_numpy()[hit]}
    return out


@pytest.fixture(scope="module")
def star_case():
    rng = np.random.default_rng(2024)
    polys = _star_polygons(rng)
    pts = _probe_points(rng, polys)
    return polys, pts, _numpy_pairs(pts, polys)


@pytest.fixture
def join_shape(spark, request):
    """``broadcast`` runs under the session's broadcast threshold;
    ``shuffle`` sets it to -1 for the test, so pip_join shuffles both
    sides of its leaf join."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    if request.param == "shuffle":
        spark.conf.set(key, "-1")
    yield request.param
    spark.conf.set(key, prev)


@pytest.mark.parametrize("join_shape", ["broadcast", "shuffle"], indirect=True)
def test_band_refine_matches_numpy_ray_cast(spark, star_case, join_shape):
    polys, pts, exp = star_case
    prep = PreparedPolygons.build(polys, res=RES)
    q = pip_join(spark.createDataFrame(pts), prep)
    got = q.select("pt_id", "polygon_id").toPandas()
    assert not got.duplicated().any()
    assert set(map(tuple, got.to_numpy().tolist())) == exp
    assert len(exp) > 1000
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert ("BroadcastHashJoin" in plan) == (join_shape == "broadcast")


def test_boundary_leaf_rows_carry_edges(star_case):
    """Every BOUNDARY leaf row holds at least one edge (the ray cast
    runs ``sequence(0, size - 1)``, and ``sequence(0, -1)`` is ``[0,
    -1]``), FULL rows hold none, and ``(polygon_id, cell)`` is
    unique."""
    leaf = PreparedPolygons.build(star_case[0], res=RES).leaf
    n = leaf["_bx1"].map(len)
    assert (n[leaf.kind == BOUNDARY] >= 1).all()
    assert (n[leaf.kind == FULL] == 0).all()
    assert (leaf[list(_EDGE_COLS)].map(len).to_numpy() == n.to_numpy()[:, None]).all()
    assert not leaf.duplicated(["polygon_id", "cell"]).any()


# the corner of leaf cell (70, 70), and the first vertex of a
# 1.4e-5°-long edge whose midpoint lies 1e-8° west of that corner
X0, Y0 = -180.0 + 70 * COL, -90.0 + 70 * ROW
A = (X0 - 1e-8 - 1e-5, Y0 + 1e-5)


def _assert_corner_hits(spark, ring, lons):
    """The numpy ray cast holds the points ``(lons[0], Y0)`` and
    ``(lons[1], Y0)`` of ``ring``, and only those; pip_join agrees."""
    polys = [(7, G.rings_to_wkb([np.array(ring)]))]
    pts = pd.DataFrame({"pt_id": np.arange(len(lons)), "lon": lons, "lat": Y0})
    assert _numpy_pairs(pts, polys) == {(0, 7), (1, 7)}
    got = pip_join(spark.createDataFrame(pts), PreparedPolygons.build(polys, res=RES))
    assert set(map(tuple, got.select("pt_id", "polygon_id").toPandas()
                   .to_numpy().tolist())) == {(0, 7), (1, 7)}


@pytest.mark.parametrize("join_shape", ["broadcast", "shuffle"], indirect=True)
def test_short_edge_near_cell_corner(spark, join_shape):
    """A short edge whose part inside a cell's row lies west of the
    cell can still hold the cell's corner within the kernel's on-edge
    tolerance (|cross| ≤ 1e-12 is ~1e-7° for a 1e-5° edge). The corner
    point is outside by parity and inside by the ray cast, so the cell
    must keep that edge."""
    _assert_corner_hits(spark, [A, (X0 - 1e-8 + 1e-5, Y0 - 1e-5),
                                (X0 - COL / 2, Y0 - ROW / 2), (X0 - COL / 2, Y0 + 0.6 * ROW),
                                (X0 + COL / 2, Y0 + 0.6 * ROW), (X0 + COL / 2, Y0 + ROW / 2), A],
                        [X0, X0 + 3e-9, X0 + 1e-3])


@pytest.mark.parametrize("join_shape", ["broadcast", "shuffle"], indirect=True)
def test_corner_cell_held_only_within_tolerance(spark, join_shape):
    """The same short edge as a thin triangle's: it holds the corner,
    and a point 3e-9° east of it, only within the kernel's on-edge
    tolerance, so the corner's cell meets no edge exactly, yet it must
    be a BOUNDARY row."""
    _assert_corner_hits(spark, [A, (X0 - 1e-8 + 1e-5, Y0 - 1e-5), (X0 - 1e-3, Y0), A],
                        [X0, X0 + 3e-9])


@pytest.mark.parametrize("join_shape", ["broadcast", "shuffle"], indirect=True)
def test_pip_join_empty_polygon_set(spark, join_shape):
    pts = spark.createDataFrame(pd.DataFrame(
        {"pt_id": [1, 2], "lon": [0.0, -150.0], "lat": [0.0, 60.0]}))
    prep = PreparedPolygons.build([], res=RES)
    assert pip_join(pts, prep).count() == 0


@pytest.mark.parametrize("case", ["flagship_rects", "snapped_stars"])
def test_leaf_table_matches_interior_grid(star_case, case):
    """Of the cells in and around each polygon's bounding box, the leaf
    table keeps exactly those ``_cell_edges`` keeps, with its kinds, so
    the row scan's candidates miss no near cell. On a 7 × 7 grid of
    each cell's interior points, ``points_in_edgesoup`` puts all points
    of a FULL row inside and all points of a dropped cell outside; a
    BOUNDARY row's ray cast over its own edges agrees with it on every
    point. Every row sits at the leaf res and ``(polygon_id, cell)`` is
    unique."""
    polys = P.valid_polygon_list(rect_only=True) if case == "flagship_rects" else star_case[0]
    leaf = PreparedPolygons.build(polys, res=RES).leaf
    assert list(leaf.columns) == ["polygon_id", "cell", "kind", *_EDGE_COLS]
    assert not leaf.duplicated(["polygon_id", "cell"]).any()
    assert ((leaf.cell.to_numpy() >> 58) == RES).all()
    f = (np.arange(7) + 0.5) / 7
    fx, fy = (a.ravel() for a in np.meshgrid(f, f))
    for pid, wkb in polys:
        soup = G.EdgeSoup.from_wkb(wkb)
        rows = leaf[leaf.polygon_id == pid].set_index("cell")
        # the bounding box's cells and a ring of one more around them
        (gx0, gx1), (gy0, gy1) = C.grid_xy(np.array(soup.bbox[0::2]),
                                           np.array(soup.bbox[1::2]), RES)
        gx, gy = np.meshgrid(np.arange(max(gx0 - 1, 0), min(gx1 + 2, 1 << RES)),
                             np.arange(max(gy0 - 1, 0), min(gy1 + 2, 1 << RES)))
        cells = C.cell_from_xy(gx.ravel(), gy.ravel(), RES)
        # every kept cell, and only those, as _cell_edges classifies it
        kind = _cell_edges(soup, cells, RES)[0]
        assert dict(zip(rows.index, rows.kind)) == {c: k for c, k in zip(cells, kind) if k >= 0}
        x0, y0, x1, y1 = (v[:, None] for v in C.cell_bounds(cells))
        px, py = x0 + fx * (x1 - x0), y0 + fy * (y1 - y0)
        inside = G.points_in_edgesoup(px.ravel(), py.ravel(), soup).reshape(px.shape)
        for cell, ins, cx, cy in zip(cells, inside, px, py):
            if cell not in rows.index:
                assert not ins.any()
            elif rows.kind[cell] == FULL:
                assert ins.all()
            else:
                own = SimpleNamespace(**{k: np.asarray(rows[c][cell]) for k, c in zip(
                    ("x1", "y1", "x2", "y2"), _EDGE_COLS)})
                assert (G.points_in_edgesoup(cx, cy, own) == ins).all()


def test_leaf_table_guard_raises_before_expanding():
    """A world rectangle at res 13 is one FULL cell at res 0: 4^13 leaf
    cells. build refuses it, naming a coarser res, without allocating
    the expansion (~512 MB of cell ids)."""
    world = [(1, P.rect_wkb(-180.0, -90.0, 180.0, 90.0))]
    tracemalloc.start()
    try:
        with pytest.raises(ValueError, match="coarser res"):
            PreparedPolygons.build(world, res=13)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 64 << 20


@pytest.mark.parametrize("join_shape", ["broadcast", "shuffle"], indirect=True)
def test_pip_join_is_one_pass(spark, tmp_path, join_shape):
    """One scan of the point side and one join on the leaf cell: no
    branch union, no ancestor-chain ``Generate`` and no second join.
    Broadcast: the leaf table is the plan's one broadcast. Shuffle
    (AQE off for a stable plan): both sides shuffle once, on ``_cell``
    only. The point columns come through in order, a dotted name
    included."""
    rng = np.random.default_rng(3)
    spark.createDataFrame(pd.DataFrame({
        "pt_id": np.arange(2000), "lon": rng.uniform(-180, 180, 2000),
        "lat": rng.uniform(-85, 85, 2000), "src.tag": "x",
    })).write.parquet(str(tmp_path / "pts"))
    pts = spark.read.parquet(str(tmp_path / "pts"))
    prep = PreparedPolygons.build(P.valid_polygon_list(rect_only=True), res=RES)
    q = pip_join(pts, prep)
    assert q.columns == pts.columns + ["polygon_id"]
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = q._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert plan.count("FileScan") == 1
    assert "Union" not in plan and "Generate" not in plan
    if join_shape == "broadcast":
        assert plan.count("BroadcastExchange") == 1
        assert len(re.findall(r"BroadcastHashJoin \[_cell#\d+L\], \[_cell#\d+L\]",
                              plan)) == plan.count("BroadcastHashJoin") == 1
    else:
        assert "BroadcastHashJoin" not in plan
        keys = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
        assert len(keys) == 2, plan
        assert all(re.fullmatch(r"_cell#\d+L, \d+", k) for k in keys), keys
        assert "polygon_id" not in " ".join(keys)
