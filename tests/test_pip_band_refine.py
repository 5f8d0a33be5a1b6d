"""pip_join's native band-index refine vs the independent numpy ray cast
(``geometry.points_in_edgesoup`` over each polygon's whole edge soup).

The polygons are random stars with a hole, and about 30% of their
vertices sit exactly on leaf grid-row boundaries, so edges start and
end on the rows the band index splits them by. The points include
every vertex, every edge midpoint and points lying exactly on row
boundaries — the cases where a wrong band assignment would show."""

import tracemalloc

import numpy as np
import pandas as pd
import pytest

from osmnightwatch_spark.functions import geometry as G
from osmnightwatch_spark.operators.pip_join import PreparedPolygons, pip_join
from osmnightwatch_spark.sources import polygons as P

RES = 7
ROW = 180.0 / (1 << RES)


def _snap(xy, rng):
    snap = rng.random(len(xy)) < 0.3
    xy[snap, 1] = -90.0 + np.round((xy[snap, 1] + 90.0) / ROW) * ROW
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
        # exactly on the leaf rows the polygon spans
        rows = np.arange(np.floor((y0 + 90) / ROW), np.ceil((y1 + 90) / ROW) + 1)
        xs.append(rng.uniform(x0, x1, len(rows) * 10))
        ys.append(np.repeat(-90.0 + rows * ROW, 10))
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
    ``shuffle`` sets it to -1 for the test, so pip_join shuffles its
    covering and band index."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    if request.param == "shuffle":
        spark.conf.set(key, "-1")
    yield request.param
    spark.conf.set(key, prev)


@pytest.mark.parametrize("max_cells", [4096, 256])
@pytest.mark.parametrize("join_shape", ["broadcast", "shuffle"], indirect=True)
def test_band_refine_matches_numpy_ray_cast(spark, star_case, join_shape, max_cells):
    """``max_cells=256`` caps the covering, so BOUNDARY cells sit above
    the leaf resolution while the band rows stay at it."""
    polys, pts, exp = star_case
    prep = PreparedPolygons.build(polys, res=RES, max_cells=max_cells)
    q = pip_join(spark.createDataFrame(pts), prep)
    got = q.select("pt_id", "polygon_id").toPandas()
    assert not got.duplicated().any()
    assert set(map(tuple, got.to_numpy().tolist())) == exp
    assert len(exp) > 1000
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert ("BroadcastHashJoin" in plan) == (join_shape == "broadcast")


def test_band_index_has_no_empty_band(star_case):
    polys, _, _ = star_case
    bands = PreparedPolygons.build(polys, res=RES).bands
    assert bands["_bx1"].map(len).min() >= 1
    assert not bands.duplicated(["polygon_id", "_band"]).any()


@pytest.mark.parametrize("join_shape", ["broadcast", "shuffle"], indirect=True)
def test_pip_join_empty_polygon_set(spark, join_shape):
    pts = spark.createDataFrame(pd.DataFrame(
        {"pt_id": [1, 2], "lon": [0.0, -150.0], "lat": [0.0, 60.0]}))
    prep = PreparedPolygons.build([], res=RES)
    assert pip_join(pts, prep).count() == 0


def _descendants(cell, res):
    """``cell``'s descendants at ``res`` by repeated ``children``
    (``cells`` module spec: ``((r+1) << 58) | (morton << 2) | q``)."""
    lv = cell >> 58
    if lv == res:
        return [cell]
    morton = cell & ((1 << 58) - 1)
    return [d for q in range(4)
            for d in _descendants(((lv + 1) << 58) | (morton << 2) | q, res)]


@pytest.mark.parametrize("case", ["flagship_rects", "capped_stars"])
def test_leaf_table_expands_covering(star_case, case):
    """``leaf`` is the covering with every coarse cell replaced by its
    leaf-resolution descendants, kind carried; ``capped_stars`` has
    BOUNDARY cells above the leaf resolution."""
    if case == "flagship_rects":
        prep = PreparedPolygons.build(P.valid_polygon_list(rect_only=True), res=RES)
    else:
        prep = PreparedPolygons.build(star_case[0], res=RES, max_cells=256)
        bnd = prep.covering[prep.covering.kind == G.BOUNDARY].cell.to_numpy()
        assert (bnd >> 58).min() < RES
    want = [(int(pid), d, int(kind))
            for pid, cell, kind in prep.covering.itertuples(index=False)
            for d in _descendants(int(cell), RES)]
    leaf = prep.leaf
    assert list(leaf.columns) == ["polygon_id", "cell", "kind"]
    assert list(map(tuple, leaf.to_numpy().tolist())) == want
    assert not leaf.duplicated(["polygon_id", "cell"]).any()
    assert ((leaf.cell.to_numpy() >> 58) == RES).all()


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
    """One scan of the point side, one leaf-table probe per point: no
    branch union and no ancestor-chain ``Generate``. Broadcast: the
    leaf table and band index are the plan's two broadcasts. The point
    columns come through in order, a dotted name included."""
    rng = np.random.default_rng(3)
    spark.createDataFrame(pd.DataFrame({
        "pt_id": np.arange(2000), "lon": rng.uniform(-180, 180, 2000),
        "lat": rng.uniform(-85, 85, 2000), "src.tag": "x",
    })).write.parquet(str(tmp_path / "pts"))
    pts = spark.read.parquet(str(tmp_path / "pts"))
    prep = PreparedPolygons.build(P.valid_polygon_list(rect_only=True), res=RES)
    q = pip_join(pts, prep)
    assert q.columns == pts.columns + ["polygon_id"]
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1
    assert "Union" not in plan and "Generate" not in plan
    if join_shape == "broadcast":
        assert plan.count("BroadcastExchange") == 2
    else:
        assert "BroadcastHashJoin" not in plan
