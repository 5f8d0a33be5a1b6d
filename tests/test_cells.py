"""Cell-encoding spec: numpy, Spark SQL-text and DuckDB SQL, one behavior."""

import duckdb
import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from osmnightwatch_spark.functions import cells as C


def test_roundtrip_decode():
    rng = np.random.default_rng(0)
    lon = rng.uniform(-180, 180, 2000)
    lat = rng.uniform(-90, 90, 2000)
    for res in (0, 1, 7, 15, 28):
        cell = C.cell_of(lon, lat, res)
        r, x, y = C.decode_cell(cell)
        assert (r == res).all()
        ex, ey = C.grid_xy(lon, lat, res)
        assert (x == ex).all() and (y == ey).all()


def test_parent_child_closure():
    rng = np.random.default_rng(1)
    lon = rng.uniform(-180, 180, 500)
    lat = rng.uniform(-90, 90, 500)
    cell = C.cell_of(lon, lat, 10)
    parent = C.parent_cell(cell)
    # every cell is among its parent's children
    kids = C.children_cells(parent)
    assert (kids == cell[:, None]).any(axis=1).all()
    # parent of a point's cell == the point's cell at the coarser res
    assert (parent == C.cell_of(lon, lat, 9)).all()


def test_ring_neighbors_wrap_and_clamp():
    # antimeridian wrap: cell at lon=-179.9 has a neighbor at lon=179.9
    c_west = C.cell_of([-179.9], [0.0], 5)
    c_east = C.cell_of([179.9], [0.0], 5)
    ring = C.ring_neighbors(c_west, 1)
    assert c_east[0] in ring[0]
    # pole clamp: no out-of-range y, possibly duplicated ids
    c_pole = C.cell_of([0.0], [89.9], 5)
    ringp = C.ring_neighbors(c_pole, 1)
    _, _, y = C.decode_cell(ringp[0])
    assert (y <= (1 << 5) - 1).all()


def test_bounds_contain_point():
    rng = np.random.default_rng(2)
    lon = rng.uniform(-180, 180, 300)
    lat = rng.uniform(-90, 90, 300)
    cell = C.cell_of(lon, lat, 9)
    lon0, lat0, lon1, lat1 = C.cell_bounds(cell)
    assert (lon >= lon0).all() and (lon <= lon1).all()
    assert (lat >= lat0).all() and (lat <= lat1).all()


@given(
    st.floats(min_value=-180, max_value=180, allow_nan=False),
    st.floats(min_value=-90, max_value=90, allow_nan=False),
    st.integers(min_value=1, max_value=28),
)
@settings(max_examples=200, deadline=None)
def test_hierarchy_property(lon, lat, res):
    """inside(p, cell at r) implies inside(p, parent at r-1)."""
    fine = C.cell_of([lon], [lat], res)
    coarse = C.cell_of([lon], [lat], res - 1)
    assert C.parent_cell(fine)[0] == coarse[0]


def test_spark_and_sql_parity(spark):
    from pyspark.sql import functions as F

    rng = np.random.default_rng(3)
    pdf = pd.DataFrame({
        "lon": rng.uniform(-180, 180, 1500),
        "lat": rng.uniform(-90, 90, 1500),
    })
    # include exact edges
    edges = pd.DataFrame({
        "lon": [-180.0, 180.0, 0.0, 179.999999999],
        "lat": [-90.0, 90.0, 0.0, -89.999999999],
    })
    pdf = pd.concat([pdf, edges], ignore_index=True)
    df = spark.createDataFrame(pdf)
    con = duckdb.connect()
    con.register("pts", pdf)
    for res in (4, 11, 28):
        got_spark = np.sort(
            C.attach_cell(df, res).select("cell").toPandas()["cell"].to_numpy()
        )
        got_sql = np.sort(
            con.execute(
                f"SELECT {C.cell_sql('lon', 'lat', res)} c FROM pts"
            ).fetchnumpy()["c"]
        )
        exp = np.sort(C.cell_of(pdf.lon.to_numpy(), pdf.lat.to_numpy(), res))
        assert (got_spark == exp).all()
        assert (got_sql == exp).all()
    # parent_spark_sql parity
    df2 = C.attach_cell(df, 12)
    got = df2.select(
        F.expr(C.parent_spark_sql("`cell`", 5)).alias("p")).toPandas()["p"]
    exp = C.parent_cell(C.cell_of(pdf.lon.to_numpy(), pdf.lat.to_numpy(), 12), 5)
    assert (np.sort(got.to_numpy()) == np.sort(exp)).all()


def test_res_validation():
    with pytest.raises(ValueError):
        C.cell_of([0.0], [0.0], 29)
    with pytest.raises(ValueError):
        C.cell_sql("lon", "lat", -1)


def test_ring_cells_col_matches_numpy(spark, tmp_path):
    """The native ring-r array equals ring_neighbors(k=r) element for
    element — antimeridian wrap, pole clamp, exact cell edges, and at
    the small res values r >= grid/2, where the longitude wrap folds
    the ring onto itself. The input is read from parquet so the staged
    projections run as generated code (over a local pandas relation
    Catalyst folds them into the relation instead)."""
    from pyspark.sql import functions as F

    rng = np.random.default_rng(9)
    specials = np.array([-180.0, -179.99, 0.0, 179.99, 180.0])
    lon = [rng.uniform(-180, 180, 300), np.repeat(specials, 5)]
    lat = [rng.uniform(-90, 90, 300), np.tile(specials / 2, 5)]
    for res in (2, 3, 6, 10):  # points exactly on cell edges
        n = 1 << res
        lon.append(-180.0 + rng.integers(0, n + 1, 20) * (360.0 / n))
        lat.append(-90.0 + rng.integers(0, n + 1, 20) * (180.0 / n))
    lon, lat = np.concatenate(lon), np.concatenate(lat)
    assert len(lon) == 405
    path = str(tmp_path / "pts")
    spark.createDataFrame(pd.DataFrame(
        {"i": np.arange(len(lon)), "lon": lon, "lat": lat})
    ).write.parquet(path)
    rs = (1, 2, 3, 8)
    for res in (2, 3, 6, 10):
        df = spark.read.parquet(path)
        for r in rs:
            df = C.ring_cells_col(df, res, r, out=f"ring{r}")
        got = df.select("i", *[f"ring{r}" for r in rs]).toPandas()
        got = got.sort_values("i").reset_index(drop=True)
        cells = C.cell_of(lon, lat, res)
        for r in rs:
            exp = C.ring_neighbors(cells, r)
            np.testing.assert_array_equal(
                np.stack(got[f"ring{r}"].to_numpy()), exp, err_msg=f"{res} {r}")
        if res == 6:
            # staged interleaves survive as their own projection: each
            # ring cell ORs column refs, not inlined interleave chains
            plan = (C.ring_cells_col(spark.read.parquet(path), res, 1)
                    ._jdf.queryExecution().executedPlan().toString())
            assert "__r1ix0_ring" in plan and "__r1iy2_ring" in plan
    assert not [c for c in C.ring_cells_col(spark.read.parquet(path), 3, 2)
                .columns if c.startswith("__")]
    with pytest.raises(ValueError):
        C.ring_cells_col(spark.read.parquet(path), 3, -1)


def test_box_cells_matches_numpy(spark, tmp_path):
    """box_cells emits exactly the grid_xy range enumeration of each
    box — corners past ±180 / ±90 (clamped), corners exactly on cell
    edges, zero-size boxes — and leaks no staging column."""
    from pyspark.sql import functions as F

    rng = np.random.default_rng(21)
    res = 5
    n = 1 << res
    lon0 = rng.uniform(-200, 200, 120)
    lat0 = rng.uniform(-100, 100, 120)
    w, h = rng.uniform(0, 40, 120), rng.uniform(0, 20, 120)
    # corners on cell edges (including the grid's own ±180 / ±90 edges)
    edge_x = -180.0 + rng.integers(0, n + 1, 40) * (360.0 / n)
    edge_y = -90.0 + rng.integers(0, n + 1, 40) * (180.0 / n)
    x0 = np.concatenate([lon0, edge_x, [-180.0, 180.0, 12.5, -250.0]])
    y0 = np.concatenate([lat0, edge_y, [-90.0, 90.0, -3.0, -95.0]])
    x1 = np.concatenate([lon0 + w, edge_x + (360.0 / n) * rng.integers(0, 3, 40),
                         [-180.0, 180.0, 12.5, 250.0]])
    y1 = np.concatenate([lat0 + h, edge_y + (180.0 / n) * rng.integers(0, 3, 40),
                         [-90.0, 90.0, -3.0, 95.0]])
    x1[100:110], y1[100:110] = x0[100:110], y0[100:110]  # zero-size boxes
    path = str(tmp_path / "boxes")
    spark.createDataFrame(pd.DataFrame(
        {"i": np.arange(len(x0)), "x0": x0, "y0": y0, "x1": x1, "y1": y1})
    ).write.parquet(path)
    df = spark.read.parquet(path)
    out = C.box_cells(df, res, F.col("x0"), F.col("y0"), F.col("x1"), F.col("y1"))
    assert out.columns == df.columns + ["_gx", "_gy"]
    got = sorted(map(tuple, out.select("i", "_gx", "_gy").toPandas().to_numpy()))
    gx0, gy0 = C.grid_xy(x0, y0, res)
    gx1, gy1 = C.grid_xy(x1, y1, res)
    want = sorted((i, gx, gy) for i in range(len(x0))
                  for gx in range(gx0[i], gx1[i] + 1)
                  for gy in range(gy0[i], gy1[i] + 1))
    assert got == want
    assert len(want) > len(x0)


# --- compact_cells ----------------------------------------------------------

def _expand_to(cell_ids, res):
    """Expand mixed-res cells back down to ``res`` via children_cells."""
    import numpy as np

    from osmnightwatch_spark.functions import cells as C

    out = []
    for c in np.asarray(cell_ids, dtype=np.int64):
        cur = np.array([c])
        while int(cur[0]) >> 58 < res:
            cur = C.children_cells(cur).reshape(-1)
        out.extend(cur.tolist())
    return sorted(out)


def test_compact_full_world_collapses_to_root(spark):
    import itertools

    import numpy as np

    from osmnightwatch_spark.functions import cells as C
    from osmnightwatch_spark.operators.tiling import compact_cells

    xs, ys = zip(*itertools.product(range(4), range(4)))
    full = C.cell_from_xy(np.array(xs), np.array(ys), 2).tolist()
    df = spark.createDataFrame([(c,) for c in full], "cell long")
    out = compact_cells(df, min_res=0, max_res=2).collect()
    assert len(out) == 1 and out[0].res == 0


def test_compact_preserves_extent_and_is_duplicate_tolerant(spark):
    import numpy as np

    from osmnightwatch_spark.functions import cells as C
    from osmnightwatch_spark.operators.tiling import compact_cells

    rng = np.random.default_rng(7)
    n = 1 << 4
    pick = rng.random((n, n)) < 0.7
    xs, ys = np.nonzero(pick)
    cells = C.cell_from_xy(xs, ys, 4).tolist()
    df = spark.createDataFrame([(c,) for c in cells + cells[:50]], "cell long")
    rows = compact_cells(df, min_res=1, max_res=4).collect()
    assert _expand_to([r.cell for r in rows], 4) == sorted(cells)
    # minimality: no surviving parent has all 4 children in the output
    ids = {r.cell for r in rows}
    from collections import Counter

    sibs = Counter(int(C.parent_cell(np.array([c]))[0]) for c in ids)
    assert all(v < 4 for v in sibs.values())
