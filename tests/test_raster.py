"""Raster tile rendering: density pixel grid semantics + the
engine-codec render stage (round-trip, normalization, determinism)."""
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from osmnightwatch_spark.functions import cells as C
from osmnightwatch_spark.functions import codecs as K
from osmnightwatch_spark.operators.raster import (density_grid,
                                                  render_density_tiles)


def _pts(seed, n):
    rng = np.random.default_rng(seed)
    return pd.DataFrame({"lon": rng.uniform(-180, 180, n),
                         "lat": rng.uniform(-90, 90, n)})


def test_density_grid_matches_fine_cells(spark):
    """(cell, px, py) of every count row must reconstruct the res+depth
    cell the points actually land in (numpy brute)."""
    pdf = _pts(3, 4000)
    out = density_grid(spark.createDataFrame(pdf), res=3, depth=4).collect()
    # brute: fine-cell counts via the numpy kernel
    fine = C.cell_of(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), 7)
    want = pd.Series(fine).value_counts().to_dict()
    got = {}
    for r in out:
        _, cx, cy = C.decode_cell(np.array([r.cell]))
        fx = (int(cx[0]) << 4) | r.px
        fy = (int(cy[0]) << 4) | r.py
        fc = int(C.cell_from_xy(np.array([fx]), np.array([fy]), 7)[0])
        assert fc not in got
        got[fc] = r.n
    assert got == {int(k): int(v) for k, v in want.items()}
    assert sum(r.n for r in out) == 4000


def test_density_grid_single_shuffle(spark):
    df = density_grid(spark.createDataFrame(_pts(5, 1000)), res=4, depth=4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1


def test_render_round_trips_grid(spark):
    pdf = _pts(11, 3000)
    grid = density_grid(spark.createDataFrame(pdf), res=2, depth=4)
    rows = grid.collect()
    tiles = render_density_tiles(grid, depth=4).collect()
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r.cell, []).append(r)
    assert {t.cell for t in tiles} == set(by_cell)
    for t in tiles:
        assert (t.w, t.h, t.fmt) == (16, 16, "ppm")
        img = K.decode_ppm(bytes(t.bytes))
        assert img.shape == (16, 16, 3)
        # grayscale: all channels equal
        assert (img[..., 0] == img[..., 1]).all()
        assert (img[..., 0] == img[..., 2]).all()
        max_n = max(r.n for r in by_cell[t.cell])
        want = np.zeros((16, 16), dtype=np.uint8)
        for r in by_cell[t.cell]:
            want[15 - r.py, r.px] = (255 * r.n) // max_n
        assert (img[..., 0] == want).all()
        # phash is of the rendered pixels
        assert t.phash == K.phash64(img)
        # the hottest pixel renders at full intensity
        assert img[..., 0].max() == 255 or max_n == 0


def test_render_deterministic_across_partitionings(spark):
    pdf = _pts(13, 2500)
    a = render_density_tiles(
        density_grid(spark.createDataFrame(pdf), res=3, depth=4)).collect()
    b = render_density_tiles(
        density_grid(spark.createDataFrame(pdf).repartition(17),
                     res=3, depth=4)).collect()
    ka = sorted((t.cell, t.phash, bytes(t.bytes)) for t in a)
    kb = sorted((t.cell, t.phash, bytes(t.bytes)) for t in b)
    assert ka == kb
