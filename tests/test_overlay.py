"""Rect overlay join invariants: brute equality, owner-cell dedup,
edge-touch exclusion, boundary clamping."""
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from osmnightwatch_spark.operators.overlay import rect_overlay_join


def _boxes(seed, n, idc, max_w=8.0, max_h=5.0):
    rng = np.random.default_rng(seed)
    lon = rng.uniform(-179, 179, n)
    lat = rng.uniform(-84, 84, n)
    w = rng.uniform(0.1, max_w, n)
    h = rng.uniform(0.1, max_h, n)
    return pd.DataFrame({
        idc: np.arange(n, dtype=np.int64),
        "lon0": np.maximum(-180.0, lon - w), "lon1": np.minimum(180.0, lon + w),
        "lat0": np.maximum(-90.0, lat - h), "lat1": np.minimum(90.0, lat + h),
    })


def _brute(a, b):
    pairs = set()
    for ra in a.itertuples():
        for rb in b.itertuples():
            if (min(ra.lon1, rb.lon1) > max(ra.lon0, rb.lon0)
                    and min(ra.lat1, rb.lat1) > max(ra.lat0, rb.lat0)):
                pairs.add((ra.a_id, rb.b_id))
    return pairs


def test_overlay_matches_brute_and_dedups(spark):
    a = _boxes(1, 120, "a_id")
    b = _boxes(2, 200, "b_id")
    want = _brute(a, b)
    for res in (2, 4, 6):  # avg extent ~4 deg -> res 4-5 is the rule
        got = rect_overlay_join(spark.createDataFrame(a),
                                spark.createDataFrame(b), res=res).collect()
        assert len(got) == len(set((r.a_id, r.b_id) for r in got)), \
            f"duplicate pairs at res={res} (owner-cell dedup broken)"
        assert set((r.a_id, r.b_id) for r in got) == want, f"res={res}"
        assert all(r.area > 0 for r in got)
        # intersection box is inside both inputs and area is consistent
        for r in got[:20]:
            assert abs(r.area - (r.ilon1 - r.ilon0) * (r.ilat1 - r.ilat0)) < 1e-12


def test_overlay_edge_touch_excluded_and_res_rule(spark):
    a = spark.createDataFrame(
        [(1, 0.0, 10.0, 0.0, 10.0)],
        "a_id long, lon0 double, lon1 double, lat0 double, lat1 double")
    b = spark.createDataFrame(
        [(1, 10.0, 20.0, 0.0, 10.0),     # shares only the lon=10 edge
         (2, 9.0, 20.0, 9.0, 20.0),      # true overlap (1x1 corner)
         (3, -5.0, -1.0, 0.0, 10.0)],    # disjoint
        "b_id long, lon0 double, lon1 double, lat0 double, lat1 double")
    got = {(r.a_id, r.b_id): r for r in rect_overlay_join(a, b, res=4).collect()}
    assert set(got) == {(1, 2)}
    r = got[(1, 2)]
    assert (r.ilon0, r.ilon1, r.ilat0, r.ilat1) == (9.0, 10.0, 9.0, 10.0)
    assert abs(r.area - 1.0) < 1e-12
