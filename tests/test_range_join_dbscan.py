"""range_join (ST_DWithin) + DBSCAN invariants on planted corpora."""
import duckdb
import numpy as np
import pandas as pd
import pytest

from osmnightwatch_spark.operators import range_join as R


def _pdf(rows):
    return pd.DataFrame(rows, columns=["id", "lon", "lat"])


def test_range_join_matches_brute(spark):
    """200 uniform points, radius spanning several cells: exact match
    with the brute-force DuckDB twin, including dist values."""
    rng = np.random.default_rng(3)
    pdf = _pdf([(i, float(lo), float(la)) for i, (lo, la) in enumerate(
        zip(rng.uniform(-180, 180, 200), rng.uniform(-85, 85, 200)))])
    df = spark.createDataFrame(pdf)
    got = (R.range_join(
        df.withColumnRenamed("id", "left_id"),
        df.withColumnRenamed("id", "right_id"), radius=9.0)
        .orderBy("left_id", "right_id").toPandas())
    con = duckdb.connect(); con.register("p", pdf)
    want = con.execute(R.range_join_sql(
        "SELECT id AS left_id, lon, lat FROM p",
        "SELECT id AS right_id, lon, lat FROM p", radius=9.0)
        + " ORDER BY left_id, right_id").fetchdf()
    pd.testing.assert_frame_equal(
        got.astype({"left_id": "int64", "right_id": "int64"}),
        want.astype({"left_id": "int64", "right_id": "int64"}))
    # self-pairs at dist 0 present (documented), symmetric pair count
    assert (got.left_id == got.right_id).sum() == 200


def test_range_join_pole_no_duplicate_pairs(spark):
    """Latitude clamping folds ring cells together near the pole —
    array_distinct must keep each qualifying pair unique."""
    pdf = _pdf([(0, 10.0, 89.9), (1, 10.5, 89.8), (2, -170.0, 89.95)])
    df = spark.createDataFrame(pdf)
    got = R.range_join(df.withColumnRenamed("id", "left_id"),
                       df.withColumnRenamed("id", "right_id"), 3.0).toPandas()
    assert not got.duplicated(["left_id", "right_id"]).any()


def test_dbscan_planted_blobs(spark):
    """Two dense blobs + a border point + isolated noise: cluster
    labels are the min core id per blob, the border point attaches,
    noise gets NULL; twin agrees row-for-row."""
    # chain blobs: every member has >= 3 eps-neighbors (core at
    # min_pts=4); the border point reaches ONLY the rightmost member
    # (1 neighbor + self = 2 < 4 -> not core, but density-reachable)
    blob1 = [(i, 0.3 * i, 0.0) for i in range(5)]                 # core x5
    blob2 = [(10 + i, 50.0 + 0.3 * i, 20.0) for i in range(5)]    # core x5
    border = [(20, 2.1, 0.0)]     # within eps=1 of x=1.2 only
    noise = [(30, -120.0, -60.0), (31, 120.0, 60.0)]
    pdf = _pdf(blob1 + blob2 + border + noise)
    df = spark.createDataFrame(pdf)
    got = (R.dbscan(df, eps=1.0, min_pts=4, id_col="id")
           .orderBy("id").toPandas())
    by = got.set_index("id")
    assert all(by.loc[i, "cluster"] == 0 and by.loc[i, "is_core"]
               for i in range(5))
    assert all(by.loc[10 + i, "cluster"] == 10 and by.loc[10 + i, "is_core"]
               for i in range(5))
    assert by.loc[20, "cluster"] == 0 and not by.loc[20, "is_core"]
    assert pd.isna(by.loc[30, "cluster"]) and pd.isna(by.loc[31, "cluster"])

    con = duckdb.connect(); con.register("p", pdf)
    want = con.execute(
        R.dbscan_sql("SELECT * FROM p", eps=1.0, min_pts=4, id_col="id")
        + " ORDER BY id").fetchdf()
    pd.testing.assert_frame_equal(
        got.astype({"id": "int64", "cluster": "float64", "is_core": bool}),
        want.astype({"id": "int64", "cluster": "float64", "is_core": bool}),
        check_names=False)


def test_dbscan_chain_transitivity(spark):
    """A chain of core points each within eps of the next but not of
    the farther ones must form ONE cluster (density-connectivity is
    transitive) — exercises >1 CC round via a diameter-9 path."""
    # points every 0.9 deg; eps=1.0 links only adjacent ones; min_pts=2
    pdf = _pdf([(i, 0.9 * i, 0.0) for i in range(10)])
    got = (R.dbscan(spark.createDataFrame(pdf), eps=1.0, min_pts=2,
                    id_col="id").orderBy("id").toPandas())
    assert (got.cluster == 0).all() and got.is_core.all()


def test_res_for_radius_exactness_bound():
    assert R.res_for_radius(2.0) == 6          # 180/64 = 2.8125 >= 2
    assert 180.0 / (1 << R.res_for_radius(2.0)) >= 2.0
    assert 180.0 / (1 << (R.res_for_radius(2.0) + 1)) < 2.0
    assert R.res_for_radius(1000.0) == 0        # clamp low
    with pytest.raises(ValueError):
        R.res_for_radius(0.0)
