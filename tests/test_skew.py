"""Adaptive cell splitting + salting on the planted city skew."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osmnightwatch_spark.functions import cells as C
from osmnightwatch_spark.operators.skew import adaptive_cells, salted_repartition


@pytest.fixture(scope="module")
def skewed(spark):
    rng = np.random.default_rng(5)
    n = 6000
    pdf = pd.DataFrame({
        "pt_id": np.arange(n),
        "lon": rng.uniform(-180, 180, n),
        "lat": rng.uniform(-85, 85, n),
    })
    # one dense city: 40% of rows inside ~0.2° — hot at any coarse res
    hot = pdf.sample(frac=0.4, random_state=1).index
    pdf.loc[hot, "lon"] = 7.0 + rng.uniform(0, 0.2, len(hot))
    pdf.loc[hot, "lat"] = 45.0 + rng.uniform(0, 0.2, len(hot))
    return spark.createDataFrame(pdf)


def test_adaptive_cells_bounds_occupancy(spark, skewed):
    out = adaptive_cells(skewed, base_res=4, max_rows_per_cell=500,
                         max_res=12).toPandas()
    assert len(out) == 6000
    counts = out.groupby("acell").size()
    res_of = counts.index.to_numpy() >> 58
    # every split cell is under the cap unless it bottomed out at max_res
    over = counts[counts > 500]
    assert all((int(c) >> 58) == 12 for c in over.index)
    # non-hot rows keep the base resolution; hot rows get finer cells
    assert (res_of == 4).any() and (res_of > 4).any()


def test_adaptive_cells_consistent_with_hierarchy(spark, skewed):
    """A row's adaptive cell is always an ancestor-or-self of its leaf
    cell: joining on acell can never mis-bucket a row."""
    out = adaptive_cells(skewed, base_res=4, max_rows_per_cell=500,
                         max_res=12).toPandas()
    lon, lat = out.lon.to_numpy(), out.lat.to_numpy()
    acell = out.acell.to_numpy()
    res = (acell >> 58).astype(int)
    for r in np.unique(res):
        m = res == r
        expect = C.cell_of(lon[m], lat[m], int(r))
        np.testing.assert_array_equal(acell[m], expect)


def test_salted_repartition_spreads(spark, skewed):
    one_key = skewed.withColumn("k", F.lit(1))
    salted = salted_repartition(one_key, "k", n_salts=8)
    # the hot key now carries >1 distinct shuffle subkey (AQE may still
    # coalesce tiny test partitions, so assert on the salt itself)
    n_salts = salted.select("_salt").distinct().count()
    assert n_salts > 1
    # two-phase aggregate over (key, salt) recombines exactly
    partial = salted.groupBy("k", "_salt").count()
    total = partial.groupBy("k").agg(F.sum("count").alias("n")).collect()[0].n
    assert total == 6000
