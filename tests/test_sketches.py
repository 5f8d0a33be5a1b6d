"""HyperLogLog sketch invariants."""
import duckdb
import pandas as pd
import pytest

from osmnightwatch_spark.operators import sketches as SK


def test_hll_registers_match_twin(spark):
    """Spark and DuckDB derive identical registers."""
    pdf = pd.DataFrame({"v": [f"item{i}" for i in range(5000)]})
    df = spark.createDataFrame(pdf)
    whole = (SK.hll_registers(df, "v", p=8)
             .orderBy("register").toPandas())

    con = duckdb.connect(); con.register("t", pdf)
    twin = con.execute(SK.hll_registers_sql("t", "v", p=8)
                       + " ORDER BY register").fetchdf()
    pd.testing.assert_frame_equal(
        whole.astype({"register": "int64", "rank": "int32"}),
        twin.astype({"register": "int64", "rank": "int32"}),
        check_names=False)


def test_hll_estimate_accuracy_and_duplicates(spark):
    """Estimate within 5 std errors of truth at p=10; duplicates
    change nothing (sketch is a pure function of the distinct set)."""
    vals = [f"u{i}" for i in range(20000)]
    df = spark.createDataFrame(pd.DataFrame({"v": vals}))
    dup = spark.createDataFrame(pd.DataFrame({"v": vals * 2}))
    r1 = SK.hll_registers(df, "v", p=10).collect()
    r2 = SK.hll_registers(dup, "v", p=10).collect()
    assert sorted((x.register, x.rank) for x in r1) == \
           sorted((x.register, x.rank) for x in r2)
    est = SK.hll_estimate([(x.register, x.rank) for x in r1], p=10)
    rel_err = abs(est - 20000) / 20000
    assert rel_err < 5 * 1.04 / (2 ** 5), rel_err   # 5 sigma at m=1024


def test_hll_p_bounds(spark):
    df = spark.createDataFrame(pd.DataFrame({"v": ["a"]}))
    with pytest.raises(ValueError):
        SK.hll_registers(df, "v", p=3)
    with pytest.raises(ValueError):
        SK.hll_registers(df, "v", p=19)


# ------------------------------------------------------------ count-min

def test_cms_never_underestimates_and_bounds_overshoot(spark):
    import numpy as np
    import pandas as pd
    from osmnightwatch_spark.operators.sketches import (cms_estimate,
                                                        cms_sketch)

    rng = np.random.default_rng(6)
    # zipf-ish: key k appears ~ 5000/(k+1) times, plus a planted rare key
    keys = np.repeat(np.arange(200), (5000 / (np.arange(200) + 1)).astype(int))
    vals = [f"k{k}" for k in keys] + ["rare_key"]
    df = spark.createDataFrame(pd.DataFrame({"v": vals}))
    true = pd.Series(vals).value_counts().to_dict()
    n = len(vals)
    W, D = 1024, 4
    sk = cms_sketch(df, "v", width=W, depth=D)
    probes = df.distinct()
    est = {r.key: r.est for r in
           cms_estimate(sk, probes, "v", width=W, depth=D).collect()}
    assert set(est) == set(true)
    import math
    bound = math.e * n / W
    for k, t in true.items():
        assert est[k] >= t, (k, est[k], t)
        assert est[k] <= t + 3 * bound, (k, est[k], t, bound)
    # the planted singleton stays small (not hidden, barely inflated)
    assert 1 <= est["rare_key"] <= 1 + 3 * bound
    # sketch size is bounded by depth*width regardless of key count
    assert sk.count() <= W * D


def test_cms_absent_probe_is_zero(spark):
    import pandas as pd
    from osmnightwatch_spark.operators.sketches import (cms_estimate,
                                                        cms_sketch)

    # a probe that never occurred may only collide upward from 0 —
    # with an empty sketch it is exactly 0
    empty = cms_sketch(
        spark.createDataFrame([], "v string"), "v", width=256, depth=4)
    ghost = spark.createDataFrame(pd.DataFrame({"v": ["never_seen"]}))
    out = cms_estimate(empty, ghost, "v", width=256, depth=4).collect()
    assert [(r.key, r.est) for r in out] == [("never_seen", 0)]
