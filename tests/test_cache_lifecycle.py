"""Operators that cache intermediates release every one of them, both
when the call returns and when it raises mid-lifecycle: no
CacheManager entry and no new persistent RDD outlives the call (the
operator's own checkpointed result excepted on success)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from osmnightwatch_spark.operators import dedup as D
from osmnightwatch_spark.operators import similarity as S
from osmnightwatch_spark.operators.knn import knn_join
from osmnightwatch_spark.operators.skew import adaptive_cells


class Injected(RuntimeError):
    pass


def _points_pdf(n, id_col, seed):
    rng = np.random.default_rng(seed)
    return pd.DataFrame({
        id_col: np.arange(n),
        "lon": rng.uniform(-20, 20, n),
        "lat": rng.uniform(-20, 20, n),
    })


def _points(spark, n, id_col, seed):
    return spark.createDataFrame(_points_pdf(n, id_col, seed))


def _embeddings(spark):
    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(200, 8))
    vecs[101] = vecs[100] + 1e-4  # one planted near-dup pair
    return spark.createDataFrame(pd.DataFrame({
        "vec_id": np.arange(200), "embedding": list(map(list, vecs))}))


def _docs(spark):
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    rows = [(i, " ".join(words[(i + j) % 10] for j in range(12)))
            for i in range(40)]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def _skewed(spark):
    # one dense city: 40% of rows inside ~0.2°, hot at the base res
    pdf = _points_pdf(2000, "pt_id", 5)
    pdf.loc[:799, "lon"] = 7.0 + np.linspace(0, 0.2, 800)
    pdf.loc[:799, "lat"] = 45.0 + np.linspace(0, 0.2, 800)
    return spark.createDataFrame(pdf)


def _pairs(spark):
    return spark.createDataFrame(pd.DataFrame({
        "id_a": [1, 2, 3, 4, 10], "id_b": [2, 3, 4, 5, 11]}))


# name -> (method raising, on which call, operator)
CASES = {
    "knn_join": ("localCheckpoint", 1, lambda spark: knn_join(
        _points(spark, 20, "probe_id", 1), _points(spark, 400, "cand_id", 2),
        k=3, res=4)),
    "lsh_topk": ("localCheckpoint", 1, lambda spark: S.lsh_topk(
        _embeddings(spark), F.col("vec_id") % 20 == 0, k=3, dims=8)),
    "embedding_near_dup_pairs": ("localCheckpoint", 1, lambda spark:
        S.embedding_near_dup_pairs(_embeddings(spark), dims=8)),
    "minhash_lsh_pairs": ("localCheckpoint", 1, lambda spark:
        D.minhash_lsh_pairs(_docs(spark), "doc_id")),
    "adaptive_cells": ("collect", 1, lambda spark:
        adaptive_cells(_skewed(spark), base_res=4, max_rows_per_cell=300)),
    # third checkpoint = the first round's edge state: e and nodes are held
    "dedup_clusters": ("localCheckpoint", 3, lambda spark:
        D.dedup_clusters(_pairs(spark))),
}


def _persistent_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _checkpoint_rdd(df):
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRDD":
        return set()
    return {plan.rdd().id()}


@pytest.mark.parametrize("name", sorted(CASES))
def test_no_cache_outlives_a_raise(spark, monkeypatch, name):
    method, nth, op = CASES[name]
    spark.catalog.clearCache()
    before = _persistent_rdds(spark)
    real = getattr(ClassicDataFrame, method)
    calls = []

    def boom(self, *args, **kwargs):
        calls.append(1)
        if len(calls) == nth:
            raise Injected(f"{method} call {nth}")
        return real(self, *args, **kwargs)

    monkeypatch.setattr(ClassicDataFrame, method, boom)
    with pytest.raises(Injected):
        op(spark)
    monkeypatch.undo()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert _persistent_rdds(spark) - before == set()


@pytest.mark.parametrize("name", sorted(CASES))
def test_no_cache_outlives_success(spark, name):
    _, _, op = CASES[name]
    spark.catalog.clearCache()
    before = _persistent_rdds(spark)
    out = op(spark)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert _persistent_rdds(spark) - before <= _checkpoint_rdd(out)
