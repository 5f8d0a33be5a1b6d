"""Scale study for the session-5 operators: range join, DBSCAN,
SemDeDup (numpy assign + prune paths).

Everything is generated INSIDE Spark (native projections of
spark.range — no Python loop, no driver data) so the study measures
the operators, not a generator. Run:

    python tools/spatial_scale_study.py            # default sizes
    N_POINTS=500000 N_VECS=50000 python tools/spatial_scale_study.py

Assertions check structure (full labeling, sane cluster mass), not
just timings — a fast wrong answer fails loudly.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from osmnightwatch_spark.session import get_spark  # noqa: E402
from osmnightwatch_spark.operators.range_join import (  # noqa: E402
    dbscan, range_join)
from osmnightwatch_spark.operators.semdedup import semdedup  # noqa: E402

AREA = 360.0 * 170.0
M32 = 1 << 32


def synth_points(spark, n: int):
    """Uniform hash-spread points, the queries.py recipe at scale."""
    i = F.col("id")
    lon = -180.0 + ((i * 2654435761) % M32).cast("double") / M32 * 360.0
    lat = -85.0 + ((i * 40503 + 12345) % M32).cast("double") / M32 * 170.0
    return spark.range(n).select(
        i.alias("pid"), lon.alias("lon"), lat.alias("lat"))


def synth_vecs(spark, n: int, dims: int):
    """Deterministic pseudo-random unit-cube embeddings via xxhash64."""
    comps = [
        (F.xxhash64(F.col("id"), F.lit(d)) % 1000003).cast("double")
        / 1000003.0 - 0.5
        for d in range(dims)
    ]
    return spark.range(n).select(
        F.col("id").alias("vec_id"), F.array(*comps).alias("embedding"))


def main():
    n_pts = int(os.environ.get("N_POINTS", 2_000_000))
    n_dbscan = int(os.environ.get("N_DBSCAN", 1_000_000))
    n_vecs = int(os.environ.get("N_VECS", 1_000_000))
    k_clusters = int(os.environ.get("K_CLUSTERS", 2048))
    spark = get_spark("spatial-scale", cores=int(os.environ.get("CORES", 32)))
    out = {"load_at_start": os.getloadavg()[0]}

    # --- range join: avg ~5 neighbors per point ------------------------
    r = math.sqrt(5 * AREA / (math.pi * n_pts))
    pts = synth_points(spark, n_pts).persist()
    pts.count()
    t0 = time.time()
    pairs = range_join(
        pts.withColumnRenamed("pid", "left_id"),
        pts.withColumnRenamed("pid", "right_id"), r,
    ).where(F.col("left_id") != F.col("right_id")).count()
    dt = time.time() - t0
    out["range_join"] = {
        "n_points": n_pts, "radius_deg": round(r, 4), "pairs": pairs,
        "sec": round(dt, 2), "pairs_per_sec": int(pairs / dt),
        "points_per_sec": int(n_pts / dt),
    }
    assert pairs > n_pts, "expected >1 avg neighbor"
    pts.unpersist()

    # --- DBSCAN: same density target, full composition ----------------
    r2 = math.sqrt(5 * AREA / (math.pi * n_dbscan))
    pts2 = synth_points(spark, n_dbscan).persist()
    pts2.count()
    t0 = time.time()
    lab = dbscan(pts2, eps=r2, min_pts=5, id_col="pid", max_iters=30)
    agg = lab.agg(
        F.count("*").alias("n"),
        F.sum(F.col("is_core").cast("long")).alias("cores"),
        F.sum(F.col("cluster").isNull().cast("long")).alias("noise"),
        F.countDistinct("cluster").alias("clusters")).collect()[0]
    dt = time.time() - t0
    out["dbscan"] = {
        "n_points": n_dbscan, "eps_deg": round(r2, 4),
        "labeled": agg.n, "cores": agg.cores, "noise": agg.noise,
        "clusters": agg.clusters, "sec": round(dt, 2),
        "points_per_sec": int(n_dbscan / dt),
    }
    assert agg.n == n_dbscan, "every point must be labeled exactly once"
    assert 0 < agg.cores < n_dbscan and agg.clusters > 0
    pts2.unpersist()

    # --- SemDeDup (k scales with the corpus) -------------------------
    vecs = synth_vecs(spark, n_vecs, dims=16).persist()
    vecs.count()
    t0 = time.time()
    sd = semdedup(vecs, k=k_clusters, iters=2, dims=16, tau=0.9)
    sagg = sd.agg(F.count("*").alias("n"),
                  F.sum((~F.col("kept")).cast("long")).alias("dropped"),
                  F.countDistinct("cluster").alias("clusters")).collect()[0]
    dt = time.time() - t0
    out["semdedup"] = {
        "n_vecs": n_vecs, "k": k_clusters, "rows": sagg.n,
        "dropped": sagg.dropped, "clusters": sagg.clusters,
        "sec": round(dt, 2), "vecs_per_sec": int(n_vecs / dt),
    }
    assert sagg.n == n_vecs, "one verdict per vector"
    assert sagg.clusters > k_clusters // 2, "clusters collapsed"
    vecs.unpersist()

    out["load_at_end"] = os.getloadavg()[0]
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
