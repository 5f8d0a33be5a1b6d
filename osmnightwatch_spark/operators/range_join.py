"""Within-radius (ST_DWithin-style) spatial range join and
distributed DBSCAN built on it.

Reference ancestry: the same bbox neighborhood primitive as the kNN
join (``BrokenCoastlineAnalyzer.cs:140-166`` — "coastlines within the
frame of a changed coastline") but with the *distance* fixed instead
of the *count*: every (left, right) pair at planar degree distance
≤ ``radius``. DBSCAN is the density-clustering composition a
geo-corpus pipeline runs on top of it (e.g. collapsing bursts of
near-identically-located images before per-tile sampling).

Metric: **planar Euclidean degrees** ``sqrt(Δlon² + Δlat²)`` — the
documented kNN default, no great-circle correction and no wrap in the
distance itself (pairs that straddle the antimeridian are far under
this metric by definition; the cell *join* still wraps, so nothing is
lost if a caller post-filters with a wrapping metric).

Exactness: grid resolution is derived from the radius —
``res = floor(log2(180 / radius))`` — so a cell spans ≥ ``radius``
degrees on its shorter (latitude) axis. Any pair within ``radius`` is
then within Chebyshev distance 1 in grid cells, and the ring-1
explode provably covers it. No refinement pass is needed: the exact
distance filter runs on the joined pairs.

Scale shape (the 100 TB argument): ONE equi-shuffle on the cell key.
The left side explodes ×9 (``array_distinct`` first — pole clamping
can fold ring cells together and would otherwise duplicate pairs);
the right side is bucketed by its own cell, so each qualifying pair
is produced exactly once — no distinct needed. Pass the smaller side
as ``left``: it pays the ×9. Dense-city skew lands on the join's own
exchange, where AQE's skew splitter can act (join-owned exchanges
only — the r3 lesson). Raising ``res`` is wrong here (exactness pins
it to the radius); the skew escape hatch at 1000× density is
splitting hot cells by a salt on the *non-exploded* side and
replicating the exploded side per salt, which composes with this
operator unchanged.

DBSCAN (Ester et al. 1996) on top: neighbor counts from the self
range join, core points = ``|N_eps(p)| ≥ min_pts`` (self inclusive),
clusters = connected components of the core-core eps-graph via the
dedup star-contraction CC (O(log² n) rounds, diameter-free), border points
attach to their minimum-labeled core neighbor's cluster (pinned —
textbook DBSCAN leaves border assignment order-dependent; minimum
makes it deterministic and oracle-checkable), everything else noise
(NULL cluster). Every stage is a join/agg on already-partitioned
data; nothing is quadratic in anything but per-cell occupancy.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import cells as C
from .dedup import dedup_clusters


def res_for_radius(radius: float) -> int:
    """Coarsest grid whose latitude cell span still ≥ ``radius``
    degrees (so ring-1 covering is exact); clamped to the grid's
    supported range."""
    if radius <= 0:
        raise ValueError(f"radius must be > 0, got {radius}")
    return max(0, min(C.MAX_RES, int(math.floor(math.log2(180.0 / radius)))))


def range_join(left: DataFrame, right: DataFrame, radius: float,
               left_id: str = "left_id", right_id: str = "right_id",
               lon: str = "lon", lat: str = "lat",
               right_extra: tuple[str, ...] = ()) -> DataFrame:
    """All pairs at planar degree distance ≤ ``radius`` →
    ``(left_id, right_id, dist, *right_extra)``.

    Inputs carry ``(id, lon, lat)`` with the id column pre-named via
    ``left_id`` / ``right_id``. Self-joins pass the same DataFrame
    twice (with distinct id aliases) and filter ``left_id == right_id``
    afterwards if unwanted — self-pairs come out at dist 0. The left
    side pays the ×9 ring explode, so pass the smaller side as
    ``left``. ``right_extra`` columns ride through the
    join from the right side (payload for downstream aggs — keeps
    consumers at ONE shuffle instead of a post-hoc rejoin).
    """
    res = res_for_radius(radius)
    extra = [F.col(c) for c in right_extra]
    l = C.ring_cells_col(left, res, 1, lon=lon, lat=lat, out="_ring")
    l = l.select(
        F.col(left_id), F.col(lon).alias("_llon"), F.col(lat).alias("_llat"),
        F.explode(F.array_distinct("_ring")).alias("_cell"),
    )
    r = C.attach_cell(right, res, lon=lon, lat=lat, out="_cell").select(
        F.col(right_id), F.col(lon).alias("_rlon"),
        F.col(lat).alias("_rlat"), F.col("_cell"), *extra,
    )
    d2 = ((F.col("_llon") - F.col("_rlon")) * (F.col("_llon") - F.col("_rlon"))
          + (F.col("_llat") - F.col("_rlat")) * (F.col("_llat") - F.col("_rlat")))
    return (
        l.join(r, "_cell")
        .where(d2 <= F.lit(float(radius) * float(radius)))
        .select(left_id, right_id, F.sqrt(d2).alias("dist"), *right_extra)
    )


def range_join_sql(left_sql: str, right_sql: str, radius: float,
                   left_id: str = "left_id", right_id: str = "right_id",
                   lon: str = "lon", lat: str = "lat",
                   right_extra: tuple[str, ...] = ()) -> str:
    """Brute-force DuckDB twin: cross join + the identical squared
    predicate and the identical ``sqrt`` on the squared sum (same op
    sequence ⇒ bit-identical doubles)."""
    d2 = (f"(l.{lon} - r.{lon}) * (l.{lon} - r.{lon}) + "
          f"(l.{lat} - r.{lat}) * (l.{lat} - r.{lat})")
    ex = "".join(f", r.{c} AS {c}" for c in right_extra)
    return (
        f"SELECT l.{left_id} AS {left_id}, r.{right_id} AS {right_id}, "
        f"sqrt({d2}) AS dist{ex} "
        f"FROM ({left_sql}) l JOIN ({right_sql}) r "
        f"ON {d2} <= {float(radius) * float(radius)!r}"
    )


def dbscan(points: DataFrame, eps: float, min_pts: int,
           id_col: str = "id", lon: str = "lon", lat: str = "lat",
           max_iters: int = 20) -> DataFrame:
    """DBSCAN → ``(id_col, cluster, is_core)``; ``cluster`` is the
    minimum core-point id of the density-connected component (NULL for
    noise), ``is_core`` marks ``|N_eps| ≥ min_pts`` (self inclusive).

    Border points (non-core with ≥1 core eps-neighbor) join the
    cluster of their minimum-labeled core neighbor — deterministic
    where the textbook algorithm is scan-order-dependent.
    """
    pts = points.select(F.col(id_col), F.col(lon).alias("lon"),
                        F.col(lat).alias("lat"))
    a = pts.select(F.col(id_col).alias("id_a"), "lon", "lat")
    b = pts.select(F.col(id_col).alias("id_b"), "lon", "lat")
    nbrs = (
        range_join(a, b, eps, left_id="id_a", right_id="id_b")
        .where(F.col("id_a") != F.col("id_b"))
    )
    # one pass of the (potentially huge) neighbor-pair stream feeds
    # both the count agg and the edge filter — cut it once
    nbrs = nbrs.localCheckpoint(eager=True)
    counts = nbrs.groupBy("id_a").agg(F.count("*").alias("_n"))
    core = (
        pts.join(counts.withColumnRenamed("id_a", id_col), id_col, "left")
        .where(F.coalesce(F.col("_n"), F.lit(0)) + 1 >= F.lit(min_pts))
        .select(id_col)
    )
    core_ids = core.withColumnRenamed(id_col, "_cid")
    core_edges = (
        nbrs.join(core_ids.withColumnRenamed("_cid", "id_a"), "id_a", "semi")
        .join(core_ids.withColumnRenamed("_cid", "id_b"), "id_b", "semi")
        .select("id_a", "id_b")
    )
    comp = dedup_clusters(core_edges, all_ids=core, id_col=id_col,
                          max_iters=max_iters)  # (id_col, keeper_id)
    core_lab = comp.select(F.col(id_col), F.col("keeper_id").alias("cluster"),
                           F.lit(True).alias("is_core"))
    border = (
        nbrs.join(core_ids.withColumnRenamed("_cid", "id_a"), "id_a",
                  "left_anti")  # left endpoint not core
        .join(comp.select(F.col(id_col).alias("id_b"),
                          F.col("keeper_id").alias("_k")), "id_b")
        .groupBy("id_a").agg(F.min("_k").alias("cluster"))
        .select(F.col("id_a").alias(id_col), "cluster",
                F.lit(False).alias("is_core"))
    )
    labeled = core_lab.unionByName(border)
    noise = (
        pts.select(id_col)
        .join(labeled.select(id_col), id_col, "left_anti")
        .select(F.col(id_col), F.lit(None).cast("long").alias("cluster"),
                F.lit(False).alias("is_core"))
    )
    return labeled.unionByName(noise)


def dbscan_sql(points_sql: str, eps: float, min_pts: int,
               id_col: str = "id", lon: str = "lon", lat: str = "lat") -> str:
    """DuckDB twin: brute neighbor pairs, core predicate, transitive
    closure of the core-core graph via a recursive CTE (min reachable
    core id per node), then the same min-core-neighbor border rule."""
    d2 = (f"(a.{lon} - b.{lon}) * (a.{lon} - b.{lon}) + "
          f"(a.{lat} - b.{lat}) * (a.{lat} - b.{lat})")
    return f"""
WITH RECURSIVE pts AS ({points_sql}),
nbr AS (
  SELECT a.{id_col} AS ia, b.{id_col} AS ib
  FROM pts a JOIN pts b
    ON a.{id_col} <> b.{id_col} AND {d2} <= {float(eps) * float(eps)!r}
),
core AS (
  SELECT p.{id_col} AS id FROM pts p
  LEFT JOIN (SELECT ia, COUNT(*) AS n FROM nbr GROUP BY ia) c
    ON c.ia = p.{id_col}
  WHERE COALESCE(c.n, 0) + 1 >= {int(min_pts)}
),
ce AS (
  SELECT ia, ib FROM nbr
  WHERE ia IN (SELECT id FROM core) AND ib IN (SELECT id FROM core)
),
reach(id, lbl) AS (
  SELECT id, id FROM core
  UNION
  SELECT ce.ib, reach.lbl FROM reach JOIN ce ON ce.ia = reach.id
),
comp AS (SELECT id, MIN(lbl) AS cluster FROM reach GROUP BY id),
border AS (
  SELECT nbr.ia AS id, MIN(comp.cluster) AS cluster
  FROM nbr JOIN comp ON comp.id = nbr.ib
  WHERE nbr.ia NOT IN (SELECT id FROM core)
  GROUP BY nbr.ia
)
SELECT comp.id AS {id_col}, comp.cluster, TRUE AS is_core FROM comp
UNION ALL
SELECT border.id, border.cluster, FALSE FROM border
UNION ALL
SELECT p.{id_col}, NULL, FALSE FROM pts p
WHERE p.{id_col} NOT IN (SELECT id FROM comp)
  AND p.{id_col} NOT IN (SELECT id FROM border)
"""
