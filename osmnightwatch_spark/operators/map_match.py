"""Map matching: snap every GPS fix to its nearest road segment
within a radius — the nearest-SEGMENT join completing the proximity
family (``knn`` = point↔point, ``range_join`` = point↔point within
radius, this = point↔polyline-edge).

Reference ancestry: NightWatch resolves every node against the admin
geometry that should own it (``AdminsWatcher`` + the PIP path in
``AdminCountPerCountryAnalyzer.cs``); map matching is the same
"attach each observation to the authoritative geometry" step for the
road layer, and the standard trajectory-cleaning stage after the
speed filter (``geo_stats.with_speed``): a fix that snaps nowhere
within ``radius`` is off-network noise.

Geometry: planar-degree point→segment distance, closed form — the
projection parameter ``t = clamp(dot/len2, 0, 1)`` (degenerate
zero-length segments take ``t = 0``, i.e. point distance), squared
distance compared against ``radius²`` so no sqrt enters the hash.
Nearest is pinned deterministically by ``(d2, seg_id)`` — equal
distances break toward the smaller segment id on both engines.

Scale shape (the 100 TB argument): segments explode to the grid
cells of their ``radius``-EXPANDED bounding box (bounded ``sequence``
explode at a resolution from ``range_join.res_for_radius`` — cells
no finer than the radius, so a road edge spans ~2–4 cells); each fix
lands in exactly ONE cell. One equi-shuffle on ``(gx, gy)`` joins
them, and every in-radius (fix, segment) pair shares the fix's cell
by construction (the expansion covers it), appearing EXACTLY once —
no distinct needed. The nearest-pick window partitions by fix id
(millions of tiny groups — no skew unit); dense-city cells land on
the join exchange where AQE splits them. The road network is NOT
broadcast (planet road graphs exceed broadcast budgets); both sides
shuffle on the same key once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import cells as C
from .range_join import res_for_radius


def map_match(points: DataFrame, segments: DataFrame, radius: float,
              point_id: str = "point_id", seg_id: str = "seg_id",
              lon: str = "lon", lat: str = "lat",
              x1: str = "x1", y1: str = "y1",
              x2: str = "x2", y2: str = "y2",
              res: int | None = None) -> DataFrame:
    """Nearest segment within ``radius`` per fix →
    ``(point_id, seg_id, mt, mx, my, d2)`` — ``(mx, my)`` the snapped
    position, ``mt`` its parameter on the segment, ``d2`` the squared
    planar distance. Fixes with no segment in range are absent
    (inner semantics — the caller's off-network filter)."""
    if radius <= 0:
        raise ValueError(f"radius must be > 0, got {radius}")
    if res is None:
        res = res_for_radius(radius)
    r = float(radius)

    pts = points.select(
        F.col(point_id).alias("point_id"),
        F.col(lon).alias("_px"), F.col(lat).alias("_py"),
        C.grid_col(F.col(lon), *C.LON, res).alias("_gx"),
        C.grid_col(F.col(lat), *C.LAT, res).alias("_gy"),
    )
    segs = (
        segments.select(
            F.col(seg_id).alias("seg_id"),
            F.col(x1).alias("_x1"), F.col(y1).alias("_y1"),
            F.col(x2).alias("_x2"), F.col(y2).alias("_y2"),
        )
        .select(
            "*",
            F.explode(F.sequence(
                C.grid_col(F.least("_x1", "_x2") - F.lit(r), *C.LON, res),
                C.grid_col(F.greatest("_x1", "_x2") + F.lit(r), *C.LON, res),
            )).alias("_gx"),
            F.sequence(
                C.grid_col(F.least("_y1", "_y2") - F.lit(r), *C.LAT, res),
                C.grid_col(F.greatest("_y1", "_y2") + F.lit(r), *C.LAT, res),
            ).alias("_gys"),
        )
        .select("*", F.explode("_gys").alias("_gy"))
        .drop("_gys")
    )

    dx = F.col("_x2") - F.col("_x1")
    dy = F.col("_y2") - F.col("_y1")
    len2 = dx * dx + dy * dy
    dot = (F.col("_px") - F.col("_x1")) * dx + (F.col("_py") - F.col("_y1")) * dy
    t = F.when(len2 == 0, F.lit(0.0)).otherwise(
        F.greatest(F.lit(0.0), F.least(F.lit(1.0), dot / len2)))
    cand = (
        pts.join(segs, ["_gx", "_gy"])
        .withColumn("_t", t)
        .withColumn("_mx", F.col("_x1") + F.col("_t") * dx)
        .withColumn("_my", F.col("_y1") + F.col("_t") * dy)
        .withColumn(
            "_d2",
            (F.col("_px") - F.col("_mx")) * (F.col("_px") - F.col("_mx"))
            + (F.col("_py") - F.col("_my")) * (F.col("_py") - F.col("_my")))
        .where(F.col("_d2") <= F.lit(r * r))
    )
    best = Window.partitionBy("point_id").orderBy("_d2", "seg_id")
    return (
        cand.withColumn("_rn", F.row_number().over(best))
        .where(F.col("_rn") == 1)
        .select("point_id", "seg_id", F.col("_t").alias("mt"),
                F.col("_mx").alias("mx"), F.col("_my").alias("my"),
                F.col("_d2").alias("d2"))
    )


def map_match_sql(points_sql: str, segments_sql: str, radius: float,
                  point_id: str = "point_id", seg_id: str = "seg_id",
                  lon: str = "lon", lat: str = "lat",
                  x1: str = "x1", y1: str = "y1",
                  x2: str = "x2", y2: str = "y2") -> str:
    """DuckDB twin: BRUTE cross join (oracle, not the scale path) with
    the identical closed-form arithmetic and ``(d2, seg_id)`` pick —
    proves the cell-bucketed candidate join loses no in-radius pair."""
    r2 = float(radius) * float(radius)
    dx, dy = f"(s.{x2} - s.{x1})", f"(s.{y2} - s.{y1})"
    dot = f"((p.{lon} - s.{x1}) * {dx} + (p.{lat} - s.{y1}) * {dy})"
    len2 = f"({dx} * {dx} + {dy} * {dy})"
    t = (f"CASE WHEN {len2} = 0 THEN 0.0 "
         f"ELSE GREATEST(0.0, LEAST(1.0, {dot} / {len2})) END")
    return f"""
WITH _mm_c AS (
  SELECT p.{point_id} AS point_id, s.{seg_id} AS seg_id, {t} AS mt,
         s.{x1} + {t} * {dx} AS mx, s.{y1} + {t} * {dy} AS my,
         p.{lon} AS _px, p.{lat} AS _py
  FROM ({points_sql}) p, ({segments_sql}) s
),
_mm_d AS (
  SELECT point_id, seg_id, mt, mx, my,
         (_px - mx) * (_px - mx) + (_py - my) * (_py - my) AS d2
  FROM _mm_c
),
_mm_r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY point_id ORDER BY d2, seg_id) AS rn
  FROM _mm_d WHERE d2 <= {r2!r}
)
SELECT point_id, seg_id, mt, mx, my, d2 FROM _mm_r WHERE rn = 1
""".strip()
