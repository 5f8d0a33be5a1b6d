"""Segment→tile clipping: cut line segments at tile boundaries,
emitting one clipped sub-segment per (segment, covered tile).

Reference ancestry: the way-splitting NightWatch's tile-oriented
outputs imply — its coastline checker walks way segments against a
changed-cell neighborhood (``BrokenCoastlineAnalyzer.cs:140-166``) and
its web map renders admin geometry per tile; cutting vector segments
to tile rects is the canonical vector-tiling step between the two.

Clip kernel: Liang–Barsky against the axis-aligned tile rect — pure
closed-form arithmetic (two divisions, min/max), no iteration, no
Python. The parameter interval [t0, t1] ⊆ [0, 1] of the segment
inside the rect is kept only when t1 > t0 (positive-length overlap;
edge-touches and corner-grazes are excluded — the same strictness as
``rect_overlay_join``'s positive-area rule, so both engines agree
without epsilon tuning). Vertical/horizontal segments take the
containment branch (no 0/0 division is ever evaluated).

Scale shape (the 100 TB argument): each segment explodes to the grid
cells of its BOUNDING BOX at ``res`` (``cells.box_cells`` — a GPS
hop or road edge spans ~1–4 cells at a resolution
chosen from the average hop length);
the clip predicate then discards bbox cells the segment misses. All
arithmetic is whole-stage codegen; the only shuffle is whatever the
consumer does next (the emit itself is a narrow map). A
continent-spanning segment is the skew unit: its explode is
``O(cells crossed)`` — cap upstream by splitting long segments
(``snap_simplify``/``dp_simplify`` first) exactly as the overlay
join bounds giant rects.

Determinism: identical expression order in the Column and SQL paths —
the divisions, GREATEST/LEAST chains and the ``lo + g*w`` tile-bound
arithmetic produce bit-identical doubles on both engines, so the
oracle's 9-dp string hash needs no tolerance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import cells as C


def clip_segments_to_tiles(segs: DataFrame, res: int,
                           seg_id: str = "seg_id",
                           x1: str = "x1", y1: str = "y1",
                           x2: str = "x2", y2: str = "y2") -> DataFrame:
    """Clip each segment to every tile it positively crosses →
    ``(seg_id, tile, cx1, cy1, cx2, cy2, t0, t1)`` with
    ``(cx1, cy1)-(cx2, cy2)`` the sub-segment inside the tile and
    ``[t0, t1]`` its parameter interval on the original segment.

    Boundary semantics (pinned, ADVICE r5): "positively crosses" is
    OPEN — an axis-aligned segment lying EXACTLY on a tile boundary
    (common for admin rectangles at round lat/lon) has zero-height
    overlap with both adjacent tiles and is emitted for NEITHER; edge
    touches are likewise dropped. Callers that must keep grid-aligned
    geometry should nudge such segments off the boundary by an ulp (or
    pre-assign them to a deterministic side) before clipping; the
    engine and the DuckDB twin share the open rule bit-for-bit."""
    n = 1 << res
    w, h = 360.0 / n, 180.0 / n

    s = segs.select(
        F.col(seg_id).alias("seg_id"),
        F.col(x1).alias("_x1"), F.col(y1).alias("_y1"),
        F.col(x2).alias("_x2"), F.col(y2).alias("_y2"),
    )
    covered = C.box_cells(
        s, res, F.least("_x1", "_x2"), F.least("_y1", "_y2"),
        F.greatest("_x1", "_x2"), F.greatest("_y1", "_y2"))

    lon0 = F.lit(-180.0) + F.col("_gx").cast("double") * F.lit(w)
    lon1 = F.lit(-180.0) + (F.col("_gx") + F.lit(1)).cast("double") * F.lit(w)
    lat0 = F.lit(-90.0) + F.col("_gy").cast("double") * F.lit(h)
    lat1 = F.lit(-90.0) + (F.col("_gy") + F.lit(1)).cast("double") * F.lit(h)

    dx = F.col("_x2") - F.col("_x1")
    dy = F.col("_y2") - F.col("_y1")
    # Liang–Barsky per axis: entering/leaving parameters, with the
    # zero-slope containment branch (lo < p < hi → whole [0,1] range,
    # else empty interval [1,0] which the t1 > t0 keep-rule rejects).
    # The branch is OPEN: a boundary-riding segment has zero-height
    # overlap with BOTH adjacent tiles, so the edge-touch exclusion
    # must drop it everywhere — closed bounds would keep it, and
    # worse, the bbox explode (floor convention: one side only) and
    # the twin's full grid (both sides) would then disagree.
    tx_a = (lon0 - F.col("_x1")) / dx
    tx_b = (lon1 - F.col("_x1")) / dx
    ty_a = (lat0 - F.col("_y1")) / dy
    ty_b = (lat1 - F.col("_y1")) / dy
    tx_min = F.when(dx != 0, F.least(tx_a, tx_b)).otherwise(
        F.when((F.col("_x1") > lon0) & (F.col("_x1") < lon1),
               F.lit(0.0)).otherwise(F.lit(1.0)))
    tx_max = F.when(dx != 0, F.greatest(tx_a, tx_b)).otherwise(
        F.when((F.col("_x1") > lon0) & (F.col("_x1") < lon1),
               F.lit(1.0)).otherwise(F.lit(0.0)))
    ty_min = F.when(dy != 0, F.least(ty_a, ty_b)).otherwise(
        F.when((F.col("_y1") > lat0) & (F.col("_y1") < lat1),
               F.lit(0.0)).otherwise(F.lit(1.0)))
    ty_max = F.when(dy != 0, F.greatest(ty_a, ty_b)).otherwise(
        F.when((F.col("_y1") > lat0) & (F.col("_y1") < lat1),
               F.lit(1.0)).otherwise(F.lit(0.0)))
    t0 = F.greatest(F.lit(0.0), tx_min, ty_min)
    t1 = F.least(F.lit(1.0), tx_max, ty_max)

    return (
        covered.withColumn("_t0", t0).withColumn("_t1", t1)
        .where(F.col("_t1") > F.col("_t0"))
        .select(
            "seg_id",
            F.expr(C.cell_from_grid_spark_sql("`_gx`", "`_gy`", res))
            .alias("tile"),
            (F.col("_x1") + F.col("_t0") * dx).alias("cx1"),
            (F.col("_y1") + F.col("_t0") * dy).alias("cy1"),
            (F.col("_x1") + F.col("_t1") * dx).alias("cx2"),
            (F.col("_y1") + F.col("_t1") * dy).alias("cy2"),
            F.col("_t0").alias("t0"), F.col("_t1").alias("t1"),
        )
    )


def clip_segments_to_tiles_sql(segs_sql: str, res: int,
                               seg_id: str = "seg_id",
                               x1: str = "x1", y1: str = "y1",
                               x2: str = "x2", y2: str = "y2") -> str:
    """DuckDB twin: BRUTE — every segment against the FULL res-grid
    (n² tiles; oracle scale only), identical Liang–Barsky arithmetic.
    Proves the bbox-cover explode loses no crossing tile."""
    n = 1 << res
    w, h = 360.0 / n, 180.0 / n
    X1, Y1, X2, Y2 = (f"s.{x1}", f"s.{y1}", f"s.{x2}", f"s.{y2}")
    lon0 = f"(-180.0 + CAST(g.gx AS DOUBLE) * {w!r})"
    lon1 = f"(-180.0 + CAST(g.gx + 1 AS DOUBLE) * {w!r})"
    lat0 = f"(-90.0 + CAST(g.gy AS DOUBLE) * {h!r})"
    lat1 = f"(-90.0 + CAST(g.gy + 1 AS DOUBLE) * {h!r})"
    dx, dy = f"({X2} - {X1})", f"({Y2} - {Y1})"
    tx_min = (f"CASE WHEN {dx} <> 0 THEN LEAST(({lon0} - {X1}) / {dx}, "
              f"({lon1} - {X1}) / {dx}) WHEN {X1} > {lon0} AND {X1} < {lon1} "
              f"THEN 0.0 ELSE 1.0 END")
    tx_max = (f"CASE WHEN {dx} <> 0 THEN GREATEST(({lon0} - {X1}) / {dx}, "
              f"({lon1} - {X1}) / {dx}) WHEN {X1} > {lon0} AND {X1} < {lon1} "
              f"THEN 1.0 ELSE 0.0 END")
    ty_min = (f"CASE WHEN {dy} <> 0 THEN LEAST(({lat0} - {Y1}) / {dy}, "
              f"({lat1} - {Y1}) / {dy}) WHEN {Y1} > {lat0} AND {Y1} < {lat1} "
              f"THEN 0.0 ELSE 1.0 END")
    ty_max = (f"CASE WHEN {dy} <> 0 THEN GREATEST(({lat0} - {Y1}) / {dy}, "
              f"({lat1} - {Y1}) / {dy}) WHEN {Y1} > {lat0} AND {Y1} < {lat1} "
              f"THEN 1.0 ELSE 0.0 END")
    t0 = f"GREATEST(0.0, {tx_min}, {ty_min})"
    t1 = f"LEAST(1.0, {tx_max}, {ty_max})"
    cell = (f"(CAST({res << C._RES_SHIFT} AS BIGINT) "
            f"| {C._part1by1_sql('gx')} | ({C._part1by1_sql('gy')} << 1))")
    return f"""
WITH _cl_g AS (
  SELECT xs.range AS gx, ys.range AS gy
  FROM range(0, {n}) xs, range(0, {n}) ys
),
_cl_t AS (
  SELECT s.{seg_id} AS seg_id, g.gx, g.gy,
         {X1} AS _x1, {Y1} AS _y1, {X2} AS _x2, {Y2} AS _y2,
         {t0} AS t0, {t1} AS t1
  FROM ({segs_sql}) s, _cl_g g
)
SELECT seg_id, {cell} AS tile,
       _x1 + t0 * (_x2 - _x1) AS cx1, _y1 + t0 * (_y2 - _y1) AS cy1,
       _x1 + t1 * (_x2 - _x1) AS cx2, _y1 + t1 * (_y2 - _y1) AS cy2,
       t0, t1
FROM _cl_t WHERE t1 > t0
""".strip()
