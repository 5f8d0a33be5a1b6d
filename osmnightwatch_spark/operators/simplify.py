"""Polyline simplification: grid-snap (tile-zoom) and Douglas-Peucker.

Reference ancestry: the coastline/admin ways rendered by the
reference's map UI are simplified per zoom level before display;
these are the two standard reductions — **snap-to-grid** (the slippy
-map approach: quantize to the render grid at the target resolution,
collapse consecutive duplicates; one window pass, SQL-expressible,
used for bulk tile pyramids) and **Douglas-Peucker** (the
max-deviation-bounded shape-preserving reduction, inherently
sequential per line, run as a numpy kernel per way).

Determinism: snap is pure integer grid arithmetic (the cells.py
encode). DP picks the farthest point with first-index tie-break and
compares squared planar-degree distances — exact doubles, identical
across runs and partitionings.

Scale shape: snap is one window over (way, seq) — a single hash
shuffle on the way id, any number of ways in parallel; DP is
applyInPandas per way (same shuffle), each way's kernel O(n log n)
typical / O(n²) worst in C. A pathological giant way (a coastline
ring with 10⁶ points) is the only skew unit — split such rings
upstream (the reference's coastline sections do exactly that).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import cells as C


def snap_simplify(points: DataFrame, res: int,
                  way_col: str = "way_id", seq_col: str = "seq",
                  lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Snap each vertex to its grid-cell center at ``res`` and drop
    consecutive vertices that snapped to the same cell →
    ``(way_col, seq_out, lon, lat)`` with ``seq_out`` the compacted
    0-based order. First occurrence of each run survives (keeps the
    line's start exactly; the end survives unless it shares the last
    cell — the standard render-grid semantics)."""
    n = 1 << res
    snapped = C.attach_cell(points, res, lon=lon, lat=lat, out="_cell").select(
        F.col(way_col), F.col(seq_col).alias("_seq"), "_cell",
        # cell-center coordinates from the same clamped grid indexes
        # the cell id is built from: a boundary vertex (lon=180,
        # lat=90) floors to n, which unclamped would emit a center
        # outside the valid range, inconsistent with its dedup cell.
        ((C.grid_col(F.col(lon), *C.LON, res) + 0.5) / n * 360.0 - 180.0)
        .alias("_clon"),
        ((C.grid_col(F.col(lat), *C.LAT, res) + 0.5) / n * 180.0 - 90.0)
        .alias("_clat"),
    )
    w = Window.partitionBy(way_col).orderBy("_seq")
    kept = (
        snapped.withColumn("_prev", F.lag("_cell").over(w))
        .where(F.col("_prev").isNull() | (F.col("_prev") != F.col("_cell")))
    )
    w2 = Window.partitionBy(way_col).orderBy("_seq")
    return kept.select(
        way_col,
        (F.row_number().over(w2) - 1).cast("long").alias("seq_out"),
        F.col("_clon").alias(lon), F.col("_clat").alias(lat),
    )


def snap_simplify_sql(points_sql: str, res: int,
                      way_col: str = "way_id", seq_col: str = "seq",
                      lon: str = "lon", lat: str = "lat") -> str:
    """DuckDB twin (same cell encode via cells.cell_sql, same run
    collapse, same center arithmetic)."""
    n = 1 << res
    cell = C.cell_sql(lon, lat, res)
    clon = (f"((LEAST({n - 1}, GREATEST(0, "
            f"FLOOR(({lon} + 180.0) / 360.0 * {n}))) + 0.5) "
            f"/ {n} * 360.0 - 180.0)")
    clat = (f"((LEAST({n - 1}, GREATEST(0, "
            f"FLOOR(({lat} + 90.0) / 180.0 * {n}))) + 0.5) "
            f"/ {n} * 180.0 - 90.0)")
    return f"""
WITH s AS (
  SELECT {way_col}, {seq_col} AS _seq, {cell} AS _cell,
         {clon} AS _clon, {clat} AS _clat
  FROM ({points_sql})),
k AS (
  SELECT *, lag(_cell) OVER (PARTITION BY {way_col} ORDER BY _seq) AS _prev
  FROM s)
SELECT {way_col},
       CAST(ROW_NUMBER() OVER (PARTITION BY {way_col} ORDER BY _seq) - 1
            AS BIGINT) AS seq_out,
       _clon AS {lon}, _clat AS {lat}
FROM k WHERE _prev IS NULL OR _prev <> _cell
""".strip()


def dp_simplify(points: DataFrame, epsilon: float,
                way_col: str = "way_id", seq_col: str = "seq",
                lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Douglas-Peucker per way (max perpendicular deviation ≤
    ``epsilon`` planar degrees) → same schema as :func:`snap_simplify`.
    Endpoints always survive; farthest-point ties break to the first
    index (deterministic). Iterative stack kernel — no recursion
    limits on 10⁶-point ways."""
    import numpy as np
    import pandas as pd

    eps2 = float(epsilon) * float(epsilon)

    def dp_keep(x: "np.ndarray", y: "np.ndarray") -> "np.ndarray":
        n = len(x)
        keep = np.zeros(n, dtype=bool)
        keep[0] = keep[n - 1] = True
        stack = [(0, n - 1)]
        while stack:
            a, b = stack.pop()
            if b - a < 2:
                continue
            ax, ay, bx, by = x[a], y[a], x[b], y[b]
            dx, dy = bx - ax, by - ay
            seg2 = dx * dx + dy * dy
            px, py = x[a + 1:b], y[a + 1:b]
            if seg2 == 0.0:  # degenerate: distance to the point a
                d2 = (px - ax) ** 2 + (py - ay) ** 2
            else:
                cross = (px - ax) * dy - (py - ay) * dx
                d2 = cross * cross / seg2
            i = int(np.argmax(d2))  # first max = lowest index
            if d2[i] > eps2:
                m = a + 1 + i
                keep[m] = True
                stack.append((a, m))
                stack.append((m, b))
        return keep

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_seq", kind="mergesort")
        x = pdf["_lon"].to_numpy(dtype=np.float64)
        y = pdf["_lat"].to_numpy(dtype=np.float64)
        if len(x) <= 2:
            keep = np.ones(len(x), dtype=bool)
        else:
            keep = dp_keep(x, y)
        out = pdf[keep]
        return pd.DataFrame({
            way_col: out[way_col].to_numpy(),
            "seq_out": np.arange(keep.sum(), dtype=np.int64),
            "lon": out["_lon"].to_numpy(),
            "lat": out["_lat"].to_numpy(),
        })

    prepared = points.select(
        F.col(way_col), F.col(seq_col).alias("_seq"),
        F.col(lon).alias("_lon"), F.col(lat).alias("_lat"))
    return prepared.groupBy(way_col).applyInPandas(
        run, f"{way_col} long, seq_out long, lon double, lat double")


def dp_simplify_sql(points_sql: str, epsilon: float, rounds: int = 20,
                    way_col: str = "way_id", seq_col: str = "seq",
                    lon: str = "lon", lat: str = "lat") -> str:
    """DuckDB twin of :func:`dp_simplify` — the BFS-unrolled form.

    Douglas-Peucker's keep set is CONFLUENT: segments split
    independently, so processing order doesn't change the final set.
    The recursive kernel's DFS therefore equals this breadth-first
    fixpoint: round i takes the current keep set, forms every
    consecutive kept pair per way (one lead window), finds each
    segment interior's max-deviation point (same ``cross²/seg2``
    doubles in the same written order as the numpy kernel, first-index
    tie like ``np.argmax``), and adds those exceeding ε. ``rounds``
    chained CTEs unroll the iteration (DuckDB's recursive CTE only
    sees the last iteration's rows, not the full keep set, so plain
    chaining it is — each CTE MATERIALIZED, since inlining would
    re-expand k_i into k_{i+1} twice and blow the plan up 2^rounds);
    the fixpoint is reached once a round adds
    nothing — callers must pin ``rounds`` ≥ the fixture's split depth
    (tests assert rounds vs rounds+1 equality, i.e. a reached
    fixpoint)."""
    eps2 = float(epsilon) * float(epsilon)
    parts = [
        f"pts AS MATERIALIZED (SELECT {way_col} AS _w, {seq_col} AS _s, "
        f"{lon} AS _x, {lat} AS _y FROM ({points_sql}))",
        "k0 AS MATERIALIZED (SELECT _w, MIN(_s) AS _s FROM pts GROUP BY _w "
        "UNION SELECT _w, MAX(_s) FROM pts GROUP BY _w)",
    ]
    for i in range(rounds):
        parts.append(f"""
k{i + 1} AS MATERIALIZED (
  SELECT _w, _s FROM k{i}
  UNION
  SELECT _w, _s FROM (
    SELECT s._w, p._s,
           CASE WHEN (pb._x - pa._x) * (pb._x - pa._x)
                   + (pb._y - pa._y) * (pb._y - pa._y) = 0.0
                THEN (p._x - pa._x) * (p._x - pa._x)
                   + (p._y - pa._y) * (p._y - pa._y)
                ELSE ((p._x - pa._x) * (pb._y - pa._y)
                      - (p._y - pa._y) * (pb._x - pa._x))
                   * ((p._x - pa._x) * (pb._y - pa._y)
                      - (p._y - pa._y) * (pb._x - pa._x))
                   / ((pb._x - pa._x) * (pb._x - pa._x)
                      + (pb._y - pa._y) * (pb._y - pa._y)) END AS _d2,
           ROW_NUMBER() OVER (
             PARTITION BY s._w, s._a
             ORDER BY CASE WHEN (pb._x - pa._x) * (pb._x - pa._x)
                             + (pb._y - pa._y) * (pb._y - pa._y) = 0.0
                           THEN (p._x - pa._x) * (p._x - pa._x)
                              + (p._y - pa._y) * (p._y - pa._y)
                           ELSE ((p._x - pa._x) * (pb._y - pa._y)
                                 - (p._y - pa._y) * (pb._x - pa._x))
                              * ((p._x - pa._x) * (pb._y - pa._y)
                                 - (p._y - pa._y) * (pb._x - pa._x))
                              / ((pb._x - pa._x) * (pb._x - pa._x)
                                 + (pb._y - pa._y) * (pb._y - pa._y)) END
                      DESC, p._s ASC) AS _rn
    FROM (SELECT _w, _s AS _a,
                 lead(_s) OVER (PARTITION BY _w ORDER BY _s) AS _b
          FROM k{i}) s
    JOIN pts p  ON p._w = s._w AND p._s > s._a AND p._s < s._b
    JOIN pts pa ON pa._w = s._w AND pa._s = s._a
    JOIN pts pb ON pb._w = s._w AND pb._s = s._b)
  WHERE _rn = 1 AND _d2 > {eps2!r})
""".strip())
    body = ",\n".join(parts)
    return f"""
WITH {body}
SELECT p._w AS {way_col},
       CAST(ROW_NUMBER() OVER (PARTITION BY p._w ORDER BY p._s) - 1
            AS BIGINT) AS seq_out,
       p._x AS lon, p._y AS lat
FROM pts p JOIN k{rounds} k ON k._w = p._w AND k._s = p._s
""".strip()
