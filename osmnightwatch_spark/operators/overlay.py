"""Vector×vector overlay join: intersection pairs + areas between two
rectangle sets.

Reference ancestry: the admin-boundary *change* diffs
(``AdminBoundariesChangesAnalyzer`` semantics — which boundaries of
set A materially overlap which of set B) — the vector↔vector overlay
the point-in-polygon join (point↔vector) and coverage aggregation
(raster↔vector) family didn't yet cover. Axis-aligned boxes are the
engine-exact core (bbox overlay is the universal prefilter of every
polygon overlay; the PIP machinery's prepared coverings refine
arbitrary shapes on top of it).

Semantics: all pairs (a, b) with POSITIVE intersection area (strict
inequalities — edge-touching rects don't pair), plus the intersection
box and its planar-degree area.

Scale shape (the 100 TB argument): each rect explodes to the grid
cells its box covers at ``res`` (a bounded ``sequence`` explode — a
rect spanning k×m cells emits k·m rows); ONE equi-shuffle on the
``(gx, gy)`` cell joins the sides. A pair whose boxes intersect
shares every cell their intersection covers — deduplicated with the
**owner-cell rule**: the pair is emitted only from the cell containing
the intersection's min corner (that cell is by construction in BOTH
covers), so no distinct/array_distinct shuffle is ever needed.
Dense-city skew lands on the join's own exchange (AQE-splittable);
a continent-sized rect is the one skew unit — cap its explode by
choosing ``res`` from the AVERAGE extent (the coarsest grid whose
cells are no finer than it, ~2×2 cells per average rect) and
route outliers through a broadcast side, exactly like the PIP join's
prepared-covering path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import cells as C


def rect_overlay_join(a: DataFrame, b: DataFrame, res: int = 4,
                      a_id: str = "a_id", b_id: str = "b_id") -> DataFrame:
    """All pairs with positive intersection area →
    ``(a_id, b_id, ilon0, ilon1, ilat0, ilat1, area)``.

    Both inputs carry ``(id, lon0, lon1, lat0, lat1)`` with the id
    column pre-named via ``a_id`` / ``b_id`` (boxes normalized:
    lon0 ≤ lon1, lat0 ≤ lat1; no antimeridian wrap — split wrapped
    boxes upstream, the PIP covering convention).
    """
    def cover(df: DataFrame, idc: str, name: str) -> DataFrame:
        box = df.select(idc, "lon0", "lon1", "lat0", "lat1")
        return C.box_cells(box, res, F.col("lon0"), F.col("lat0"),
                           F.col("lon1"), F.col("lat1")).alias(name)

    A = cover(a, a_id, "_a")
    B = cover(b, b_id, "_b")
    ilon0 = F.greatest("_a.lon0", "_b.lon0")
    ilon1 = F.least("_a.lon1", "_b.lon1")
    ilat0 = F.greatest("_a.lat0", "_b.lat0")
    ilat1 = F.least("_a.lat1", "_b.lat1")
    return (
        A.join(B, ["_gx", "_gy"])
        .where((ilon1 > ilon0) & (ilat1 > ilat0)
               # owner-cell dedup: emit only from the intersection's
               # min-corner cell (present in both covers by construction)
               & (F.col("_gx") == C.grid_col(ilon0, *C.LON, res))
               & (F.col("_gy") == C.grid_col(ilat0, *C.LAT, res)))
        .select(a_id, b_id,
                ilon0.alias("ilon0"), ilon1.alias("ilon1"),
                ilat0.alias("ilat0"), ilat1.alias("ilat1"),
                ((ilon1 - ilon0) * (ilat1 - ilat0)).alias("area"))
    )


def rect_overlay_join_sql(a_sql: str, b_sql: str,
                          a_id: str = "a_id", b_id: str = "b_id") -> str:
    """DuckDB twin: brute cross join with the identical intersection
    predicate and area arithmetic (the oracle, not the scale path)."""
    return f"""
SELECT a.{a_id}, b.{b_id},
       GREATEST(a.lon0, b.lon0) AS ilon0, LEAST(a.lon1, b.lon1) AS ilon1,
       GREATEST(a.lat0, b.lat0) AS ilat0, LEAST(a.lat1, b.lat1) AS ilat1,
       (LEAST(a.lon1, b.lon1) - GREATEST(a.lon0, b.lon0))
       * (LEAST(a.lat1, b.lat1) - GREATEST(a.lat0, b.lat0)) AS area
FROM ({a_sql}) a, ({b_sql}) b
WHERE LEAST(a.lon1, b.lon1) > GREATEST(a.lon0, b.lon0)
  AND LEAST(a.lat1, b.lat1) > GREATEST(a.lat0, b.lat0)
""".strip()
