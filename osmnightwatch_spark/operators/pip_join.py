"""Point-in-polygon containment join — the engine's core spatial operator.

Recasts the reference's filter-and-refine containment join
(``AdminCountPerCountryAnalyzer.cs:615-679``: R-tree candidate pass at
:645-648, prepared-geometry ``Contains``∨``Overlaps`` refinement at
:664-674) as one Spark-native join per point:

1. **Prepare** (once per polygon set, memoized — the PreparedPolygon
   analog, :486,637): each polygon → quadtree covering of FULL
   (inside) and BOUNDARY (edge passes through) cells
   (``geometry.cover_polygon``), expanded to the leaf resolution: the
   small side is replicated, never the point side. Each BOUNDARY leaf
   cell carries its own ray-cast edges — the edges near it plus stubs
   for those wholly east of it (S2's ``S2ShapeIndex`` cell pattern).
2. **Probe and refine**: points get their leaf cell by the native
   ``attach_cell`` encode and equi-join the leaf table on it, broadcast
   for dim-sized sets so the 10^12-row point side is never shuffled.
   FULL hits are inside; one ``Filter`` ray-casts BOUNDARY hits over
   their cell's few edges in native SQL, bit-identical to
   ``geometry.points_in_edgesoup`` over the whole polygon, so polygons
   with 10^4–10^6 vertices stay cheap.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import cells as C
from ..functions import geometry as G

FULL = int(G.FULL)
BOUNDARY = int(G.BOUNDARY)


#: memo for :meth:`PreparedPolygons.build` keyed on (res, max_cells,
#: polygon tuple) — see the docstring there
_BUILD_CACHE: dict = {}

#: total vertex count from which :meth:`PreparedPolygons.build` covers
#: on executors: the smallest at which executors won every rep (cold
#: builds, local[4] on a 4-core host, res 7 stars of 64 × k vertices,
#: paths alternating; the driver won every rep up to 16.5k, executors
#: from 48.5k, and at 641k they took 3.9–4.7 s against 9.3–11.6 s).
_EXECUTOR_MIN_VERTICES = 48_000

#: most rows :func:`_leaf_table` may expand a covering to (~80 MB; the
#: 25 admin fixture polygons give 17k at res 7, 258k at 9, 4.08M at 11)
_MAX_LEAF_CELLS = 1 << 22

#: per-edge array columns of a BOUNDARY leaf row (ray-cast inputs)
_EDGE_COLS = ("_bx1", "_by1", "_bx2", "_by2", "_binv")

#: degrees each leaf cell's box is widened by before polygon edges are
#: sorted into it — a point's cell (the floor of its grid coordinate)
#: holds it to within an ulp, so this only guards against a last-ulp
#: disagreement between numpy and the JVM
_CELL_TOL = 1e-9

#: about the most (edge, cell) pairs :func:`_cell_edges` holds at once
_PAIR_CHUNK = 1 << 20


def _cover_one(pid: int, polys: list, res: int, max_cells: int) -> pd.DataFrame:
    """One polygon's covering rows — the kernel both build paths run,
    so their coverings are identical."""
    ids, kinds = G.cover_polygon(polys, res=res, max_cells=max_cells)
    return pd.DataFrame({"polygon_id": np.full(len(ids), pid, np.int64),
                         "cell": ids, "kind": kinds.astype(np.int8)})


def _cover_on_executors(spark: SparkSession, polygons: list[tuple[int, bytes]],
                        res: int, max_cells: int) -> pd.DataFrame:
    """:func:`_cover_one` per polygon as ``mapInPandas`` over a
    (polygon_id, wkb) DataFrame; only the covering rows are collected
    back, reordered into input order (the driver loop's order)."""
    src = spark.createDataFrame(pd.DataFrame({
        "_i": np.arange(len(polygons), dtype=np.int64),
        "polygon_id": [int(p) for p, _ in polygons],
        "geom_wkb": [bytes(w) for _, w in polygons],
    })).repartition(min(len(polygons), spark.sparkContext.defaultParallelism))

    def gen(batches):
        for b in batches:
            for i, pid, wkb in zip(b["_i"], b["polygon_id"], b["geom_wkb"]):
                yield _cover_one(int(pid), G.wkb_to_polygons(bytes(wkb)),
                                 res, max_cells).assign(_i=i)

    out = src.mapInPandas(
        gen, "polygon_id long, cell long, kind tinyint, _i long").toPandas()
    return (out.sort_values("_i", kind="stable").drop(columns="_i")
            .reset_index(drop=True))


@dataclass
class PreparedPolygons:
    """Prepared polygon set: quadtree covering and its expansion to the
    leaf resolution, whose BOUNDARY rows carry their ray-cast edges."""

    covering: pd.DataFrame          # polygon_id LONG, cell LONG, kind TINYINT
    res: int                        # leaf (finest) covering resolution
    leaf: pd.DataFrame              # polygon_id, cell, kind INT, + _EDGE_COLS

    @classmethod
    def build(cls, polygons: list[tuple[int, bytes]], res: int = 7,
              max_cells: int = 4096) -> "PreparedPolygons":
        """polygons: [(polygon_id, wkb_polygon_or_multipolygon), ...].

        Each WKB is parsed once on the driver. The covering runs on
        executors (``mapInPandas``) for sets of at least 2 polygons and
        ``_EXECUTOR_MIN_VERTICES`` vertices while a session is active,
        else on the driver (checked in that order, so a small set never
        touches the JVM); both paths run :func:`_cover_one`, and the one
        :func:`_leaf_table` builds ``leaf`` from either covering,
        raising ``ValueError`` past ``_MAX_LEAF_CELLS`` rows.

        Memoized on the full input, with the per-session DataFrame
        memos: a caller that re-plans the same join (every bench run,
        every validator micro-batch) pays the build once. Reference
        analog: ``AdminCountPerCountryAnalyzer.cs:470-490``.
        """
        key = (res, max_cells,
               tuple((int(p), bytes(w)) for p, w in polygons))
        hit = _BUILD_CACHE.get(key)
        if hit is not None:
            return hit
        parsed = [(int(pid), G.wkb_to_polygons(wkb)) for pid, wkb in polygons]
        soups = {pid: G.EdgeSoup(polys) for pid, polys in parsed}
        n_vertices = sum(len(s.x1) for s in soups.values())
        spark = (SparkSession.getActiveSession()
                 if n_vertices >= _EXECUTOR_MIN_VERTICES and len(parsed) >= 2
                 else None)
        if spark is not None:
            covering = _cover_on_executors(spark, polygons, res, max_cells)
        elif parsed:
            covering = pd.concat([_cover_one(pid, polys, res, max_cells)
                                  for pid, polys in parsed], ignore_index=True)
        else:
            covering = _cover_one(0, [], res, max_cells)
        out = cls(covering=covering, res=res,
                  leaf=_leaf_table(covering, res, soups))
        if len(_BUILD_CACHE) >= 16:  # bounded: a handful of live sets
            _BUILD_CACHE.clear()
        _BUILD_CACHE[key] = out
        return out

    def _per_session(self, spark: SparkSession, name: str, make) -> DataFrame:
        """``make()``, memoized per session: repeated pip_join calls
        would otherwise pay the pandas→Arrow→JVM conversion of the same
        immutable table on every plan build. applicationId is in the
        key: memoized prepared sets outlive sessions, and a recycled
        id() alone could alias a dead session's DataFrame."""
        memo = self.__dict__.setdefault("_session_memo", {})
        key = (id(spark), spark.sparkContext.applicationId, name)
        if key not in memo:
            memo[key] = make()
        return memo[key]

    def covering_df(self, spark: SparkSession) -> DataFrame:
        """The covering as a LocalRelation (per-session memo)."""
        return self._per_session(spark, "covering", lambda: spark.createDataFrame(
            self.covering.astype({"kind": "int32"}), schema=_COVER_SCHEMA))

    def leaf_df(self, spark: SparkSession) -> DataFrame:
        """The leaf table as a LocalRelation (per-session memo), passed as
        Arrow: from pandas, its list columns convert ~4× slower."""
        return self._per_session(spark, "leaf", lambda: spark.createDataFrame(
            pa.Table.from_pandas(self.leaf, preserve_index=False), schema=_LEAF_SCHEMA))


_COVER_SCHEMA = T.StructType([
    T.StructField("polygon_id", T.LongType(), False),
    T.StructField("cell", T.LongType(), False),
    T.StructField("kind", T.IntegerType(), False),
])
_EDGE_FIELDS = [T.StructField(c, T.ArrayType(T.DoubleType(), False), False)
                for c in _EDGE_COLS]
_LEAF_SCHEMA = T.StructType(_COVER_SCHEMA.fields + _EDGE_FIELDS)
_EDGE_SCHEMA = T.StructType([_COVER_SCHEMA["polygon_id"]] + _EDGE_FIELDS)


def _leaf_table(covering: pd.DataFrame, res: int,
                soups: dict[int, G.EdgeSoup]) -> pd.DataFrame:
    """``covering`` with every cell at level ``lv < res`` replaced by its
    ``4^(res-lv)`` descendants ``(res << 58) | ((morton << 2d) + i)``
    (``d = res - lv``, the exact inverse of ``parent_spark_sql``), kind
    carried, then each polygon's BOUNDARY rows given their edges by
    :func:`_cell_edges`; FULL rows hold empty arrays. ``(polygon_id,
    cell)`` stays unique. The row count ``Σ 4^(res-lv)`` is checked
    before anything is allocated: a world-size polygon at a high
    ``res`` would otherwise exhaust the driver.
    """
    cell = covering["cell"].to_numpy(np.int64)
    depth = res - (cell >> C._RES_SHIFT)
    levels, counts = np.unique(depth, return_counts=True)
    total = sum(int(n) << (2 * int(d)) for d, n in zip(levels, counts))
    if total > _MAX_LEAF_CELLS:
        k = next(k for k in range(1, 64) if total <= _MAX_LEAF_CELLS << 2 * k)
        raise ValueError(
            f"the covering expands to {total} cells at res {res}, over the "
            f"{_MAX_LEAF_CELLS} limit: use a coarser res (about "
            f"{max(0, res - k)})")
    fan = np.left_shift(np.int64(1), 2 * depth)
    src = np.repeat(np.arange(len(cell)), fan)
    i = np.arange(total, dtype=np.int64) - np.repeat(np.cumsum(fan) - fan, fan)
    morton = cell[src] & ((1 << C._RES_SHIFT) - 1)
    pid = covering["polygon_id"].to_numpy(np.int64)[src]
    leaf = (res << C._RES_SHIFT) | ((morton << (2 * depth[src])) + i)
    kind = covering["kind"].to_numpy()[src].astype(np.int32)

    rows = np.flatnonzero(kind == BOUNDARY)
    rows = rows[np.argsort(pid[rows], kind="stable")]
    at, edges = [np.empty(0, np.int64)], [(np.empty(0),) * 4]
    for r in np.split(rows, np.flatnonzero(np.diff(pid[rows])) + 1)[:len(rows)]:
        kind[r], j, *xy = _cell_edges(soups[int(pid[r[0]])], leaf[r], res)
        at.append(r[j])
        edges.append(xy)
    at = np.concatenate(at)
    order = np.argsort(at, kind="stable")
    keep = kind >= 0
    out = pd.DataFrame({"polygon_id": pid[keep], "cell": leaf[keep], "kind": kind[keep]})
    return out.assign(**_edge_lists(np.bincount(at, minlength=len(kind))[keep],
                                    *(np.concatenate(v)[order] for v in zip(*edges))))


def _cell_edges(soup: G.EdgeSoup, cells: np.ndarray, res: int):
    """One polygon's BOUNDARY leaf cells → ``(kind, at, x1, y1, x2,
    y2)``: each cell's new kind (BOUNDARY, FULL, or -1 to drop it) and
    the ray-cast edges of the cells kept BOUNDARY, ``at`` being the
    cell's index. With ``B`` the cell box widened by ``t = _CELL_TOL``,
    an edge whose y-range meets the cell's row (widened alike) is:

    * **near** if its bounding box meets ``B`` and its cross product
      (the kernel's on-edge test, ``≤ 1e-12``, plus ``t`` per degree of
      edge for rounding) can vanish on ``B``. Kept as is, so the ray
      cast reads the same floats as ``points_in_edgesoup``.
    * **west** if not near and west of ``B`` in the row: it crosses
      no point's eastward ray. Dropped.
    * **east** if not near and east of ``B``: a point's ray crosses it
      iff ``min(y) ≤ Y < max(y)``, adding the parity of its endpoint-ys
      ``≤ Y``. Equal pairs cancel, values above ``B`` never count and
      values below always do (one ``cy0 - 1`` when odd); each other
      ``v`` becomes a stub ``(cx1 + 1, v) → (cx1 + 1, cy1 + 1)``, which
      the kernel crosses iff ``v ≤ Y`` and never finds a point on.

    Edges outside the row neither hold nor cross a point of the cell. A
    cell with no near edge is wholly inside or outside: FULL if its
    stubs put its centre inside, dropped otherwise.
    """
    t = _CELL_TOL
    x1, y1, x2, y2 = soup.x1, soup.y1, soup.x2, soup.y2
    cx0, cy0, cx1, cy1 = C.cell_bounds(cells)
    gy = C.decode_cell(cells)[2]
    by_row = np.argsort(gy, kind="stable")
    # each edge pairs with the cells of the grid rows its y-range meets
    first = np.searchsorted(gy[by_row], C.grid_xy(x1, np.minimum(y1, y2) - t, res)[1])
    n = np.searchsorted(gy[by_row], C.grid_xy(x1, np.maximum(y1, y2) + t, res)[1],
                        "right") - first
    near, east, lo, ends = [], [], 0, np.cumsum(n)
    while lo < len(n):  # in runs of about _PAIR_CHUNK pairs
        hi = max(lo + 1, int(np.searchsorted(ends, ends[lo] - n[lo] + _PAIR_CHUNK, "right")))
        k = n[lo:hi]
        e = np.repeat(np.arange(lo, hi), k)
        c = by_row[np.repeat(first[lo:hi] - np.cumsum(k) + k, k)
                   + np.arange(int(k.sum()))]
        lo = hi
        ex1, ey1, ex2, ey2 = x1[e], y1[e], x2[e], y2[e]
        bx0, bx1, by0, by1 = cx0[c] - t, cx1[c] + t, cy0[c] - t, cy1[c] + t
        dx, dy = ex2 - ex1, ey2 - ey1
        cross = [dx * (y - ey1) - dy * (x - ex1) for x in (bx0, bx1) for y in (by0, by1)]
        tol = 1e-12 + t * (np.abs(dx) + np.abs(dy))
        is_near = ((np.minimum(ex1, ex2) <= bx1) & (np.maximum(ex1, ex2) >= bx0)
                   & (np.minimum(ey1, ey2) <= by1) & (np.maximum(ey1, ey2) >= by0)
                   & (np.minimum.reduce(cross) <= tol)
                   & (np.maximum.reduce(cross) >= -tol))
        near.append((c[is_near], e[is_near]))
        # a far edge lies wholly on one side of B within the row: the
        # side of its point at a height inside both
        ys = np.clip((ey1 + ey2) / 2, by0, by1)
        with np.errstate(divide="ignore", invalid="ignore"):
            xs = np.where(dy != 0, ex1 + (ys - ey1) * dx / dy, ex1)
        is_east = ~is_near & (xs > (cx0[c] + cx1[c]) / 2)
        c, v = np.tile(c[is_east], 2), np.concatenate([ey1[is_east], ey2[is_east]])
        c, v = c[v <= cy1[c] + t], v[v <= cy1[c] + t]
        east.append(_odd_pairs(c, np.where(v < cy0[c] - t, cy0[c] - 1.0, v)))
    nc, ne = (np.concatenate(a) for a in zip(*near))
    sc, sv = _odd_pairs(*(np.concatenate(a) for a in zip(*east)))
    has_near = np.bincount(nc, minlength=len(cells)) > 0
    inside = np.bincount(sc[sv <= ((cy0 + cy1) / 2)[sc]], minlength=len(cells)) % 2
    kind = np.where(has_near, BOUNDARY, np.where(inside == 1, FULL, -1))
    sc, sv = sc[has_near[sc]], sv[has_near[sc]]
    sx = cx1[sc] + 1.0
    return (kind, np.concatenate([nc, sc]),
            np.concatenate([x1[ne], sx]), np.concatenate([y1[ne], sv]),
            np.concatenate([x2[ne], sx]), np.concatenate([y2[ne], cy1[sc] + 1.0]))


def _odd_pairs(c: np.ndarray, v: np.ndarray):
    """The distinct ``(c, v)`` pairs that occur an odd number of times."""
    o = np.lexsort((v, c))
    c, v = c[o], v[o]
    start = np.flatnonzero(np.r_[True, (c[1:] != c[:-1]) | (v[1:] != v[:-1])])[:len(c)]
    odd = start[np.diff(start, append=len(c)) % 2 == 1]
    return c[odd], v[odd]


def _edge_lists(counts: np.ndarray, x1, y1, x2, y2) -> dict:
    """``_EDGE_COLS`` as Arrow-backed list columns: row ``i`` holds the
    next ``counts[i]`` edges. ``_binv`` is ``1 / dy`` (0 for a
    horizontal edge), the same expression as ``points_in_edgesoup``'s."""
    offsets = pa.array(np.concatenate([[0], np.cumsum(counts)]), pa.int32())
    dy = y2 - y1
    with np.errstate(divide="ignore", invalid="ignore"):
        inv_dy = np.where(dy != 0, 1.0 / np.where(dy == 0, 1.0, dy), 0.0)
    return {name: pd.arrays.ArrowExtensionArray(
                pa.ListArray.from_arrays(offsets, pa.array(v, pa.float64())))
            for name, v in zip(_EDGE_COLS, (x1, y1, x2, y2, inv_dy))}


def _raycast_sql(lon: str, lat: str) -> str:
    """Spark-SQL twin of :func:`geometry.points_in_edgesoup` over one
    row's ``_EDGE_COLS`` arrays: the same per-pair operations in the
    same order (Java has no implicit FMA, so every per-pair boolean
    equals numpy's). The accumulator keeps the crossing parity in bit 0
    and the on-edge flag in bit 1, so ``!= 0`` is
    ``on_edge OR odd crossings`` (boundary counts inside)."""
    X, Y = f"`{lon}`", f"`{lat}`"
    x1, y1, x2, y2, inv = (f"`{c}`[_k]" for c in _EDGE_COLS)
    straddle = (f"((({y1} <= {Y}) AND ({Y} < {y2}))"
                f" OR (({y2} <= {Y}) AND ({Y} < {y1})))")
    xi = f"({x1} + ((({Y} - {y1}) * ({x2} - {x1})) * {inv}))"
    cross = f"((({x2} - {x1}) * ({Y} - {y1})) - (({y2} - {y1}) * ({X} - {x1})))"
    on_edge = (f"((abs({cross}) <= 1.0E-12D)"
               f" AND ({X} >= least({x1}, {x2})) AND ({X} <= greatest({x1}, {x2}))"
               f" AND ({Y} >= least({y1}, {y2})) AND ({Y} <= greatest({y1}, {y2})))")
    step = f"((_acc ^ IF({straddle} AND ({xi} > {X}), 1, 0)) | IF({on_edge}, 2, 0))"
    return (f"aggregate(sequence(0, size(`{_EDGE_COLS[0]}`) - 1), 0,"
            f" (_acc, _k) -> {step}) != 0")


def _index_bytes(prepared: PreparedPolygons) -> int:
    """Estimated size of the leaf table: two longs and an int (20 B)
    per row, five doubles (40 B) per edge."""
    edges = int(prepared.leaf[_EDGE_COLS[0]].list.len().sum())
    return 20 * len(prepared.leaf) + 40 * edges


def pip_join(points: DataFrame, prepared: PreparedPolygons,
             lon: str = "lon", lat: str = "lat") -> DataFrame:
    """points ⋈ polygons containment join.

    Returns ``points`` columns + ``polygon_id`` (inner-join semantics:
    one output row per (point, containing polygon); points in no
    polygon drop out). Boundary points count as inside (reference
    Contains ∨ Overlaps, ``AdminCountPerCountryAnalyzer.cs:515-518``).

    Each point's leaf cell equi-joins the leaf table once (at most one
    row per polygon), and one ``Filter`` keeps FULL hits and the
    BOUNDARY hits the ray cast over the row's own edges puts inside;
    ``OR`` short-circuits it for FULL hits, whose arrays are empty.
    Spark folds the filter into the join's condition, which keeps that
    join out of whole-stage codegen (``aggregate`` is interpreted).
    The leaf table is broadcast when :func:`_index_bytes` fits under
    ``spark.sql.autoBroadcastJoinThreshold`` (≤ 0 turns it off);
    otherwise both sides shuffle once, on the cell key, with no hand
    ``.repartition``: AQE splits a hot cell only in a join's own
    exchanges.
    """
    spark = points.sparkSession
    leaf = prepared.leaf_df(spark).withColumnRenamed("cell", "_cell")
    limit = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    if limit > 0 and _index_bytes(prepared) <= limit:
        leaf = F.broadcast(leaf)
    return (
        C.attach_cell(points, prepared.res, lon=lon, lat=lat, out="_cell")
        .join(leaf, "_cell")
        .where(F.expr(f"kind = {FULL} OR {_raycast_sql(lon, lat)}"))
        .select(*(f"`{c}`" for c in points.columns), "polygon_id")
    )


def pip_join_brute(points: DataFrame, polygons: list[tuple[int, bytes]],
                   lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Reference implementation for tests: every point ray-cast against
    every edge of every polygon by pip_join's SQL kernel (no covering
    prefilter). O(points × edges)."""
    soups = [(int(p), G.EdgeSoup.from_wkb(w)) for p, w in polygons]
    soups = [(p, s) for p, s in soups if len(s.x1)]  # sequence(0, -1) is [0, -1]
    table = pd.DataFrame({"polygon_id": [p for p, _ in soups]}, dtype=np.int64).assign(
        **_edge_lists(np.array([len(s.x1) for _, s in soups], np.int64), *(
            np.concatenate([getattr(s, k) for _, s in soups] or [np.empty(0)])
            for k in ("x1", "y1", "x2", "y2"))))
    return (
        points.crossJoin(F.broadcast(points.sparkSession.createDataFrame(
            table, schema=_EDGE_SCHEMA)))
        .where(F.expr(_raycast_sql(lon, lat)))
        .drop(*_EDGE_COLS)
    )
