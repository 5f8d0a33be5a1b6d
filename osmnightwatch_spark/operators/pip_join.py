"""Point-in-polygon containment join — the engine's core spatial operator.

Recasts the reference's filter-and-refine containment join
(``AdminCountPerCountryAnalyzer.cs:615-679``: R-tree candidate pass at
:645-648, prepared-geometry ``Contains``∨``Overlaps`` refinement at
:664-674) as one Spark-native join per point:

1. **Prepare** (once per polygon set, memoized — the PreparedPolygon
   analog, :486,637): one row scan per polygon lists its leaf cells,
   FULL (inside) and BOUNDARY (an edge comes near): the small side is
   replicated, never the point side. Each BOUNDARY leaf cell carries
   its own ray-cast edges — the edges near it plus stubs for those
   wholly east of it (S2's ``S2ShapeIndex`` cell pattern).
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

FULL = 0      # leaf cell wholly inside the polygon: the hit is kept
BOUNDARY = 1  # an edge comes near the leaf cell: the hit is ray-cast


#: memo for :meth:`PreparedPolygons.build` keyed on (res, polygon
#: tuple) — see the docstring there
_BUILD_CACHE: dict = {}

#: most rows the leaf table may hold (~80 MB; the 25 admin fixture
#: polygons give 17k at res 7, 258k at 9, 4.08M at 11)
_MAX_LEAF_CELLS = 1 << 22

#: per-edge array columns of a BOUNDARY leaf row (ray-cast inputs)
_EDGE_COLS = ("_bx1", "_by1", "_bx2", "_by2", "_binv")

#: degrees each leaf cell's box is widened by before polygon edges are
#: sorted into it — a point's cell (the floor of its grid coordinate)
#: holds it to within an ulp, so this only guards against a last-ulp
#: disagreement between numpy and the JVM
_CELL_TOL = 1e-9

#: about the most (edge, cell) or (edge, row) pairs held at once
_PAIR_CHUNK = 1 << 20


@dataclass
class PreparedPolygons:
    """Prepared polygon set: the leaf table, one row per (polygon, leaf
    cell) it keeps — FULL, or BOUNDARY with the cell's ray-cast edges."""

    res: int                        # leaf resolution
    leaf: pd.DataFrame              # polygon_id, cell, kind INT, + _EDGE_COLS

    @property
    def covering(self) -> pd.DataFrame:
        """``leaf``'s ``polygon_id``, ``cell`` and ``kind`` columns."""
        return self.leaf[["polygon_id", "cell", "kind"]]

    @classmethod
    def build(cls, polygons: list[tuple[int, bytes]], res: int = 7) -> "PreparedPolygons":
        """polygons: [(polygon_id, wkb_polygon_or_multipolygon), ...].

        Each WKB is parsed once and :func:`_leaf_table` scans it on the
        driver, raising ``ValueError`` past ``_MAX_LEAF_CELLS`` rows.

        Memoized on the full input, with the per-session DataFrame
        memos: a caller that re-plans the same join (every bench run,
        every validator micro-batch) pays the build once. Reference
        analog: ``AdminCountPerCountryAnalyzer.cs:470-490``.
        """
        key = (res, tuple((int(p), bytes(w)) for p, w in polygons))
        hit = _BUILD_CACHE.get(key)
        if hit is not None:
            return hit
        out = cls(res=res, leaf=_leaf_table(
            [(int(pid), G.EdgeSoup.from_wkb(wkb)) for pid, wkb in polygons], res))
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

    def leaf_df(self, spark: SparkSession) -> DataFrame:
        """The leaf table as a LocalRelation (per-session memo), passed as
        Arrow: from pandas, its list columns convert ~4× slower."""
        return self._per_session(spark, "leaf", lambda: spark.createDataFrame(
            pa.Table.from_pandas(self.leaf, preserve_index=False), schema=_LEAF_SCHEMA))


_EDGE_FIELDS = [T.StructField(c, T.ArrayType(T.DoubleType(), False), False)
                for c in _EDGE_COLS]
_LEAF_SCHEMA = T.StructType([
    T.StructField("polygon_id", T.LongType(), False),
    T.StructField("cell", T.LongType(), False),
    T.StructField("kind", T.IntegerType(), False),
] + _EDGE_FIELDS)
_EDGE_SCHEMA = T.StructType([_LEAF_SCHEMA["polygon_id"]] + _EDGE_FIELDS)


def _leaf_table(soups: list[tuple[int, G.EdgeSoup]], res: int) -> pd.DataFrame:
    """The leaf table of ``soups``, polygon by polygon in input order:
    the candidate cells of :func:`_row_scan` as :func:`_cell_edges`
    classifies them (BOUNDARY with its edges, FULL, or dropped), then
    the cells of its FULL runs, each in row-major order; FULL rows hold
    empty arrays. ``(polygon_id, cell)`` is unique. The row count
    (candidates plus FULL run lengths) is checked before any run is
    expanded: a world-size polygon at a high ``res`` would otherwise
    exhaust the driver.
    """
    scans, total = [], 0
    for _, soup in soups:
        cand, full = _row_scan(soup, res, total)
        total += _run_length(cand) + _run_length(full)
        scans.append((cand, full))
    _check_leaf_cells(total, res)
    pid, cell, kind, counts = ([np.empty(0, np.int64)] for _ in range(4))
    edges = [(np.empty(0),) * 4]
    for (p, soup), (cand, full) in zip(soups, scans):
        cells = _run_cells(*cand, res)
        if not len(cells):
            continue
        k, at, *xy = _cell_edges(soup, cells, res)
        keep = k >= 0
        order = np.argsort(at, kind="stable")
        inner = _run_cells(*full, res)
        pid.append(np.full(int(keep.sum()) + len(inner), p, np.int64))
        cell += [cells[keep], inner]
        kind += [k[keep], np.full(len(inner), FULL)]
        counts += [np.bincount(at, minlength=len(cells))[keep], np.zeros(len(inner), np.int64)]
        edges.append([v[order] for v in xy])
    out = pd.DataFrame({"polygon_id": np.concatenate(pid), "cell": np.concatenate(cell),
                        "kind": np.concatenate(kind).astype(np.int32)})
    return out.assign(**_edge_lists(np.concatenate(counts),
                                    *(np.concatenate(v) for v in zip(*edges))))


def _row_scan(soup: G.EdgeSoup, res: int, spent: int):
    """One polygon's leaf cells as column runs ``(row, c0, c1)`` of grid
    coordinates, sorted, disjoint and not yet expanded: ``(candidates,
    full)``. With ``t = _CELL_TOL``:

    * **Candidates** hold every cell :func:`_cell_edges` could call near
      an edge. Each edge pairs with the grid rows its y-range meets,
      widened by ``t`` (the rows ``_cell_edges`` pairs it with). Its
      cross product is ``-dy · (x - x_line(y))``, so the on-edge band
      ``|cross| ≤ tol`` of ``_cell_edges`` meets a cell box widened by
      ``t`` only if the cell meets the line's x-range over the row's
      widened y-band, widened by ``tol / |dy| + t``; and a near edge's
      bounding box meets that box, which caps the range to the edge's
      x-range ± ``t``. Both margins get one more ``t`` against rounding
      (a horizontal edge's range is the capped one).
    * **FULL runs**: the cells between two candidate runs of a row meet
      no edge, so they are all inside or all outside — inside iff an
      odd number of the edges crossing the row's centre line (the
      kernel's half-open rule) cross it east of the run. Each crossing
      lies in a candidate cell, so only each column's crossing parity
      is kept.

    The pairs are cut in runs of ``_PAIR_CHUNK``, and the candidates
    alone are held to ``_MAX_LEAF_CELLS`` (less the ``spent`` rows of
    earlier polygons) as they grow, so a huge edge raises early.
    """
    t, h = _CELL_TOL, 180.0 / (1 << res)
    x1, y1, x2, y2 = soup.x1, soup.y1, soup.x2, soup.y2
    r0 = C.grid_xy(x1, np.minimum(y1, y2) - t, res)[1]
    ends = np.cumsum(C.grid_xy(x1, np.maximum(y1, y2) + t, res)[1] - r0 + 1)
    pairs = int(ends[-1]) if len(ends) else 0
    empty = np.empty(0, np.int64)
    cand, crossings = (empty,) * 3, (empty,) * 2
    for p0 in range(0, pairs, _PAIR_CHUNK):
        p = np.arange(p0, min(p0 + _PAIR_CHUNK, pairs))
        e = np.searchsorted(ends, p, "right")
        row = r0[e] + p - np.r_[0, ends][e]
        ex1, ey1, ex2, ey2 = x1[e], y1[e], x2[e], y2[e]
        dx, dy = ex2 - ex1, ey2 - ey1
        cy0 = -90.0 + row * h
        cy1 = cy0 + h
        with np.errstate(divide="ignore", invalid="ignore"):
            xa = ex1 + (cy0 - t - ey1) * dx / dy
            xb = ex1 + (cy1 + t - ey1) * dx / dy
            w = 2 * t + (1e-12 + t * (np.abs(dx) + np.abs(dy))) / np.abs(dy)
            inv_dy = np.where(dy != 0, 1.0 / np.where(dy == 0, 1.0, dy), 0.0)
        lo = np.fmax(np.fmin(xa, xb) - w, np.minimum(ex1, ex2) - 2 * t)
        hi = np.fmin(np.fmax(xa, xb) + w, np.maximum(ex1, ex2) + 2 * t)
        c0, c1 = C.grid_xy(np.stack([lo, hi]), 0.0, res)[0]
        ok = c0 <= c1
        cand = _merge_runs(*(np.concatenate(a) for a in zip(cand, (row[ok], c0[ok], c1[ok]))))
        _check_leaf_cells(spent + _run_length(cand), res)
        # the kernel's crossings of the row's centre line
        yc = (cy0 + cy1) / 2
        cross = ((ey1 <= yc) & (yc < ey2)) | ((ey2 <= yc) & (yc < ey1))
        xi = ex1 + (yc - ey1) * dx * inv_dy
        crossings = _odd_pairs(*(np.concatenate(a) for a in zip(
            crossings, (row[cross], C.grid_xy(xi[cross], 0.0, res)[0]))))
    row, c0, c1 = cand
    gap = row[1:] == row[:-1]
    row, c0, c1 = row[1:][gap], c1[:-1][gap] + 1, c0[1:][gap] - 1
    keys = (crossings[0] << C.MAX_RES) | crossings[1]
    east = (np.searchsorted(keys, (row + 1) << C.MAX_RES)
            - np.searchsorted(keys, (row << C.MAX_RES) | c0))
    odd = east % 2 == 1
    return cand, (row[odd], c0[odd], c1[odd])


def _merge_runs(row: np.ndarray, c0: np.ndarray, c1: np.ndarray):
    """The sorted, disjoint column runs that cover the ``(row, c0, c1)``
    runs; runs that touch are joined."""
    o = np.lexsort((c0, row))
    row, c0, c1 = row[o], c0[o], c1[o]
    # the furthest column reached so far in each row
    reach = np.maximum.accumulate((row << C.MAX_RES) | c1) & ((1 << C.MAX_RES) - 1)
    start = np.flatnonzero(np.r_[True, (row[1:] != row[:-1]) | (c0[1:] > reach[:-1] + 1)]
                           [:len(row)])
    return row[start], c0[start], reach[np.r_[start[1:], len(row)] - 1]


def _run_length(runs) -> int:
    return int((runs[2] - runs[1] + 1).sum())


def _run_cells(row: np.ndarray, c0: np.ndarray, c1: np.ndarray, res: int) -> np.ndarray:
    """The cell ids of the column runs, run by run."""
    n = c1 - c0 + 1
    col = np.repeat(c0 - np.cumsum(n) + n, n) + np.arange(int(n.sum()))
    return C.cell_from_xy(col, np.repeat(row, n), res)


def _check_leaf_cells(total: int, res: int) -> None:
    """``ValueError`` past ``_MAX_LEAF_CELLS`` rows, naming a coarser
    res (each level down quarters a table of mostly FULL rows)."""
    if total > _MAX_LEAF_CELLS:
        k = next(k for k in range(1, 64) if total <= _MAX_LEAF_CELLS << 2 * k)
        raise ValueError(
            f"the leaf table needs at least {total} cells at res {res}, over "
            f"the {_MAX_LEAF_CELLS} limit: use a coarser res (about "
            f"{max(0, res - k)})")


def _cell_edges(soup: G.EdgeSoup, cells: np.ndarray, res: int):
    """One polygon's candidate leaf cells → ``(kind, at, x1, y1, x2,
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
