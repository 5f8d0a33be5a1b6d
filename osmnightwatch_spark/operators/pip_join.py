"""Point-in-polygon containment join — the engine's core spatial operator.

Recasts the reference's filter-and-refine containment join
(``AdminCountPerCountryAnalyzer.cs:615-679``: SpatiaLite R-tree
``search_frame`` candidate pass at :645-648, prepared-geometry
``Intersects``→``Contains``∨``Overlaps`` refinement at :664-674) as a
Spark-native two-phase plan:

1. **Prepare** (once per polygon set, memoized — the PreparedPolygon
   analog, :486,637): each polygon → quadtree cell covering with cells
   classified FULL (entirely inside) or BOUNDARY (edge passes through)
   — ``functions.geometry.cover_polygon``, on executors for large sets
   and on the driver for small ones — expanded to the leaf resolution
   (the small side is replicated, never the point side), plus a band
   index, built on the driver: per (polygon, leaf-resolution grid row)
   the polygon's edges whose y-range overlaps that row.
2. **Candidate pass** (the R-tree analog): points get their leaf cell
   via the *native* ``attach_cell`` encode (whole-stage codegen, no
   Python) and equi-join the leaf table on ``cell``: one probe per
   point. For dim-sized polygon sets we force ``broadcast`` so the
   10^12-row point side is never shuffled.
3. **Refine**, in the same pass: FULL-cell hits are inside by
   construction. BOUNDARY hits LEFT-join the band index on (polygon,
   grid row) and one ``Filter`` ray-casts them only: a native SQL
   ``aggregate`` over that row's edges — bit-identical to
   ``geometry.points_in_edgesoup`` over the whole polygon (an edge
   whose y-range misses the point's row adds no crossing and cannot
   hold it), with no Python in the plan.

Scale notes (100 TB / 10^12 rows):
* the point side is scanned once and touched by one narrow projection
  + two map-side joins — no shuffle, no explode and no Python;
* refinement volume is proportional to the polygon *perimeter* measured
  in cells, not to the point count: finer covering resolution trades a
  bigger broadcast for less refine work (``cover_res`` knob; the leaf
  table grows ~4× per level, capped at ``_MAX_LEAF_CELLS`` rows); per
  refined point the cost is the edges of one grid row, not of the
  whole polygon, so polygons with 10^4–10^6 vertices stay cheap;
* hot cells (cities) don't skew this join: broadcast join has no
  shuffle; when the index outgrows the session's broadcast threshold
  both sides shuffle on the cell key and AQE skew-join splitting
  applies (the band join keys a polygon's FULL hits on (polygon,
  NULL); AQE splits a LEFT join's left side too).
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

#: total vertex (edge) count from which :meth:`PreparedPolygons.build`
#: covers on executors: the smallest measured size at which executors
#: won every rep. Seconds per cold build, local[4] on a 4-core host,
#: res 7 random stars with an 8-vertex hole (300 random rectangles at
#: res 6), the two paths alternating; at every size both paths gave
#: the same covering and bands:
#:
#:   set                total   driver       executors   executors won
#:   300 rectangles      1.2k   0.61–0.68    1.14–1.57   0 of 3
#:   64 × 100 vertices   6.9k   0.35–0.37    0.76–0.92   0 of 3
#:   64 × 250           16.5k   0.45–0.56    0.69–0.81   0 of 3
#:   64 × 500           32.5k   0.65–1.06    0.86–1.22   2 of 7
#:   64 × 600           38.9k   0.81–0.87    0.83–1.01   1 of 4
#:   64 × 750           48.5k   1.11–1.34    0.88–1.16   4 of 4
#:   64 × 1000          64.5k   1.34–1.88    1.01–1.13   7 of 7
#:   64 × 10000          641k   9.3–11.6     3.9–4.7     3 of 3
_EXECUTOR_MIN_VERTICES = 48_000

#: most rows :func:`_leaf_table` may expand a covering to (~80 MB; the
#: 25 admin fixture polygons give 17k at res 7, 258k at 9, 4.08M at 11)
_MAX_LEAF_CELLS = 1 << 22

#: per-edge array columns of the band index (ray-cast inputs)
_EDGE_COLS = ("_bx1", "_by1", "_bx2", "_by2", "_binv")

#: degrees each edge's y-range is widened by before it is assigned to
#: grid rows — the row of an in-range point already lies inside the
#: exact span (the row expression is monotone), so this only guards
#: against a last-ulp disagreement between numpy and the JVM
_BAND_TOL = 1e-9


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
    """Prepared polygon set: quadtree covering, its expansion to the
    leaf resolution, and the band index."""

    covering: pd.DataFrame          # polygon_id LONG, cell LONG, kind TINYINT
    res: int                        # leaf (finest) covering resolution
    leaf: pd.DataFrame              # covering expanded to res, kind INT
    bands: pd.DataFrame             # polygon_id, _band, + _EDGE_COLS arrays

    @classmethod
    def build(cls, polygons: list[tuple[int, bytes]], res: int = 7,
              max_cells: int = 4096) -> "PreparedPolygons":
        """polygons: [(polygon_id, wkb_polygon_or_multipolygon), ...].

        Each WKB is parsed once on the driver, into the edge arrays the
        band index is built from. The covering — the per-polygon
        quadtree recursion, the expensive half of prepare — runs on
        executors (``mapInPandas``, one task per polygon group) when the
        set holds at least ``_EXECUTOR_MIN_VERTICES`` vertices and at
        least 2 polygons and a Spark session is active; otherwise it
        runs on the driver. The vertex count is checked first, so a
        small set never touches the JVM. Both paths run
        :func:`_cover_one` and give the same covering.

        ``leaf`` (:func:`_leaf_table`, the table :func:`pip_join`
        probes) raises ``ValueError`` past ``_MAX_LEAF_CELLS`` rows.

        Memoized on the full input (polygon set is immutable): a caller
        that re-plans the same join (every bench run, every streaming
        micro-batch of the admin validator) pays the covering once. The
        cache also carries the per-session DataFrame memos across
        calls. Reference analog: the prepared-geometry cache,
        ``AdminCountPerCountryAnalyzer.cs:470-490``.
        """
        key = (res, max_cells,
               tuple((int(p), bytes(w)) for p, w in polygons))
        hit = _BUILD_CACHE.get(key)
        if hit is not None:
            return hit
        parsed = [(int(pid), G.wkb_to_polygons(wkb)) for pid, wkb in polygons]
        edges: dict[int, tuple] = {}
        for pid, polys in parsed:
            soup = G.EdgeSoup(polys)
            edges[pid] = (soup.x1, soup.y1, soup.x2, soup.y2)
        n_vertices = sum(len(e[0]) for e in edges.values())
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
        out = cls(covering=covering, res=res, leaf=_leaf_table(covering, res),
                  bands=_edge_table(edges, res))
        if len(_BUILD_CACHE) >= 16:  # bounded: a handful of live sets
            _BUILD_CACHE.clear()
        _BUILD_CACHE[key] = out
        return out

    def _per_session(self, spark: SparkSession, name: str, make) -> DataFrame:
        """``make()``, memoized per session: the prepared tables are
        immutable and repeated pip_join calls (flagship, coverage, every
        bench run) would otherwise pay the pandas→Arrow→JVM conversion
        of the same table on every plan build (driver-side, measured
        ~0.1 s of the per-run planning gap — guide §5 "the driver should
        do almost no data work"). applicationId is in the key: build()
        memoization makes prepared sets outlive sessions, and a
        recycled id() alone could alias a dead session's DataFrame."""
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
        """The leaf table as a LocalRelation (per-session memo)."""
        return self._per_session(spark, "leaf", lambda: spark.createDataFrame(
            self.leaf, schema=_COVER_SCHEMA))

    def bands_df(self, spark: SparkSession) -> DataFrame:
        """The band index as a LocalRelation (per-session memo)."""
        return self._per_session(spark, "bands", lambda: spark.createDataFrame(
            self.bands, schema=_EDGE_SCHEMA))


_COVER_SCHEMA = T.StructType([
    T.StructField("polygon_id", T.LongType(), False),
    T.StructField("cell", T.LongType(), False),
    T.StructField("kind", T.IntegerType(), False),
])

_EDGE_SCHEMA = T.StructType(
    [T.StructField("polygon_id", T.LongType(), False),
     T.StructField("_band", T.LongType(), False)]
    + [T.StructField(c, T.ArrayType(T.DoubleType(), False), False)
       for c in _EDGE_COLS]
)


def _leaf_table(covering: pd.DataFrame, res: int) -> pd.DataFrame:
    """``covering`` with every cell at level ``lv < res`` replaced by its
    ``4^(res-lv)`` descendants at ``res`` (kind carried), built
    vectorized. Descendant ``i`` of a cell with ``d = res - lv`` is
    ``(res << 58) | ((morton << 2d) + i)``: the exact inverse of
    ``parent_spark_sql``. Covering cells are disjoint per polygon, so
    ``(polygon_id, cell)`` stays unique.

    The row count ``Σ 4^(res-lv)`` is checked before anything is
    allocated: a world-size polygon at a high ``res`` would otherwise
    exhaust the driver.
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
    return pd.DataFrame({
        "polygon_id": covering["polygon_id"].to_numpy(np.int64)[src],
        "cell": (res << C._RES_SHIFT) | ((morton << (2 * depth[src])) + i),
        "kind": covering["kind"].to_numpy()[src].astype(np.int32),
    })


def _edge_table(edges: dict[int, tuple], res: int | None) -> pd.DataFrame:
    """Edge arrays grouped per (polygon_id, _band), built vectorized.

    With ``res``, ``_band`` is the leaf grid row of ``res`` (the numpy
    twin of the ``_grid_spark_sql`` latitude row ``attach_cell`` uses)
    and each edge is listed in every row its y-range, widened by
    ``_BAND_TOL``, overlaps. With ``res=None`` every polygon is one
    group holding its whole edge list (``_band`` 0). Groups without
    edges are never emitted: the ray cast iterates ``sequence(0,
    size - 1)``, and ``sequence(0, -1)`` is ``[0, -1]``.
    """
    pids = np.fromiter(edges, dtype=np.int64, count=len(edges))
    n_edges = np.array([len(edges[p][0]) for p in pids.tolist()], dtype=np.int64)
    x1, y1, x2, y2 = (
        np.concatenate([np.asarray(edges[p][k], np.float64) for p in pids.tolist()])
        if len(pids) else np.empty(0, np.float64)
        for k in range(4)
    )
    pid = np.repeat(pids, n_edges)
    if res is None:
        lo = hi = np.zeros(len(x1), np.int64)
    else:
        def row(y):
            return C.grid_xy(np.zeros_like(y), y, res)[1]
        lo = row(np.minimum(y1, y2) - _BAND_TOL)
        hi = row(np.maximum(y1, y2) + _BAND_TOL)
    span = hi - lo + 1
    edge = np.repeat(np.arange(len(x1), dtype=np.int64), span)
    band = lo[edge] + np.arange(len(edge)) - np.repeat(np.cumsum(span) - span, span)
    order = np.lexsort((band, pid[edge]))
    edge, band = edge[order], band[order]
    gpid = pid[edge]
    new = np.ones(len(edge), dtype=bool)
    new[1:] = (gpid[1:] != gpid[:-1]) | (band[1:] != band[:-1])
    start = np.flatnonzero(new)
    offsets = pa.array(np.append(start, len(edge)), pa.int32())
    # the same expression as points_in_edgesoup's inv_dy
    dy = y2 - y1
    with np.errstate(divide="ignore", invalid="ignore"):
        inv_dy = np.where(dy != 0, 1.0 / np.where(dy == 0, 1.0, dy), 0.0)
    out = pd.DataFrame({"polygon_id": gpid[start], "_band": band[start]})
    for name, v in zip(_EDGE_COLS, (x1, y1, x2, y2, inv_dy)):
        out[name] = pa.ListArray.from_arrays(offsets, pa.array(v[edge])).to_pandas()
    return out


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
    """Estimated size of the leaf table plus band index: row count ×
    schema width. A leaf row is two longs and an int (20 B); a band row
    is two longs (16 B) plus five doubles per edge it lists (40 B per
    edge reference)."""
    refs = int(prepared.bands[_EDGE_COLS[0]].map(len).sum())
    return 20 * len(prepared.leaf) + 16 * len(prepared.bands) + 40 * refs


def pip_join(points: DataFrame, prepared: PreparedPolygons,
             lon: str = "lon", lat: str = "lat") -> DataFrame:
    """points ⋈ polygons containment join.

    Returns ``points`` columns + ``polygon_id`` (inner-join semantics:
    one output row per (point, containing polygon); points in no
    polygon drop out). Boundary points count as inside (reference
    Contains ∨ Overlaps, ``AdminCountPerCountryAnalyzer.cs:515-518``).

    One pass over ``points``: each point's leaf cell equi-joins the
    leaf table once (a point matches at most one row per polygon);
    BOUNDARY hits get their leaf grid row as ``_band`` (FULL hits
    NULL), LEFT-join that row's edges, and one ``Filter`` keeps FULL
    hits and the BOUNDARY hits the ray cast puts inside. As a filter,
    not a join condition, the ray cast leaves the join in whole-stage
    codegen; ``OR`` short-circuits it for FULL hits.

    The leaf table and band index are broadcast when their estimated
    size (:func:`_index_bytes`) fits under the session's
    ``spark.sql.autoBroadcastJoinThreshold``; a threshold ≤ 0 turns
    broadcast off. Otherwise both joins shuffle on their keys: the
    10^12-row-covering shape, with no hand ``.repartition``: AQE
    splits a hot cell only in a join's own exchanges.
    """
    spark = points.sparkSession
    leaf = prepared.leaf_df(spark).withColumnRenamed("cell", "_cell")
    bands = prepared.bands_df(spark)
    limit = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    if limit > 0 and _index_bytes(prepared) <= limit:
        leaf, bands = F.broadcast(leaf), F.broadcast(bands)
    row = C._grid_spark_sql(f"`{lat}`", *C.LAT, prepared.res)
    return (
        C.attach_cell(points, prepared.res, lon=lon, lat=lat, out="_cell")
        .join(leaf, "_cell")
        .withColumn("_band", F.expr(f"IF(kind = {BOUNDARY}, {row}, NULL)"))
        .join(bands, ["polygon_id", "_band"], "left")
        .where(F.expr(f"kind = {FULL} OR (`{_EDGE_COLS[0]}` IS NOT NULL"
                      f" AND {_raycast_sql(lon, lat)})"))
        .select(*(f"`{c}`" for c in points.columns), "polygon_id")
    )


def pip_join_brute(points: DataFrame, polygons: list[tuple[int, bytes]],
                   lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Reference implementation for tests: every point ray-cast against
    every edge of every polygon by pip_join's SQL kernel (no covering
    prefilter, no bands). O(points × edges)."""
    spark = points.sparkSession
    edges = {}
    for pid, wkb in polygons:
        soup = G.EdgeSoup.from_wkb(wkb)
        edges[int(pid)] = (soup.x1, soup.y1, soup.x2, soup.y2)
    table = spark.createDataFrame(_edge_table(edges, None), schema=_EDGE_SCHEMA)
    return (
        points.crossJoin(F.broadcast(table))
        .where(F.expr(_raycast_sql(lon, lat)))
        .drop("_band", *_EDGE_COLS)
    )
