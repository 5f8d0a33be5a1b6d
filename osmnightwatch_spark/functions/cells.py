"""Hierarchical spatial cell encoding ("nwcell") — H3/S2-style, from scratch.

A global equirectangular quadtree: at resolution ``r`` (0..28) the
world ``lon ∈ [-180, 180) × lat ∈ [-90, 90)`` is a ``2^r × 2^r`` grid.
A cell id packs the resolution and the Morton (Z-order) interleave of
the (x, y) grid coordinates into one signed int64:

    cell_id = (r << 58) | morton(x, y)        # bits 0..55 morton, 58..62 res

Morton order makes the hierarchy pure bit arithmetic (the reference's
hierarchy analog is its id→blob binary-searchable index,
``PbfParser/PbfIndexBuilder.cs:278-294``; here parent/child are
shifts, so Catalyst keeps the whole ladder inside codegen):

    parent(cell, k)  = ((r-k) << 58) | (morton >> 2k)
    children(cell)   = ((r+1) << 58) | (morton << 2) | {0,1,2,3}

Three implementations share this spec and are cross-checked in tests:

* :func:`cell_of` / :func:`decode_cell` / :func:`ring_neighbors` —
  vectorized numpy (used inside pandas UDFs and as the pure-python
  oracle);
* :func:`attach_cell` / :func:`ring_cells_col` /
  :func:`parent_spark_sql` — the Spark side, rendered as Spark-SQL
  text over staged grid columns (whole-stage codegen, no Python
  boundary in the hot encode path); :func:`grid_col` is the one
  ``Column``-form helper, for callers whose input is a computed
  ``Column``, and :func:`box_cells` the one bbox cover built on it;
* :func:`cell_sql` / :func:`parent_sql` — the same arithmetic as ANSI
  SQL for the DuckDB correctness oracle.

Semantics deliberately equirectangular (not an icosahedral H3 clone):
the engine only needs hierarchical containment, equal-area-enough
bucketing, ring neighborhoods, and deterministic ids; the reference's
spatial candidate pass is likewise a planar R-tree over lon/lat
(``AdminCountPerCountryAnalyzer.cs:645-648``).
"""

from __future__ import annotations

import numpy as np

try:  # Spark optional so the numpy kernels import standalone
    from pyspark.sql import Column
    from pyspark.sql import functions as F
except ImportError:  # pragma: no cover
    Column = None
    F = None

MAX_RES = 28
_RES_SHIFT = 58

# magic-number bit spreading constants (0b0101.. family), positive in int64
_M1 = 0x0000FFFF0000FFFF
_M2 = 0x00FF00FF00FF00FF
_M3 = 0x0F0F0F0F0F0F0F0F
_M4 = 0x3333333333333333
_M5 = 0x5555555555555555

# ---------------------------------------------------------------------------
# numpy implementation
# ---------------------------------------------------------------------------


def _part1by1(v: np.ndarray) -> np.ndarray:
    """Spread the low 28 bits of ``v`` so bit i lands at position 2i."""
    v = v.astype(np.int64)
    v = (v | (v << 16)) & _M1
    v = (v | (v << 8)) & _M2
    v = (v | (v << 4)) & _M3
    v = (v | (v << 2)) & _M4
    v = (v | (v << 1)) & _M5
    return v


def _compact1by1(v: np.ndarray) -> np.ndarray:
    """Inverse of :func:`_part1by1` (keeps even bits, packs them low)."""
    v = v.astype(np.int64) & _M5
    v = (v | (v >> 1)) & _M4
    v = (v | (v >> 2)) & _M3
    v = (v | (v >> 4)) & _M2
    v = (v | (v >> 8)) & _M1
    v = (v | (v >> 16)) & 0x00000000FFFFFFFF
    return v


def grid_xy(lon, lat, res: int):
    """lon/lat arrays → integer grid coordinates at ``res`` (clamped)."""
    n = np.int64(1) << res
    x = np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * n).astype(np.int64)
    y = np.floor((np.asarray(lat, dtype=np.float64) + 90.0) / 180.0 * n).astype(np.int64)
    return np.clip(x, 0, n - 1), np.clip(y, 0, n - 1)


def cell_from_xy(x, y, res: int):
    x = np.asarray(x, dtype=np.int64)
    y = np.asarray(y, dtype=np.int64)
    return (np.int64(res) << _RES_SHIFT) | _part1by1(x) | (_part1by1(y) << 1)


def cell_of(lon, lat, res: int):
    """Vectorized lon/lat → cell id at resolution ``res``."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in 0..{MAX_RES}, got {res}")
    x, y = grid_xy(lon, lat, res)
    return cell_from_xy(x, y, res)


def decode_cell(cell):
    """cell ids → (res array, x array, y array)."""
    cell = np.asarray(cell, dtype=np.int64)
    res = (cell >> _RES_SHIFT).astype(np.int64)
    morton = cell & ((np.int64(1) << _RES_SHIFT) - 1)
    return res, _compact1by1(morton), _compact1by1(morton >> 1)


def parent_cell(cell, steps: int = 1):
    """Coarsen ``steps`` levels (pure bit arithmetic)."""
    cell = np.asarray(cell, dtype=np.int64)
    res = cell >> _RES_SHIFT
    morton = cell & ((np.int64(1) << _RES_SHIFT) - 1)
    return ((res - steps) << _RES_SHIFT) | (morton >> (2 * steps))


def children_cells(cell):
    """One-level refinement: (n, 4) array of child ids."""
    cell = np.asarray(cell, dtype=np.int64).reshape(-1)
    res = cell >> _RES_SHIFT
    morton = cell & ((np.int64(1) << _RES_SHIFT) - 1)
    base = ((res + 1) << _RES_SHIFT) | (morton << 2)
    return base[:, None] | np.arange(4, dtype=np.int64)[None, :]


def ring_neighbors(cell, k: int = 1):
    """All cells within Chebyshev distance ``k`` (incl. self), per cell.

    Longitude wraps (antimeridian-safe); latitude clamps at the poles.
    Returns an (n, (2k+1)^2) int64 array; duplicate ids possible at the
    poles (callers dedup via ``array_distinct`` / set semantics).
    """
    res, x, y = decode_cell(cell)
    n = np.int64(1) << res  # per-row grid size
    offs = np.arange(-k, k + 1, dtype=np.int64)
    dx = np.repeat(offs, 2 * k + 1)
    dy = np.tile(offs, 2 * k + 1)
    nx = (x[:, None] + dx[None, :]) % n[:, None]
    ny = np.clip(y[:, None] + dy[None, :], 0, (n - 1)[:, None])
    return (res[:, None] << _RES_SHIFT) | _part1by1(nx) | (_part1by1(ny) << 1)


def cell_bounds(cell):
    """cell ids → (lon_min, lat_min, lon_max, lat_max) arrays in degrees."""
    res, x, y = decode_cell(cell)
    n = (np.int64(1) << res).astype(np.float64)
    w, h = 360.0 / n, 180.0 / n
    lon0 = -180.0 + x * w
    lat0 = -90.0 + y * h
    return lon0, lat0, lon0 + w, lat0 + h


# ---------------------------------------------------------------------------
# Spark-SQL text renderers (single F.expr call per expression)
#
# Building the interleave as chained Column calls costs one py4j round
# trip PER operator (~0.3 ms each) and one eager Dataset analysis per
# withColumn — measured 0.1-0.3 s of pure driver time per query plan
# build at bench scale (guide §5: the driver should do almost no
# work). Rendering the identical expression as ONE SQL string hands
# the whole tree to the parser in a single call. Semantics are
# bit-identical: integer bit arithmetic, `D`-suffixed double literals
# (same IEEE values as F.lit(float)), same operation order — pinned by
# the cross-implementation tests in test_cells.py.
# ---------------------------------------------------------------------------


def _part1by1_spark_sql(e: str, bits: int = 32) -> str:
    """Spark-SQL twin of :func:`_part1by1` for inputs below ``2^bits``.

    A spread level with ``shift >= bits`` is the identity there (the
    shifted copy lands entirely inside the level's mask-cleared zone),
    so it is skipped — bit-identical results with a much smaller
    expression. Each kept level references the text below it twice, so
    the expression is ~2^levels refs of ``e``: at a typical kNN res of
    6, 3 levels (~8 refs) instead of 5 (~32). Pass ``e`` as a staged
    column ref, never as the floor chain itself.
    """
    for shift, mask in ((16, _M1), (8, _M2), (4, _M3), (2, _M4), (1, _M5)):
        if bits <= shift:
            continue
        e = f"((({e}) | shiftleft({e}, {shift})) & {mask}L)"
    return e


def _grid_spark_sql(e: str, lo: float, span: float, res: int) -> str:
    """Clamped grid index of ``e`` at ``res`` (same op order as
    :func:`grid_xy` and :func:`grid_col`)."""
    n = 1 << res
    g = f"CAST(FLOOR(((({e}) + {float(-lo)!r}D) / {float(span)!r}D) * {n}) AS BIGINT)"
    return f"GREATEST(0L, LEAST({n - 1}L, {g}))"


def cell_from_grid_spark_sql(gx: str, gy: str, res: int) -> str:
    """Grid coordinates → cell id (Spark-SQL twin of
    :func:`cell_from_xy`). ``gx`` / ``gy`` are staged column refs: the
    interleave references each of them ~2^levels times."""
    return (
        f"CAST((({res << _RES_SHIFT}L | {_part1by1_spark_sql(gx, res)})"
        f" | shiftleft({_part1by1_spark_sql(gy, res)}, 1)) AS BIGINT)"
    )


def parent_spark_sql(e: str, steps: int = 1) -> str:
    """Spark-SQL twin of :func:`parent_cell` (same bit arithmetic)."""
    res = f"shiftrightunsigned({e}, {_RES_SHIFT})"
    morton = f"(({e}) & {(1 << _RES_SHIFT) - 1}L)"
    return (f"(shiftleft(({res} - {steps}), {_RES_SHIFT})"
            f" | shiftrightunsigned({morton}, {2 * steps}))")


#: ``(lo, span)`` of each grid axis: ``grid_col(v, *LON, res)``
LON = (-180.0, 360.0)
LAT = (-90.0, 180.0)


def grid_col(v: "Column", lo: float, span: float, res: int) -> "Column":
    """Clamped grid index of ``v`` at ``res`` as a ``Column`` — the
    Column form of :func:`_grid_spark_sql` (same op order, same
    values).

    The one Column-form twin kept: its callers index computed Columns
    (a bbox corner widened by a radius, ``least(_x1, _x2) - r``; an
    intersection's min corner) inside :func:`box_cells` / join
    conditions and need the grid index only, never the interleave.
    """
    n = 1 << res
    g = F.floor((v + F.lit(float(-lo))) / F.lit(span) * F.lit(n)).cast("long")
    return F.greatest(F.lit(0), F.least(F.lit(n - 1), g))


def box_cells(df, res: int, x0: "Column", y0: "Column", x1: "Column",
              y1: "Column"):
    """``df`` + ``_gx`` / ``_gy``: one row per grid cell at ``res`` of
    the box ``[x0, x1] × [y0, y1]`` (lon/lat Columns, clamped to the
    grid like :func:`grid_xy`; a zero-size box gives its one cell) —
    the bbox cover of the overlay, geofence, map-match and clip
    joins. ``_gx`` explodes in the first projection next to the
    ``_gy`` range array, which explodes in a second one.
    """
    return (
        df.select(
            "*",
            F.explode(F.sequence(grid_col(x0, *LON, res),
                                 grid_col(x1, *LON, res))).alias("_gx"),
            F.sequence(grid_col(y0, *LAT, res),
                       grid_col(y1, *LAT, res)).alias("_gys"),
        )
        .select("*", F.explode("_gys").alias("_gy"))
        .drop("_gys")
    )


def attach_cell(df, res: int, lon: str = "lon", lat: str = "lat",
                out: str = "cell"):
    """``df`` + cell-id column — the Spark-side encode.

    Materializes the grid coordinates as intermediate columns in their
    own projection so the bit-interleave (which references each
    coordinate ~32×) duplicates cheap column refs, not the whole
    floor-chain — keeping generated code small enough for whole-stage
    codegen (Catalyst's CollapseProject keeps non-cheap multiply-
    referenced projections separate). Each layer is one ``F.expr``
    string (driver-side plan-build cost, see renderer note above).
    """
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in 0..{MAX_RES}, got {res}")
    gx, gy = f"__gx_{out}", f"__gy_{out}"
    stage = df.withColumns({
        gx: F.expr(_grid_spark_sql(f"`{lon}`", *LON, res)),
        gy: F.expr(_grid_spark_sql(f"`{lat}`", *LAT, res)),
    })
    return (stage.withColumn(out, F.expr(cell_from_grid_spark_sql(gx, gy, res)))
            .drop(gx, gy))


def ring_cells_col(df, res: int, r: int, lon: str = "lon", lat: str = "lat",
                   out: str = "ring"):
    """``df`` + array column of the (2r+1)² ring-``r`` neighbor cell
    ids — fully native (JVM, codegen), element-for-element equal to
    ``ring_neighbors(cell_of(lon, lat, res), k=r)``: longitude wraps
    (``pmod`` — Spark's ``%`` is truncated and would go negative at
    the antimeridian, numpy's is floored), latitude clamps at the
    poles. Duplicate ids are possible at the poles and, once
    ``2r + 1`` exceeds the grid width, from the longitude wrap —
    callers dedup with ``array_distinct``.

    Scale rationale: the kNN probe side explodes ×(2r+1)² through
    this; at self-kNN scale the probe table is the full corpus, so an
    Arrow round-trip here would ship every probe row to Python and
    back. Every layer is materialized as intermediate columns (same
    CollapseProject trick as :func:`attach_cell`): grid coordinates,
    then the 2r+1 shifted x and y indexes, then their 2(2r+1)
    interleaves, so each ring cell is a tiny 3-way OR of column refs
    rather than two inlined interleave chains — the plan tree shrinks
    ~6× at r=1 and driver-side analysis with it.
    """
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in 0..{MAX_RES}, got {res}")
    if r < 0:
        raise ValueError(f"r must be >= 0, got {r}")
    n = 1 << res
    offs = range(-r, r + 1)
    # each layer is ONE withColumns call of F.expr strings (one Py4J
    # round trip + one analysis pass per layer, not per operator)
    tag = f"__r{r}"
    gx, gy = f"{tag}gx_{out}", f"{tag}gy_{out}"
    stage = df.withColumns({
        gx: F.expr(_grid_spark_sql(f"`{lon}`", *LON, res)),
        gy: F.expr(_grid_spark_sql(f"`{lat}`", *LAT, res)),
    })
    xcols = {d: f"{tag}x{d + r}_{out}" for d in offs}
    ycols = {d: f"{tag}y{d + r}_{out}" for d in offs}
    shifted = {}
    for d in offs:
        shifted[xcols[d]] = F.expr(f"pmod((`{gx}` + {d}), {n})")
        shifted[ycols[d]] = F.expr(
            f"GREATEST(0L, LEAST({n - 1}L, (`{gy}` + {d})))"
        )
    stage = stage.withColumns(shifted)
    ixcols = {d: f"{tag}ix{d + r}_{out}" for d in offs}
    iycols = {d: f"{tag}iy{d + r}_{out}" for d in offs}
    stage = stage.withColumns(
        {ixcols[d]: F.expr(_part1by1_spark_sql(f"`{xcols[d]}`", res))
         for d in offs}
        | {iycols[d]: F.expr(
            f"shiftleft({_part1by1_spark_sql(f'`{ycols[d]}`', res)}, 1)")
           for d in offs}
    )
    base = res << _RES_SHIFT
    cells = ", ".join(
        f"CAST((({base}L | `{ixcols[dx]}`) | `{iycols[dy]}`) AS BIGINT)"
        for dx in offs
        for dy in offs
    )
    return stage.withColumn(out, F.expr(f"array({cells})")).drop(
        gx, gy, *xcols.values(), *ycols.values(),
        *ixcols.values(), *iycols.values()
    )


# ---------------------------------------------------------------------------
# SQL rendering (DuckDB oracle — same expression, same arithmetic order)
# ---------------------------------------------------------------------------


def parent_sql(e: str, steps: int = 1) -> str:
    """:func:`parent_cell` rendered as ANSI SQL (same bit arithmetic)."""
    res = f"(({e}) >> {_RES_SHIFT})"
    morton = f"(({e}) & {(1 << _RES_SHIFT) - 1})"
    return f"((({res} - {steps}) << {_RES_SHIFT}) | ({morton} >> {2 * steps}))"


def _part1by1_sql(e: str) -> str:
    for shift, mask in ((16, _M1), (8, _M2), (4, _M3), (2, _M4), (1, _M5)):
        e = f"(({e} | ({e} << {shift})) & {mask})"
    return e


def cell_sql(lon_expr: str, lat_expr: str, res: int) -> str:
    """Render lon/lat → cell id as ANSI SQL (DuckDB-runnable)."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in 0..{MAX_RES}, got {res}")
    n = 1 << res
    x = f"GREATEST(0, LEAST({n - 1}, CAST(FLOOR((({lon_expr}) + 180.0) / 360.0 * {n}) AS BIGINT)))"
    y = f"GREATEST(0, LEAST({n - 1}, CAST(FLOOR((({lat_expr}) + 90.0) / 180.0 * {n}) AS BIGINT)))"
    return (
        f"(CAST({res << _RES_SHIFT} AS BIGINT) | {_part1by1_sql(x)}"
        f" | ({_part1by1_sql(y)} << 1))"
    )
