"""Tile assignment + per-tile aggregation (the "hypertable rollup").

The reference's analog is its per-country feature counting
(``AdminCountPerCountryAnalyzer.cs:222-260``) and the id→blob bucketing
of its scan index (``PbfParser/PbfIndexBuilder.cs:309-350``); here a
tile is a quadtree cell at a chosen resolution and assignment is the
*native* ``attach_cell`` encode — pure whole-stage codegen, no Python,
no shuffle until the aggregation itself (which map-side combines).

Skew: city cells concentrate 20%+ of rows in 3 tiles. ``tile_counts``
is a plain count — Spark's partial aggregation absorbs that (each task
pre-aggregates its hot cell to one row). For heavy per-group payloads
(e.g. collect-style rollups) use ``salted_group_count`` which
demonstrates explicit two-phase salting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import cells as C


def assign_tiles(points: DataFrame, res: int, lon: str = "lon",
                 lat: str = "lat", out: str = "tile") -> DataFrame:
    """Attach the tile (cell id at ``res``) — JVM-native expression."""
    return C.attach_cell(points, res, lon=lon, lat=lat, out=out)


def tile_counts(points: DataFrame, res: int, lon: str = "lon",
                lat: str = "lat") -> DataFrame:
    """images-per-tile rollup; partial agg makes skew a non-issue."""
    return (
        assign_tiles(points, res, lon, lat)
        .groupBy("tile")
        .agg(F.count(F.lit(1)).alias("n_images"))
    )


def tile_rollup(tiles: DataFrame, steps: int = 1, tile: str = "tile",
                value: str = "n_images") -> DataFrame:
    """Roll a per-tile aggregate up the hierarchy — parent id is pure
    bit arithmetic (``parent_spark_sql``), so the rollup is a re-keyed agg
    with no re-encode of the raw data."""
    return (
        tiles.withColumn("parent_tile",
                         F.expr(C.parent_spark_sql(f"`{tile}`", steps)))
        .groupBy("parent_tile")
        .agg(F.sum(value).alias(value))
    )


def salted_group_count(points: DataFrame, key: str, salt_buckets: int = 32,
                       value_alias: str = "n") -> DataFrame:
    """Explicit two-phase (salted) aggregation for skewed keys:
    groupBy(key, salt) partial → groupBy(key) final. Used when the
    aggregate state per group is heavy enough that a single reducer
    per hot key would bottleneck.

    The salt is a deterministic row hash (not ``rand``): task retries
    re-derive the same salt, so a recomputed partition lands in the
    same partial groups — same discipline as ``skew.salted_repartition``.
    """
    salted = points.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in points.columns]),
               F.lit(salt_buckets)).cast("int"),
    )
    partial = salted.groupBy(key, "_salt").agg(F.count(F.lit(1)).alias("_pn"))
    return partial.groupBy(key).agg(F.sum("_pn").alias(value_alias))


def compact_cells(cells: DataFrame, min_res: int, max_res: int,
                  cell: str = "cell") -> DataFrame:
    """Hierarchical covering compaction (the H3 ``compact`` analog):
    wherever all 4 children of a parent are present, replace them by
    the parent — repeatedly, up the ladder from ``max_res`` down to
    ``min_res``. Output is the minimal mixed-resolution cell set with
    the same spatial extent: columns ``(cell, res)``.

    Why it matters at scale: polygon coverings (``pip_join``) and
    dirty-tile scopes are broadcast to every executor; compaction
    shrinks a dense res-R covering by up to 4× per level with NO loss
    of extent, which is the difference between a covering that fits in
    a broadcast and one that does not.

    Shape: input cells must all sit at ``max_res`` (ids embed their
    res; mixed inputs should be normalized first). Each level is one
    groupBy on the parent id — a ladder of ``max_res - min_res``
    small shuffles, each strictly smaller than the last (promoted
    parents only); no Python, no collect. Duplicates are tolerated
    (``distinct`` per level) so upstream need not pre-dedup.
    """
    if not min_res <= max_res:
        raise ValueError(f"min_res {min_res} > max_res {max_res}")
    lvl = cells.select(F.col(cell).alias("cell")).distinct()
    out = None
    for r in range(max_res, min_res, -1):
        parents = (
            lvl.groupBy(F.expr(C.parent_spark_sql("`cell`")).alias("parent"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.collect_list("cell").alias("kids"))
        )
        kept = (
            parents.where(F.col("n") < 4)
            .select(F.explode("kids").alias("cell"),
                    F.lit(r).alias("res"))
        )
        out = kept if out is None else out.unionByName(kept)
        lvl = parents.where(F.col("n") == 4).select(F.col("parent").alias("cell"))
    final = lvl.select("cell", F.lit(min_res).alias("res"))
    return final if out is None else out.unionByName(final)


def tile_pyramid(points: DataFrame, min_res: int, max_res: int,
                 lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Counts at EVERY resolution ``min_res..max_res`` in one pass →
    ``(cell, res, n)`` — the full tile-pyramid build a map renderer
    (the reference's web UI consumes per-admin counts the same way,
    ``AdminCountPerCountryAnalyzer.cs:222-260``) needs for all zoom
    levels at once.

    Scale shape: the raw points are aggregated ONCE at ``max_res``
    (one shuffle, map-side combine absorbs city-cell skew), then the
    parent ladder is exploded over the ALREADY-AGGREGATED fine tiles
    — parent ids are pure bit arithmetic (``parent_spark_sql``), so the
    second shuffle moves at most ``#fine_tiles × levels`` pre-combined
    rows, never the raw data. A per-level ladder of ``tile_rollup``
    calls would shuffle ``levels`` times; re-encoding raw points per
    level would scan the 100 TB input ``levels`` times. This does
    neither.
    """
    if not 0 <= min_res <= max_res:
        raise ValueError(f"need 0 <= min_res <= max_res, got {min_res}..{max_res}")
    fine = tile_counts(points, max_res, lon, lat)
    ladder = ", ".join(
        ("`tile`" if s == 0 else C.parent_spark_sql("`tile`", s))
        for s in range(max_res - min_res + 1)
    )
    return (
        fine.select(F.explode(F.expr(f"array({ladder})")).alias("cell"),
                    F.col("n_images"))
        .groupBy("cell")
        .agg(F.sum("n_images").alias("n"))
        .select(
            "cell",
            F.shiftrightunsigned(F.col("cell"), C._RES_SHIFT)
            .cast("int").alias("res"),
            "n",
        )
    )


def tile_pyramid_sql(points_sql: str, min_res: int, max_res: int,
                     lon: str = "lon", lat: str = "lat") -> str:
    """DuckDB twin: direct per-level encode+count (the oracle proves
    the one-pass ladder equals ``levels`` independent encodes)."""
    parts = [
        f"SELECT {C.cell_sql(lon, lat, r)} AS cell, {r} AS res, "
        f"COUNT(*) AS n FROM ({points_sql}) GROUP BY 1, 2"
        for r in range(min_res, max_res + 1)
    ]
    return " UNION ALL ".join(parts)


def compact_cells_sql(cells_sql: str, min_res: int, max_res: int) -> str:
    """DuckDB twin of ``compact_cells`` — one CTE pair per ladder
    level (``cells_sql`` must yield a ``cell`` column at ``max_res``)."""
    from ..functions.cells import parent_sql

    ctes = [f"l{max_res} AS (SELECT DISTINCT cell FROM ({cells_sql}))"]
    outs = []
    for r in range(max_res, min_res, -1):
        ctes.append(
            f"g{r} AS (SELECT {parent_sql('cell')} AS parent, COUNT(*) AS n "
            f"FROM l{r} GROUP BY 1)"
        )
        outs.append(
            f"SELECT cell, {r} AS res FROM l{r} "
            f"WHERE {parent_sql('cell')} IN (SELECT parent FROM g{r} WHERE n < 4)"
        )
        ctes.append(
            f"l{r - 1} AS (SELECT parent AS cell FROM g{r} WHERE n = 4)"
        )
    outs.append(f"SELECT cell, {min_res} AS res FROM l{min_res}")
    return "WITH " + ", ".join(ctes) + " " + " UNION ALL ".join(outs)
