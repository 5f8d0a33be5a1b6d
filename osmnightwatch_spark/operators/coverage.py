"""Raster-tile ↔ vector-polygon coverage aggregation (north_rule A9).

Semantic ancestor in the reference: per-admin feature counting
(``AdminCountPerCountryAnalyzer.cs:222-260`` — "how many admins of
level L are in country C"); generalized here to: for every (coarse
raster tile, polygon), how much of the tile's observed content falls
in the polygon.

Two aggregates:

* ``observed_coverage`` — data-driven: per (tile, polygon_id) the
  image count and the number of *distinct fine cells* (res ``fine``)
  occupied by images inside the polygon. SQL-expressible → checked
  against the DuckDB oracle for rectangular polygon sets.
* ``geometric_coverage`` — data-independent: per (tile, polygon_id)
  the fraction of the tile's area covered, from the prepared leaf
  table alone (FULL cells count 1, BOUNDARY cells ½ as an explicit
  midpoint estimate). Pure DataFrame ops over the leaf table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cells as C
from .pip_join import PreparedPolygons, pip_join


def observed_coverage(points: DataFrame, prepared: PreparedPolygons,
                      tile_res: int, fine_res: int,
                      lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Per (tile, polygon): image count + distinct occupied fine cells.

    One PIP join (broadcast; point side unshuffled) + one aggregation.
    Both tile and fine-cell ids are native expressions; the fine cell
    is the parent-chain sibling of the tile so no second encode of
    lon/lat is needed beyond codegen'd arithmetic.
    """
    hits = pip_join(points, prepared, lon=lon, lat=lat)
    # encode once at fine_res; the tile is a pure bit-shift parent
    enriched = C.attach_cell(hits, fine_res, lon=lon, lat=lat, out="fine_cell")
    enriched = enriched.withColumn(
        "tile", F.expr(C.parent_spark_sql("`fine_cell`", fine_res - tile_res))
    )
    return (
        enriched.groupBy("tile", "polygon_id")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.countDistinct("fine_cell").alias("n_occupied_cells"),
        )
    )


def geometric_coverage(spark: SparkSession, prepared: PreparedPolygons,
                       tile_res: int) -> DataFrame:
    """Per (tile, polygon): covered-area fraction from the leaf table
    only (its ``covering`` columns).

    Leaf cells at res >= tile_res roll up to their ancestor tile, each
    contributing area 4^-(res - tile_res) (half for BOUNDARY). When
    tile_res is finer than the leaf res, each leaf cell expands to its
    4^(tile_res - res) descendant tiles, each fully covered (weight
    1.0, or 0.5 for a BOUNDARY cell's midpoint estimate). The expansion
    explode is output-proportional — one row per covered tile, which is
    exactly the result cardinality — so it cannot blow up beyond the
    answer itself."""
    mask = (1 << 58) - 1
    cov = prepared.leaf_df(spark).select("polygon_id", "cell", "kind").withColumn(
        "cres", F.expr("shiftrightunsigned(cell, 58)")
    )
    kind_w = F.when(F.col("kind") == F.lit(0), F.lit(1.0)).otherwise(F.lit(0.5))

    fine = cov.where(F.col("cres") >= tile_res).withColumn(
        "tile",
        F.expr(
            f"CAST({tile_res} AS BIGINT) << 58 | "
            f"shiftrightunsigned(cell & {mask}, CAST((cres - {tile_res}) * 2 AS INT))"
        ),
    ).select(
        "tile", "polygon_id",
        (F.pow(F.lit(4.0), -(F.col("cres") - F.lit(tile_res)).cast("double"))
         * kind_w).alias("w"),
    )

    coarse = cov.where(F.col("cres") < tile_res).withColumn(
        "_n", F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(({tile_res} - cres) * 2 AS INT))")
    ).withColumn(
        "_i", F.explode(F.sequence(F.lit(0).cast("long"), F.col("_n") - 1))
    ).withColumn(
        "tile",
        F.expr(
            f"CAST({tile_res} AS BIGINT) << 58 | "
            f"shiftleft(cell & {mask}, CAST(({tile_res} - cres) * 2 AS INT))"
        ) + F.col("_i"),
    ).select("tile", "polygon_id", kind_w.alias("w"))

    return (
        fine.unionByName(coarse)
        .groupBy("tile", "polygon_id")
        .agg(F.sum("w").alias("covered_fraction"))
    )
