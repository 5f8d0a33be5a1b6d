"""The flagship pipeline: H3-encode → PIP-join → tile-assign → rollup.

This is the BASELINE.json headline path ("images/sec through the
H3-encode + PIP-join + tile-assign pipeline"): given the images table,

1. derive the geotag from ``phash`` (native arithmetic, codegen'd);
2. assign every image a hierarchical tile (native ``attach_cell``);
3. broadcast PIP join against the admin polygon set, in one pass:
   one equi-join of each point's leaf cell with the leaf table, whose
   condition ray-casts boundary-cell hits only, natively, over the
   cell's own edges;
4. aggregate: per (admin polygon, tile) image counts — the engine's
   analog of the reference's per-country admin feature counts
   (``AdminCountPerCountryAnalyzer.cs:222-260``).

The point side is never shuffled before the final aggregation, and the
plan holds no Python operator at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import cells as C
from ..operators.pip_join import PreparedPolygons, pip_join
from ..sources import images as I
from ..sources import polygons as P


def flagship_points(pts: DataFrame, tile_res: int = 8, cover_res: int = 7,
                    prepared: PreparedPolygons | None = None) -> DataFrame:
    """Geotagged points (…, phash, lon, lat) → (polygon_id, tile,
    n_images, n_distinct_phash): the PIP-join → tile-assign → rollup
    trunk shared by the image pipeline and its SQL-oracle twin.

    Deterministic output ordering is left to the caller (sort is a
    presentation concern, not pipeline work).
    """
    if prepared is None:
        prepared = PreparedPolygons.build(
            P.valid_polygon_list(rect_only=True), res=cover_res
        )
    hits = pip_join(pts, prepared)
    tiled = C.attach_cell(hits, tile_res, out="tile")
    return (
        tiled.groupBy("polygon_id", "tile")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.countDistinct("phash").alias("n_distinct_phash"),
        )
    )


def flagship(images: DataFrame, tile_res: int = 8, cover_res: int = 7,
             prepared: PreparedPolygons | None = None) -> DataFrame:
    """images (input_hint shape) → flagship rollup (geotag from phash).

    Projects to ``phash`` alone before the join: the rollup output
    carries no per-image id, so ``image_id`` would otherwise ride
    both joins for nothing (guide §2.3 "project before the exchange";
    the parquet scan then reads a single column).
    """
    pts = I.with_geo(images.select("phash"))
    return flagship_points(pts, tile_res, cover_res, prepared)


def flagship_checkpointed(spark, images_path: str, work_root: str,
                          tile_res: int = 8, cover_res: int = 7):
    """The flagship with per-stage snapshot checkpoints (north_rule:
    resumable from checkpoint with per-partition lineage + metrics).

    Each stage commits to a catalog table whose manifest records the
    input fingerprint; a killed job re-run skips every stage whose
    snapshot already matches — only unfinished stages execute
    (``sources/catalog.run_stage``). Returns the final DataFrame.
    """
    import os

    from ..operators.images_ops import decode_verify
    from ..sources.catalog import fingerprint, path_signature, run_stage

    # path + content signature: regenerating the parquet at the same
    # path invalidates every downstream stage (ADVICE r01)
    fp_input = fingerprint("images", images_path, path_signature(images_path))

    def stage_verify():
        imgs = spark.read.parquet(images_path)
        return decode_verify(imgs).where(
            F.col("phash_ok") & F.col("caption_ok") & (F.col("psnr") >= 40.0)
        ).select("image_id", "phash")

    verified = run_stage(spark, os.path.join(work_root, "verified"),
                         "verify", fp_input, stage_verify)

    fp_hits = fingerprint("hits", fp_input, cover_res)

    def stage_hits():
        prepared = PreparedPolygons.build(
            P.valid_polygon_list(rect_only=True), res=cover_res
        )
        return pip_join(I.with_geo(verified), prepared)

    hits = run_stage(spark, os.path.join(work_root, "hits"),
                     "pip", fp_hits, stage_hits)

    fp_roll = fingerprint("rollup", fp_hits, tile_res)

    def stage_rollup():
        tiled = C.attach_cell(hits, tile_res, out="tile")
        return tiled.groupBy("polygon_id", "tile").agg(
            F.count(F.lit(1)).alias("n_images"),
            F.countDistinct("phash").alias("n_distinct_phash"),
        )

    return run_stage(spark, os.path.join(work_root, "rollup"),
                     "rollup", fp_roll, stage_rollup)
