"""Image-column operators — decode and verify over the ``bytes BINARY``
column.

The input_hint's per-row invariant (decoded-pixel allclose, PSNR ≥ 40
dB for lossy, caption equality) becomes a *distributed* verification
operator here: ``decode_verify`` runs the engine's numpy codecs inside
``mapInPandas`` (Arrow batches in, Arrow batches out — no per-row
Python at the plan level), emitting per-row check results. This is the
compute-dominated stage of a real 10^12-image pipeline, so it is also
the honest scaling-efficiency workload (bench.py): decode cost scales
linearly with rows and parallelizes embarrassingly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import codecs as K

VERIFY_SCHEMA = (
    "image_id string, phash long, phash_ok boolean, psnr double, caption_ok boolean"
)


def decode_verify(images: DataFrame, check_psnr: bool = False) -> DataFrame:
    """Per-row invariant verification, distributed.

    Decodes every image with the engine codecs, recomputes the
    perceptual hash (must equal the stored ``phash`` — this pins the
    decoded pixels bit-for-bit for lossless formats and to the stored
    round-trip for lossy1), and checks the caption template. With
    ``check_psnr`` the lossy rows additionally re-encode and measure
    round-trip PSNR (≥ 40 dB codec-stability invariant) — ~3× the DCT
    work for those rows, so it's opt-in. One Arrow batch in → one out.
    """

    def kernel(batches):
        for pdf in batches:
            n = len(pdf)
            phash_ok = np.zeros(n, dtype=bool)
            caption_ok = np.zeros(n, dtype=bool)
            psnr = np.full(n, 999.0)
            it = zip(pdf["image_id"].to_numpy(), pdf["bytes"].to_numpy(),
                     pdf["fmt"].to_numpy(), pdf["w"].to_numpy(),
                     pdf["h"].to_numpy(), pdf["phash"].to_numpy(),
                     pdf["caption"].to_numpy())
            for i, (iid, buf, fmt, w, h, ph, cap) in enumerate(it):
                img = K.decode(buf, fmt, int(w), int(h))
                phash_ok[i] = K.phash64(img) == ph
                if check_psnr and fmt == "lossy1":
                    # PSNR of re-encode round trip (decode is already
                    # the decompressed form; verify codec stability)
                    again = K.decode(K.encode(img, "lossy1"), "lossy1",
                                     int(w), int(h))
                    psnr[i] = K.psnr(img, again)
                caption_ok[i] = cap.startswith(f"synthetic scene {int(iid[3:])} ")
            yield pd.DataFrame({
                "image_id": pdf["image_id"],
                "phash": pdf["phash"],
                "phash_ok": phash_ok,
                "psnr": psnr,
                "caption_ok": caption_ok,
            })

    return images.mapInPandas(kernel, VERIFY_SCHEMA)


def verified_flagship(images: DataFrame, tile_res: int = 8,
                      cover_res: int = 7, check_psnr: bool = False) -> DataFrame:
    """The full pipeline: decode+verify every image, then geotag → PIP
    join → tile rollup over the verified rows. This is the bench's
    scaling workload (decode dominates, as at 100 TB)."""
    from ..sources.images import with_geo
    from ..sources.polygons import valid_polygon_list
    from .pip_join import PreparedPolygons, pip_join
    from ..functions import cells as C

    verified = decode_verify(images, check_psnr=check_psnr).where(
        F.col("phash_ok") & F.col("caption_ok") & (F.col("psnr") >= 40.0)
    ).select("image_id", "phash")
    # materialize the (narrow) verified projection so the downstream
    # PIP join's branches don't re-run the expensive decode — the
    # sandbox analog of committing the stage to a snapshot table
    # (sources/catalog.run_stage) before the join stage
    verified = verified.localCheckpoint()
    pts = with_geo(verified)
    prep = PreparedPolygons.build(valid_polygon_list(rect_only=True), res=cover_res)
    hits = pip_join(pts, prep)
    tiled = C.attach_cell(hits, tile_res, out="tile")
    return tiled.groupBy("polygon_id", "tile").agg(
        F.count(F.lit(1)).alias("n_images")
    )
