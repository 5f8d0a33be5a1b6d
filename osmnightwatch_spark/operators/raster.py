"""Raster tile rendering: point density → per-tile pixel grid → real
image bytes through the engine's own codecs.

Reference ancestry: the reference publishes its issue maps as
web-mercator raster tiles (the UI's tile layer over the admin/coastline
issues); this operator is that tile renderer as a batch stage — and for
the image-corpus graft it is the standard "where is my data" heatmap
artifact (a density raster per tile, written as image rows of exactly
the input-table shape ``(image_id, bytes, w, h, fmt, caption, phash)``-
minus-caption, so the flagship's decode/verify invariants apply to the
engine's OWN rendered output).

Two stages, split on oracle-checkability:

* :func:`density_grid` — (cell@res, px, py, n) pixel counts, where the
  2^depth × 2^depth pixel grid of a res-``res`` tile is EXACTLY the
  res+depth Morton subcells: ONE fine-res aggregate (map-side combine
  absorbs city skew), then pure bit arithmetic to (parent, px, py) —
  each fine cell maps to a unique pixel, so there is no second
  aggregate and no second shuffle. DuckDB twin shares the proven
  cell/parent SQL renderers (``functions/cells.py``).
* :func:`render_density_tiles` — engine-only (bytes are not SQL): per
  tile, intensity = (255·n) // max_n (exact integer, no float path),
  grayscale→RGB, encoded with ``codecs.encode_ppm`` + ``phash64``.
  One Arrow kernel per tile group; pixel-count rows in, image rows
  out (output ≤ tiles × (12 + 3·4^depth) bytes — bounded, tiny).

Scale shape: the whole pipeline is one shuffle (the fine-res agg) plus
one groupBy(cell) kernel whose group size is capped at 4^depth rows by
construction — skew-proof regardless of point distribution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import cells as C


def _pixel_bits_sql(m: str, depth: int) -> str:
    """Low ``2·depth`` Morton bits → pixel offset (compact even bits)."""
    parts = [f"(({m}) & 1)"]
    for i in range(1, depth):
        parts.append(f"((({m}) >> {i}) & {1 << i})")
    return "(" + " | ".join(parts) + ")"


def density_grid(points: DataFrame, res: int, depth: int = 4,
                 lon: str = "lon", lat: str = "lat") -> DataFrame:
    """``(cell, px, py, n)`` — point counts on the 2^depth square pixel
    grid of every non-empty res-``res`` tile (px east, py north)."""
    # attach_cell (staged grid cols + one expr string per layer) keeps
    # the floor chain out of the interleave refs and the plan build off
    # the py4j chatter path
    fine = C.attach_cell(points.select(F.col(lon), F.col(lat)),
                         res + depth, lon=lon, lat=lat, out="_fc") \
        .select("_fc")
    counts = fine.groupBy("_fc").agg(F.count("*").alias("n"))
    morton = f"((`_fc`) & {(1 << 2 * depth) - 1})"
    return counts.select(
        F.expr(C.parent_spark_sql("`_fc`", depth)).alias("cell"),
        F.expr(_pixel_bits_sql(morton, depth)).alias("px"),
        F.expr(_pixel_bits_sql(f"({morton} >> 1)", depth)).alias("py"),
        "n",
    )


def density_grid_sql(points_sql: str, res: int, depth: int = 4,
                     lon: str = "lon", lat: str = "lat") -> str:
    """DuckDB twin over the shared cell/parent SQL renderers."""
    fine = C.cell_sql(lon, lat, res + depth)
    morton = f"(_fc & {(1 << 2 * depth) - 1})"
    return f"""
WITH _dg_f AS (
  SELECT {fine} AS _fc FROM ({points_sql})
),
_dg_c AS (
  SELECT _fc, CAST(COUNT(*) AS BIGINT) AS n FROM _dg_f GROUP BY _fc
)
SELECT {C.parent_sql('_fc', depth)} AS cell,
       CAST({_pixel_bits_sql(morton, depth)} AS BIGINT) AS px,
       CAST({_pixel_bits_sql(f'({morton} >> 1)', depth)} AS BIGINT) AS py,
       n
FROM _dg_c
""".strip()


def render_density_tiles(grid: DataFrame, depth: int = 4) -> DataFrame:
    """Pixel counts → image rows ``(cell, w, h, fmt, bytes, phash)``:
    intensity = (255·n) // max_n(tile), grayscale as RGB, PPM-encoded
    by the engine's own codec (lossless — decode_ppm(bytes) round-trips
    the exact grid, the per-row invariant the flagship verifies)."""
    import numpy as np
    import pandas as pd

    side = 1 << depth

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        from ..functions import codecs as K
        img = np.zeros((side, side, 3), dtype=np.uint8)
        px = pdf["px"].to_numpy(np.int64)
        py = pdf["py"].to_numpy(np.int64)
        n = pdf["n"].to_numpy(np.int64)
        max_n = int(n.max())
        # row 0 = NORTH edge: image rows top-down, py counts northward
        inten = (255 * n) // max_n
        img[side - 1 - py, px, :] = inten[:, None]
        buf = K.encode_ppm(img)
        return pd.DataFrame({
            "cell": [int(pdf["cell"].iloc[0])],
            "w": [side], "h": [side], "fmt": ["ppm"],
            "bytes": [buf],
            "phash": [K.phash64(img)],
        })

    return grid.groupBy("cell").applyInPandas(
        kernel, "cell long, w int, h int, fmt string, "
                "bytes binary, phash long")
