"""Spatiotemporal co-location join: entity pairs observed in the same
grid cell within the same time window.

Reference ancestry: the changed-neighborhood join
(``BrokenCoastlineAnalyzer.cs:140-166`` — entities sharing a spatial
frame) extended with the time axis the reference's minutely diffs
imply: "who was where TOGETHER" — the contact/co-occurrence primitive
of trajectory analytics (co-traveler detection, event attendance,
sensor cross-sightings).

Semantics: for each (cell at ``res``, window of ``window_s`` seconds)
bucket, emit every unordered entity pair with both entities present,
with per-pair evidence counts: ``n_buckets`` (distinct co-located
(cell, window) buckets) and ``n_sightings`` (pairs of fixes). An
entity sighted twice in one bucket counts once toward ``n_buckets``
but multiplies sightings — the standard contact-graph weighting.
Pairs are unordered (``a < b``); self-pairs excluded.

Scale shape (100 TB): fixes reduce FIRST to distinct (entity, cell,
window, n_fixes) — one map-side-combining groupBy — then a bucket
self-join produces pairs. The join is equi on (cell, window); a
stadium cell-hour with k entities emits k²/2 pairs — that blowup is
the OUTPUT, not an artifact, and is bounded by capping bucket
cardinality (``max_per_bucket``: buckets denser than the cap are
dropped, the hot-bucket discipline of the LSH join —
a 50k-person bucket's 1.2B pairs are never what the analyst wants).
One further groupBy aggregates pair evidence. No window functions, no
Python, three shuffles total (bucket reduce, self-join, pair agg).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import cells as C


def colocation_pairs(points: DataFrame, res: int, window_s: int,
                     entity: str = "user_id", ts: str = "ts",
                     lon: str = "lon", lat: str = "lat",
                     max_per_bucket: int | None = None) -> DataFrame:
    """Unordered co-located entity pairs →
    ``(a, b, n_buckets, n_sightings)`` with ``a < b``.

    ``window_s`` buckets epoch seconds as ``floor(epoch / window_s)``
    (tumbling windows — a pair straddling a boundary co-locates only
    if some shared bucket exists; sliding detection = run twice with
    an offset, the standard cheap approximation). ``max_per_bucket``
    drops buckets with more distinct entities than the cap.
    """
    b = (
        C.attach_cell(points, res, lon=lon, lat=lat, out="_cell").select(
            F.col(entity).alias("_e"), "_cell",
            F.floor(F.unix_timestamp(F.col(ts)) / F.lit(int(window_s)))
            .cast("long").alias("_w"),
        )
        .groupBy("_e", "_cell", "_w")
        .agg(F.count(F.lit(1)).alias("_nf"))
    )
    if max_per_bucket is not None:
        sizes = (b.groupBy("_cell", "_w")
                 .agg(F.count(F.lit(1)).alias("_sz"))
                 .where(F.col("_sz") <= max_per_bucket))
        b = b.join(sizes.select("_cell", "_w"), ["_cell", "_w"], "left_semi")
    l = b.select(F.col("_e").alias("a"), "_cell", "_w",
                 F.col("_nf").alias("_nfa"))
    r = b.select(F.col("_e").alias("b"), "_cell", "_w",
                 F.col("_nf").alias("_nfb"))
    return (
        l.join(r, ["_cell", "_w"])
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_buckets"),
             F.sum(F.col("_nfa") * F.col("_nfb")).alias("n_sightings"))
    )


def colocation_pairs_sql(points_sql: str, res: int, window_s: int,
                         entity: str = "user_id", ts: str = "ts",
                         lon: str = "lon", lat: str = "lat",
                         max_per_bucket: int | None = None) -> str:
    """DuckDB twin (same cell encode, same epoch-floor windows, same
    pair/evidence semantics)."""
    cell = C.cell_sql(lon, lat, res)
    cap = ""
    if max_per_bucket is not None:
        cap = (f", capped AS (SELECT _cell, _w FROM b GROUP BY 1, 2 "
               f"HAVING COUNT(*) <= {int(max_per_bucket)})")
    src = "b JOIN capped USING (_cell, _w)" if max_per_bucket is not None else "b"
    return f"""
WITH f AS (
  SELECT {entity} AS _e, {cell} AS _cell,
         CAST(FLOOR(FLOOR(epoch({ts})) / {int(window_s)}) AS BIGINT) AS _w
  FROM ({points_sql})),
b AS (
  SELECT _e, _cell, _w, CAST(COUNT(*) AS BIGINT) AS _nf
  FROM f GROUP BY 1, 2, 3){cap}
SELECT l._e AS a, r._e AS b,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(l._nf * r._nf) AS BIGINT) AS n_sightings
FROM ({f"SELECT b.* FROM {src}" if max_per_bucket is not None else "SELECT * FROM b"}) l
JOIN ({f"SELECT b.* FROM {src}" if max_per_bucket is not None else "SELECT * FROM b"}) r
  ON l._cell = r._cell AND l._w = r._w AND l._e < r._e
GROUP BY 1, 2
""".strip()
