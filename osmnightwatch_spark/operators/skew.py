"""Skew handling: adaptive cell splitting + salted repartitioning.

The north_rule's dense-city problem: 20%+ of a 10^12-row table can
land in a handful of cells (the generator plants exactly this —
``sources/images.py``). Two complementary tools:

* :func:`adaptive_cells` — the *stats-pass* approach (SURVEY.md §4
  "skew handling"): a cheap ``groupBy(cell).count()`` at the base
  resolution finds hot cells; rows inside them re-encode at a finer
  resolution (one native conditional re-encode per extra level — the
  hierarchy makes this pure arithmetic + a broadcast hot-set lookup).
  Downstream joins/aggs then key on ``acell`` whose per-key row count
  is bounded by ``max_rows_per_cell`` (except where data is
  point-degenerate — identical coordinates can't be split by any
  resolution; those remain capped at ``max_res`` and fall to salting).
* :func:`salted_repartition` — for the point-degenerate residue and
  for heavy aggregation states: spread a hot key over ``n_salts``
  subkeys (two-phase aggregate recombines).

Both are pure DataFrame ops; the stats pass is one narrow
count-aggregate over the key column only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import cells as C
from ..session import CacheScope


def adaptive_cells(points: DataFrame, base_res: int, max_rows_per_cell: int,
                   max_res: int | None = None, lon: str = "lon",
                   lat: str = "lat", out: str = "acell") -> DataFrame:
    """Assign each row an adaptive cell id: ``base_res`` normally,
    finer for rows falling in hot cells (iterated until every split
    cell is under the cap or ``max_res`` is reached).

    The split ladder is resolved with a driver-side loop over *cell
    statistics only* (small), then applied to the data in one pass:
    rows join the broadcast hot-set per level and conditionally
    re-encode — no shuffle of the point side.
    """
    if max_res is None:
        max_res = min(base_res + 6, C.MAX_RES)
    import numpy as np

    # --- stats ladder, fully distributed: one leaf-resolution count
    # (persisted; its size is bounded by occupied leaf cells, itself
    # bounded by data distinctness, and it carries only two longs per
    # cell), then per level an aggregate over THAT, collecting only
    # the hot ids (small: these are the city cells)
    with CacheScope() as scope:
        leaf_stats = scope.persist(
            C.attach_cell(points, max_res, lon=lon, lat=lat, out="_leaf")
            .groupBy("_leaf")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        hot: set[int] = set()
        for res in range(base_res, max_res):
            lvl = (
                leaf_stats.groupBy(
                    F.expr(C.parent_spark_sql("`_leaf`", max_res - res))
                    .alias("c")
                )
                .agg(F.sum("n").alias("n"))
                .where(F.col("n") > max_rows_per_cell)
            )
            over = [int(r.c) for r in lvl.collect()]
            if res == base_res:
                hot_now = set(over)
            else:
                # hereditary: only cells whose parent already split count
                hot_now = {
                    x for x in over if int(C.parent_cell(np.array([x]))[0]) in hot
                }
            if not hot_now:
                break
            hot |= hot_now

    # --- single-pass application: per-level conditional re-encode
    df = C.attach_cell(points, max_res, lon=lon, lat=lat, out="_leaf")
    cell = None
    hot_lit = F.lit(sorted(hot)) if hot else F.array().cast("array<long>")
    for res in range(base_res, max_res + 1):
        this = (
            F.expr(C.parent_spark_sql("`_leaf`", max_res - res))
            if res < max_res else F.col("_leaf")
        )
        if cell is None:
            cell = this
        else:
            parent = F.expr(C.parent_spark_sql("`_leaf`", max_res - res + 1))
            cell = F.when(
                F.array_contains(hot_lit, parent), this
            ).otherwise(cell)
        # once a level's cell is NOT hot, later levels must keep it —
        # achieved because deeper "when" only fires if the *parent*
        # was hot, and hot-ness is hereditary by construction
    return df.withColumn(out, cell).drop("_leaf")


def salted_repartition(df: DataFrame, key: str, n_salts: int = 32,
                       salt_col: str = "_salt") -> DataFrame:
    """Spread a hot key over ``n_salts`` subkeys and co-partition on
    (key, salt). The salt is a deterministic hash of the whole row
    (stable across retries/resume — a partition-id- or rand-based salt
    would be re-evaluated after the exchange and break determinism)."""
    salt = F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(n_salts))
    return df.withColumn(salt_col, salt.cast("int")).repartition(key, salt_col)
