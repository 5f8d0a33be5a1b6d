"""Geofence enter/exit transitions: per entity, emit a row each time
the track crosses INTO or OUT OF a fence rectangle.

Reference ancestry: NightWatch's issue lifecycle is exactly this
edge-detection shape in time — ``FirstTimeSeen`` is set when an issue
APPEARS and the row is dropped when it disappears
(``IssuesData.cs`` + the diff in ``Program.cs:75-117``); here the
"issue" is fence membership and the timeline is the entity's GPS
track. It completes the trajectory family: ``geo_stats.stay_points``
(dwell inside an implicit cell), ``colocation`` (two tracks sharing a
cell), this (one track against authoritative geometry).

Semantics (pinned): containment is CLOSED on all four fence edges;
a transition exists at fix ``i`` iff membership at ``i`` differs from
membership at ``i-1`` in the entity's ``(t, tiebreak)`` order, with
membership before the first fix defined as OUTSIDE (so a track that
starts inside a fence emits an enter at its first fix). No exit is
emitted for a track that ends inside — the stream is open.

Scale shape (the 100 TB argument): the naive formulation is the
fix × fence cross product (every fix tested against every fence —
dead at planet scale). This path never builds it:

1. one per-entity window assigns a dense fix sequence number
   (millions of small groups — no skew unit);
2. fences explode to the grid cells of their bbox at ``res`` (bounded
   ``sequence`` explode, the ``rect_overlay_join`` covering); each
   fix lands in exactly ONE cell, so the candidate equi-join on
   ``(gx, gy)`` touches only (fix, nearby-fence) pairs and the exact
   closed predicate keeps actual sightings — output-proportional,
   like every covering join in this repo;
3. transitions are recovered from sightings ALONE by gaps-and-islands
   on the sequence number: a maximal run of consecutive ``seq``
   values per ``(entity, fence)`` is one containment interval; its
   first fix is the enter, and the entity's fix at ``max(seq)+1``
   (one equi-join back to the sequenced fixes) is the exit, absent
   when the track ends inside. Out-of-fence fixes are never joined
   to fences at all.

Equivalence to the brute LAG formulation (the DuckDB twin): a brute
enter row is ``inb=1 ∧ lag(inb)=0`` — precisely an island's first
fix; a brute exit row is ``inb=0 ∧ lag(inb)=1`` — precisely the fix
at ``island_max_seq + 1`` (it cannot be in the island, islands are
maximal). (entity, fence) pairs with zero sightings emit nothing in
both. So the O(sightings) path equals the O(fixes × fences) oracle
row-for-row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import cells as C


def geofence_transitions(points: DataFrame, fences: DataFrame, res: int = 4,
                         entity: str = "entity", t: str = "te",
                         tiebreak: str = "tb", lon: str = "lon",
                         lat: str = "lat",
                         fence_id: str = "fence_id") -> DataFrame:
    """Enter/exit stream → ``(entity, fence_id, te, transition)`` with
    ``transition ∈ ('enter', 'exit')`` and ``te`` the timestamp of the
    fix AT WHICH membership changed (fences carry
    ``(fence_id, lon0, lon1, lat0, lat1)``, boxes normalized, no
    antimeridian wrap — split upstream, the covering convention)."""
    seq_w = Window.partitionBy("entity").orderBy("te", "_tb")
    pts = (
        points.select(
            F.col(entity).alias("entity"), F.col(t).alias("te"),
            F.col(tiebreak).alias("_tb"),
            F.col(lon).alias("_px"), F.col(lat).alias("_py"),
        )
        .withColumn("_seq", F.row_number().over(seq_w))
    )

    covered = (
        fences.select(
            F.col(fence_id).alias("fence_id"),
            F.col("lon0"), F.col("lon1"), F.col("lat0"), F.col("lat1"),
        )
        .select(
            "*",
            F.explode(F.sequence(
                C.grid_col(F.col("lon0"), *C.LON, res),
                C.grid_col(F.col("lon1"), *C.LON, res))).alias("_gx"),
            F.sequence(
                C.grid_col(F.col("lat0"), *C.LAT, res),
                C.grid_col(F.col("lat1"), *C.LAT, res)).alias("_gys"),
        )
        .select("*", F.explode("_gys").alias("_gy"))
        .drop("_gys")
    )

    sightings = (
        pts.withColumn("_gx", C.grid_col(F.col("_px"), *C.LON, res))
        .withColumn("_gy", C.grid_col(F.col("_py"), *C.LAT, res))
        .join(covered, ["_gx", "_gy"])
        .where((F.col("_px") >= F.col("lon0")) & (F.col("_px") <= F.col("lon1"))
               & (F.col("_py") >= F.col("lat0")) & (F.col("_py") <= F.col("lat1")))
        .select("entity", "fence_id", "_seq", "te")
    )

    isl_w = Window.partitionBy("entity", "fence_id").orderBy("_seq")
    islands = (
        sightings.withColumn("_isl", F.col("_seq") - F.row_number().over(isl_w))
        .groupBy("entity", "fence_id", "_isl")
        .agg(F.min_by("te", "_seq").alias("_enter_te"),
             F.max("_seq").alias("_last_seq"))
    )

    enters = islands.select(
        "entity", "fence_id", F.col("_enter_te").alias("te"),
        F.lit("enter").alias("transition"))
    exits = (
        islands.select("entity", "fence_id",
                       (F.col("_last_seq") + 1).alias("_seq"))
        .join(pts.select("entity", "_seq", "te"), ["entity", "_seq"])
        .select("entity", "fence_id", "te", F.lit("exit").alias("transition"))
    )
    return enters.unionByName(exits)


def geofence_transitions_sql(points_sql: str, fences_sql: str,
                             entity: str = "entity", t: str = "te",
                             tiebreak: str = "tb", lon: str = "lon",
                             lat: str = "lat",
                             fence_id: str = "fence_id") -> str:
    """DuckDB twin: BRUTE fix × fence membership matrix + LAG edge
    detection (oracle scale only) — proves the sightings-only
    gaps-and-islands path loses no transition and invents none."""
    inb = (f"CASE WHEN p.{lon} >= f.lon0 AND p.{lon} <= f.lon1 "
           f"AND p.{lat} >= f.lat0 AND p.{lat} <= f.lat1 "
           f"THEN 1 ELSE 0 END")
    return f"""
WITH _gf_m AS (
  SELECT p.{entity} AS entity, p.{t} AS te, p.{tiebreak} AS _tb,
         f.{fence_id} AS fence_id, {inb} AS inb
  FROM ({points_sql}) p, ({fences_sql}) f
),
_gf_l AS (
  SELECT entity, fence_id, te, inb,
         COALESCE(LAG(inb) OVER (
           PARTITION BY entity, fence_id ORDER BY te, _tb), 0) AS prev
  FROM _gf_m
)
SELECT entity, fence_id, te, 'enter' AS transition
FROM _gf_l WHERE inb = 1 AND prev = 0
UNION ALL
SELECT entity, fence_id, te, 'exit' AS transition
FROM _gf_l WHERE inb = 0 AND prev = 1
""".strip()
