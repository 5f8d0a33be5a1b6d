"""Point-cloud spatial statistics: IDW surface interpolation and
per-entity great-circle path length.

Reference ancestry: the per-admin scalar-aggregate family
(``AdminCountPerCountryAnalyzer.cs`` — statistics rolled up over
spatially-joined points). These are the two statistics a geo-corpus
pipeline layers on top: a *surface estimate* at probe locations
(inverse-distance-weighted field value — the classic
raster-from-point-cloud step) and a *trajectory length* per entity
(ordered great-circle hop sum).

Determinism design shared by both: each contribution is quantized to
an exact integer (``floor(term · 1e6)`` weights / ``floor(metres ·
1e3)`` hops) BEFORE aggregation, so every SUM is exact integer
arithmetic — order-free across partitions, engines, and runs. The
per-row term itself is a deterministic double written in the
identical operation sequence on both engines (the kNN-haversine-twin
discipline). Distributed float SUMs are NOT order-stable;
quantize-then-sum is what makes these oracle-hashable without
tolerances.

Scale shape: IDW rides the range join (one cell-keyed equi-shuffle,
radius-exact ring covering, payload pass-through — no rejoin) plus
one groupBy on the probe id; a probe's group is its own neighbor
list, bounded by density × radius², so there is no hot key. Path
length is one hash shuffle on the entity id + an ordered window per
entity; a pathological entity (one user owning a large corpus slice)
is the only skew and is capped upstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .knn import _dist_haversine, haversine_sql
from .range_join import range_join, range_join_sql

WQ = 1_000_000.0   # IDW weight quantization grain (millionths)
MM = 1_000.0       # path-hop quantization grain (millimetres)


def idw_surface(probes: DataFrame, points: DataFrame, radius: float,
                probe_id: str = "probe_id", point_id: str = "point_id",
                value: str = "value") -> DataFrame:
    """Power-2 inverse-distance-weighted estimate of ``value`` at each
    probe from the points within ``radius`` planar degrees →
    ``(probe_id, n_nbrs, w_den, wv_num, est)``.

    Inputs carry ``(id, lon, lat)`` (+ ``value`` on ``points``).
    ``w = 1/dist²`` per neighbor, ``dist`` being the range join's
    output distance so both engines square the identical double.
    Zero-distance neighbors (a point exactly at a probe — e.g. the
    probe itself in a self-interpolation) are excluded: the documented
    convention (exact assignment is one coalesce away from the same
    join). Probes with no in-radius neighbor are absent (inner
    semantics — the emitted row set is the informative one).

    ``wv_num = Σ floor(v/dist²·1e6)``, ``w_den = Σ floor(1/dist²·1e6)``
    are exact bigints; ``est = wv_num / w_den``.
    """
    pairs = range_join(
        probes, points, radius, left_id=probe_id, right_id=point_id,
        right_extra=(value,),
    ).where(F.col("dist") > 0)
    d2 = F.col("dist") * F.col("dist")
    wq = F.floor(F.lit(WQ) / d2)
    wvq = F.floor(F.lit(WQ) * F.col(value).cast("double") / d2)
    return (
        pairs.groupBy(probe_id)
        .agg(F.count("*").alias("n_nbrs"),
             F.sum(wq).alias("w_den"),
             F.sum(wvq).alias("wv_num"))
        .select(probe_id, "n_nbrs", "w_den", "wv_num",
                (F.col("wv_num").cast("double") / F.col("w_den").cast("double")
                 ).alias("est"))
    )


def idw_surface_sql(probes_sql: str, points_sql: str, radius: float,
                    probe_id: str = "probe_id", point_id: str = "point_id",
                    value: str = "value") -> str:
    """DuckDB twin: brute range join, identical floor-quantized terms."""
    rj = range_join_sql(probes_sql, points_sql, radius,
                        left_id=probe_id, right_id=point_id,
                        right_extra=(value,))
    # Outer CASTs: DuckDB SUM(BIGINT) yields HUGEINT, which pandas
    # materializes as float64 ("148" vs "148.0" under the driver's
    # exact string hash) — pin the twin's dtype to BIGINT like Spark's.
    return (
        f"SELECT {probe_id}, COUNT(*) AS n_nbrs, "
        f"CAST(SUM(CAST(FLOOR({WQ!r} / (dist * dist)) AS BIGINT)) "
        f"AS BIGINT) AS w_den, "
        f"CAST(SUM(CAST(FLOOR({WQ!r} * CAST({value} AS DOUBLE) / (dist * dist)) "
        f"AS BIGINT)) AS BIGINT) AS wv_num, "
        f"CAST(SUM(CAST(FLOOR({WQ!r} * CAST({value} AS DOUBLE) / (dist * dist)) "
        f"AS BIGINT)) AS DOUBLE) / "
        f"CAST(SUM(CAST(FLOOR({WQ!r} / (dist * dist)) AS BIGINT)) AS DOUBLE) "
        f"AS est "
        f"FROM ({rj}) WHERE dist > 0 GROUP BY {probe_id}"
    )


def path_length(points: DataFrame, entity: str = "user_id",
                ts: str = "ts", tiebreak: str = "event_id",
                lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Total great-circle trajectory length per entity →
    ``(entity, n_points, path_mm)`` — hops ordered by ``(ts,
    tiebreak)`` (the tiebreak pins simultaneous fixes), each hop
    quantized to exact integer millimetres before the sum.

    Single-point entities emit ``path_mm = 0`` (zero hops — SUM over
    an empty set coalesces to 0, both engines).
    """
    w = Window.partitionBy(entity).orderBy(ts, tiebreak)
    hops = points.select(
        F.col(entity), F.col(ts), F.col(tiebreak),
        F.col(lon).alias("_lon"), F.col(lat).alias("_lat"),
        F.lag(lon).over(w).alias("_plon"),
        F.lag(lat).over(w).alias("_plat"),
    )
    # The NULL first-row lag must be guarded EXPLICITLY: both engines'
    # LEAST/least skip NULLs, so sqrt(NULL) inside least(1.0, ...)
    # silently becomes 1.0 and every entity would gain a phantom
    # half-circumference hop (asin(1) = pi/2) — consistently on both
    # engines, i.e. invisible to the oracle, caught by the hand test.
    hop_mm = F.when(
        F.col("_plon").isNotNull(),
        F.floor(_dist_haversine(F.col("_plon"), F.col("_plat"),
                                F.col("_lon"), F.col("_lat")) * F.lit(MM)))
    return (
        hops.groupBy(entity)
        .agg(F.count("*").alias("n_points"),
             F.coalesce(F.sum(hop_mm), F.lit(0)).alias("path_mm"))
    )


def path_length_sql(points_sql: str, entity: str = "user_id",
                    ts: str = "ts", tiebreak: str = "event_id",
                    lon: str = "lon", lat: str = "lat") -> str:
    """DuckDB twin: identical lag window and floor-quantized hops."""
    hav = haversine_sql("_plon", "_plat", lon, lat)
    return (
        f"WITH hops AS (SELECT {entity}, {lon}, {lat}, "
        f"lag({lon}) OVER (PARTITION BY {entity} "
        f"ORDER BY {ts}, {tiebreak}) AS _plon, "
        f"lag({lat}) OVER (PARTITION BY {entity} "
        f"ORDER BY {ts}, {tiebreak}) AS _plat "
        f"FROM ({points_sql})) "
        f"SELECT {entity}, COUNT(*) AS n_points, "
        # Outer CAST: DuckDB SUM(BIGINT) → HUGEINT → pandas float64,
        # which the driver's exact string hash sees as a different
        # value ("548171351461" vs "5.481714e+11") — pin to BIGINT.
        f"CAST(COALESCE(SUM(CASE WHEN _plon IS NULL THEN NULL ELSE "
        f"CAST(FLOOR({hav} * {MM!r}) AS BIGINT) END), 0) AS BIGINT) AS path_mm "
        f"FROM hops GROUP BY {entity}"
    )


def stay_points(points: DataFrame, res: int = 6, gap_s: int = 3600,
                min_stay_s: int = 1800, entity: str = "user_id",
                ts: str = "ts", tiebreak: str = "event_id",
                lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Stay-point detection (Li et al. 2008, cell-quantized variant):
    consecutive fixes of an entity in the SAME grid cell with
    inter-fix gaps ≤ ``gap_s`` form a visit; visits lasting ≥
    ``min_stay_s`` are stay points → ``(entity, cell, enter_ts,
    exit_ts, n_events)``.

    The classic algorithm is a sequential two-pointer scan; quantizing
    "same place" to a grid cell turns it into a pure window pipeline —
    ``lag`` flags visit starts (cell change OR gap), a running SUM of
    flags numbers the visits, one groupBy aggregates them. Both
    engines share every step exactly (integer epoch-second gaps,
    (ts, tiebreak) ordering), so the output is oracle-hashable.

    Scale shape: one hash shuffle on the entity + ordered windows
    within it, then a groupBy on (entity, visit) — the same skew unit
    as :func:`path_length` (one hot entity), capped upstream.
    """
    from ..functions import cells as C

    w = Window.partitionBy(entity).orderBy(ts, tiebreak)
    cells = C.attach_cell(points, res, lon=lon, lat=lat, out="_cell").select(
        F.col(entity), F.col(ts), F.col(tiebreak), "_cell",
        F.unix_timestamp(F.col(ts)).alias("_t"),
    )
    flagged = cells.select(
        entity, ts, "_cell", "_t",
        F.when(
            F.lag("_cell").over(w).isNull()
            | (F.lag("_cell").over(w) != F.col("_cell"))
            | (F.col("_t") - F.lag("_t").over(w) > gap_s),
            F.lit(1)).otherwise(F.lit(0)).alias("_new"),
        F.col(tiebreak),
    )
    wv = Window.partitionBy(entity).orderBy(ts, tiebreak)
    visits = flagged.withColumn(
        "_visit", F.sum("_new").over(
            wv.rowsBetween(Window.unboundedPreceding, 0)))
    agg = (
        visits.groupBy(entity, "_visit")
        .agg(F.first("_cell").alias("cell"),
             F.min(ts).alias("enter_ts"), F.max(ts).alias("exit_ts"),
             F.min("_t").alias("_t0"), F.max("_t").alias("_t1"),
             F.count(F.lit(1)).alias("n_events"))
        .where(F.col("_t1") - F.col("_t0") >= min_stay_s)
    )
    return agg.select(entity, "cell", "enter_ts", "exit_ts", "n_events")


def stay_points_sql(points_sql: str, res: int = 6, gap_s: int = 3600,
                    min_stay_s: int = 1800, entity: str = "user_id",
                    ts: str = "ts", tiebreak: str = "event_id",
                    lon: str = "lon", lat: str = "lat") -> str:
    """DuckDB twin of :func:`stay_points` (same cell encode, same
    epoch-second gaps, same visit numbering)."""
    from ..functions import cells as C

    cell = C.cell_sql(lon, lat, res)
    return f"""
WITH c AS (
  SELECT {entity}, {ts}, {tiebreak}, {cell} AS _cell,
         CAST(FLOOR(epoch({ts})) AS BIGINT) AS _t
  FROM ({points_sql})),
f AS (
  SELECT *, CASE WHEN lag(_cell) OVER w IS NULL
                   OR lag(_cell) OVER w <> _cell
                   OR _t - lag(_t) OVER w > {int(gap_s)}
            THEN 1 ELSE 0 END AS _new
  FROM c WINDOW w AS (PARTITION BY {entity} ORDER BY {ts}, {tiebreak})),
v AS (
  SELECT *, SUM(_new) OVER (PARTITION BY {entity} ORDER BY {ts}, {tiebreak}
                            ROWS UNBOUNDED PRECEDING) AS _visit
  FROM f)
SELECT {entity}, MIN(_cell) AS cell, MIN({ts}) AS enter_ts,
       MAX({ts}) AS exit_ts, CAST(COUNT(*) AS BIGINT) AS n_events
FROM v GROUP BY {entity}, _visit
HAVING MAX(_t) - MIN(_t) >= {int(min_stay_s)}
""".strip()


def od_matrix(points: DataFrame, res: int = 6, gap_s: int = 3600,
              min_stay_s: int = 1800, entity: str = "user_id",
              ts: str = "ts", tiebreak: str = "event_id",
              lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Origin-destination flow matrix: consecutive stay points of an
    entity define a trip; trips aggregate to ``(origin_cell,
    dest_cell, n_trips, n_entities)`` — the standard mobility rollup
    on top of :func:`stay_points` (origin = earlier visit's cell,
    ordered by visit enter time; same-cell "trips" are excluded — a
    re-detected dwell is not a move).

    Scale shape: stay_points' entity windows + one lag over each
    entity's (few) visits + a groupBy on the (origin, dest) pair. The
    OD pair space is bounded by occupied-cell² but realized flows are
    sparse; partial aggregation absorbs commuter-corridor hot pairs.
    """
    sp = stay_points(points, res, gap_s, min_stay_s, entity, ts,
                     tiebreak, lon, lat)
    # "cell" as a secondary sort key: two visits sharing an enter
    # timestamp (multiple fixes at one ts across cells) would otherwise
    # make the lag order engine/partition-dependent.
    w = Window.partitionBy(entity).orderBy("enter_ts", "cell")
    trips = (
        sp.select(entity, "cell", "enter_ts")
        .withColumn("_prev", F.lag("cell").over(w))
        .where(F.col("_prev").isNotNull() & (F.col("_prev") != F.col("cell")))
    )
    return (
        trips.groupBy(F.col("_prev").alias("origin_cell"),
                      F.col("cell").alias("dest_cell"))
        .agg(F.count(F.lit(1)).alias("n_trips"),
             F.countDistinct(entity).alias("n_entities"))
    )


def od_matrix_sql(points_sql: str, res: int = 6, gap_s: int = 3600,
                  min_stay_s: int = 1800, entity: str = "user_id",
                  ts: str = "ts", tiebreak: str = "event_id",
                  lon: str = "lon", lat: str = "lat") -> str:
    """DuckDB twin of :func:`od_matrix` (stay_points twin as the CTE,
    same lag-over-enter_ts trip derivation)."""
    sp = stay_points_sql(points_sql, res, gap_s, min_stay_s, entity,
                         ts, tiebreak, lon, lat)
    return f"""
WITH sp AS ({sp}),
t AS (
  SELECT {entity}, cell,
         lag(cell) OVER (PARTITION BY {entity}
                         ORDER BY enter_ts, cell) AS _prev
  FROM sp)
SELECT _prev AS origin_cell, cell AS dest_cell,
       CAST(COUNT(*) AS BIGINT) AS n_trips,
       CAST(COUNT(DISTINCT {entity}) AS BIGINT) AS n_entities
FROM t WHERE _prev IS NOT NULL AND _prev <> cell
GROUP BY 1, 2
""".strip()


def hotspots(points: DataFrame, res: int = 4,
             lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Getis-Ord Gi* hotspot statistic per occupied grid cell →
    ``(gx, gy, n, wsum, wn, z)``: the z-score of each cell's ring-1
    neighborhood count sum against the full-grid distribution —
    positive z = spatial clustering of high counts (the "where are the
    dense regions, statistically?" layer above raw tile counts).

    Formulation (Getis & Ord 1992, binary ring-1 weights, self
    inclusive): with m = 4^res grid cells, x̄ = T/m and
    S = sqrt(T2/m − x̄²) from the EXACT integer total T and square-sum
    T2 (empty cells contribute zero to both, so the occupied-only agg
    IS the full-grid sum),

        z_i = (wsum_i − x̄·wn_i) / (S·sqrt((m·wn_i − wn_i²)/(m−1)))

    where wsum_i sums counts over the ≤9 in-grid ring cells (longitude
    wraps, latitude clamps — clamp duplicates dedup so wn_i < 9 at the
    poles) and wn_i is the neighborhood size INCLUDING empty
    neighbors. Scores are emitted for occupied cells (an empty cell's
    z is derivable but rarely wanted; documented variant).

    Determinism: every aggregated quantity is an exact bigint; the z
    expression is a fixed float sequence from those ints shared with
    the SQL twin. One count agg + one 9-way explode equi-join + one
    groupBy — all map-side-combining, no skew beyond the counts
    themselves.
    """
    n = 1 << res
    m = n * n
    from ..functions import cells as C

    counts = (
        points.select(C.grid_col(F.col(lon), *C.LON, res).alias("gx"),
                      C.grid_col(F.col(lat), *C.LAT, res).alias("gy"))
        .groupBy("gx", "gy").agg(F.count(F.lit(1)).alias("n"))
    )
    stats = counts.agg(
        F.sum("n").alias("_t"),
        F.sum(F.col("n") * F.col("n")).alias("_t2"))
    nbrs = counts.select(
        "gx", "gy",
        F.explode(F.array_distinct(F.array(*[
            F.struct(F.pmod(F.col("gx") + dx, F.lit(n)).alias("jx"),
                     F.greatest(F.lit(0), F.least(F.lit(n - 1),
                                                  F.col("gy") + dy)).alias("jy"))
            for dx in (-1, 0, 1) for dy in (-1, 0, 1)
        ]))).alias("_j"),
    ).select("gx", "gy", F.col("_j.jx").alias("jx"), F.col("_j.jy").alias("jy"))
    hood = (
        nbrs.join(counts.select(F.col("gx").alias("jx"),
                                F.col("gy").alias("jy"),
                                F.col("n").alias("_jn")),
                  ["jx", "jy"], "left")
        .groupBy("gx", "gy")
        .agg(F.sum(F.coalesce("_jn", F.lit(0))).alias("wsum"),
             F.count(F.lit(1)).alias("wn"))
    )
    xbar = F.col("_t").cast("double") / F.lit(float(m))
    s = F.sqrt(F.col("_t2").cast("double") / F.lit(float(m)) - xbar * xbar)
    wn_d = F.col("wn").cast("double")
    denom = s * F.sqrt((F.lit(float(m)) * wn_d - wn_d * wn_d)
                       / F.lit(float(m - 1)))
    return (
        counts.join(hood, ["gx", "gy"])
        .crossJoin(F.broadcast(stats))
        .select("gx", "gy", "n", "wsum", "wn",
                ((F.col("wsum").cast("double") - xbar * wn_d) / denom
                 ).alias("z"))
    )


def hotspots_sql(points_sql: str, res: int = 4,
                 lon: str = "lon", lat: str = "lat") -> str:
    """DuckDB twin of :func:`hotspots` (same grid, same wrap/clamp
    neighbor enumeration, same exact-int stats and float sequence)."""
    n = 1 << res
    m = n * n
    gx = (f"GREATEST(0, LEAST({n - 1}, "
          f"CAST(FLOOR((({lon}) + 180.0) / 360.0 * {n}) AS BIGINT)))")
    gy = (f"GREATEST(0, LEAST({n - 1}, "
          f"CAST(FLOOR((({lat}) + 90.0) / 180.0 * {n}) AS BIGINT)))")
    offs = ", ".join(f"({dx}, {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1))
    return f"""
WITH counts AS (
  SELECT {gx} AS gx, {gy} AS gy, CAST(COUNT(*) AS BIGINT) AS n
  FROM ({points_sql}) GROUP BY 1, 2),
stats AS (SELECT SUM(n) AS _t, SUM(n * n) AS _t2 FROM counts),
nbrs AS (
  SELECT DISTINCT gx, gy,
         ((gx + dx) % {n} + {n}) % {n} AS jx,
         GREATEST(0, LEAST({n - 1}, gy + dy)) AS jy
  FROM counts, (VALUES {offs}) AS o(dx, dy)),
hood AS (
  -- outer CAST: SUM(BIGINT) is HUGEINT in DuckDB → pandas float64;
  -- pin wsum to BIGINT so the driver's string hash matches Spark's.
  SELECT nb.gx, nb.gy, CAST(SUM(COALESCE(c.n, 0)) AS BIGINT) AS wsum,
         CAST(COUNT(*) AS BIGINT) AS wn
  FROM nbrs nb LEFT JOIN counts c ON c.gx = nb.jx AND c.gy = nb.jy
  GROUP BY 1, 2)
SELECT gx, gy, n, wsum, wn,
       (CAST(hood.wsum AS DOUBLE)
        - (CAST(stats._t AS DOUBLE) / {float(m)!r}) * CAST(hood.wn AS DOUBLE))
       / (sqrt(CAST(stats._t2 AS DOUBLE) / {float(m)!r}
               - (CAST(stats._t AS DOUBLE) / {float(m)!r})
                 * (CAST(stats._t AS DOUBLE) / {float(m)!r}))
          * sqrt(({float(m)!r} * CAST(hood.wn AS DOUBLE)
                  - CAST(hood.wn AS DOUBLE) * CAST(hood.wn AS DOUBLE))
                 / {float(m - 1)!r})) AS z
FROM counts JOIN hood USING (gx, gy), stats
""".strip()


def with_speed(points: DataFrame, vmax_mps: float = 70.0,
               entity: str = "user_id", ts: str = "ts",
               tiebreak: str = "event_id",
               lon: str = "lon", lat: str = "lat") -> DataFrame:
    """GPS-trace cleaning: per-fix inbound speed + impossible-speed
    flag → ``(entity, tiebreak, ts, dt_s, hop_mm, speed_mmps,
    is_anomaly)`` — the standard pre-filter before any trajectory op
    (stay points, OD flows, path length) at planet scale: a teleporting
    fix poisons every window after it.

    Determinism: the hop is the same floor-quantized integer
    millimetre great-circle distance as :func:`path_length`; ``dt_s``
    is an integer epoch-second difference; ``speed_mmps = hop_mm /
    dt_s`` divides two exact integers (identical double on both
    engines). Anomaly = speed above ``vmax_mps`` OR a re-fix at the
    same timestamp that MOVED (dt 0, hop > 0 — division-free).
    First fixes are never anomalous (no inbound hop).

    Scale shape: identical to :func:`path_length` — one hash shuffle
    on the entity, one ordered window.
    """
    w = Window.partitionBy(entity).orderBy(ts, tiebreak)
    vmax_mmps = float(vmax_mps) * MM
    hops = points.select(
        F.col(entity), F.col(ts), F.col(tiebreak),
        F.col(lon).alias("_lon"), F.col(lat).alias("_lat"),
        F.unix_timestamp(F.col(ts)).alias("_t"),
        F.lag(lon).over(w).alias("_plon"),
        F.lag(lat).over(w).alias("_plat"),
        F.lag(F.unix_timestamp(F.col(ts))).over(w).alias("_pt"),
    )
    hop_mm = F.when(
        F.col("_plon").isNotNull(),
        F.floor(_dist_haversine(F.col("_plon"), F.col("_plat"),
                                F.col("_lon"), F.col("_lat")) * F.lit(MM)))
    dt = (F.col("_t") - F.col("_pt")).alias("dt_s")
    speed = F.when((F.col("_pt").isNotNull()) & (F.col("_t") > F.col("_pt")),
                   hop_mm.cast("double") / (F.col("_t") - F.col("_pt"))
                   .cast("double"))
    anom = F.when(F.col("_pt").isNull(), F.lit(False)).otherwise(
        ((F.col("_t") > F.col("_pt")) & (speed > F.lit(vmax_mmps)))
        | ((F.col("_t") == F.col("_pt")) & (hop_mm > 0)))
    return hops.select(
        entity, tiebreak, ts,
        (F.col("_t") - F.col("_pt")).alias("dt_s"),
        hop_mm.alias("hop_mm"),
        speed.alias("speed_mmps"),
        anom.alias("is_anomaly"),
    )


def with_speed_sql(points_sql: str, vmax_mps: float = 70.0,
                   entity: str = "user_id", ts: str = "ts",
                   tiebreak: str = "event_id",
                   lon: str = "lon", lat: str = "lat") -> str:
    """DuckDB twin of :func:`with_speed` (same lag window, same
    floor-quantized hop, same integer dt, same flag logic)."""
    hav = haversine_sql("_plon", "_plat", lon, lat)
    vmax_mmps = float(vmax_mps) * MM
    hop = f"CAST(FLOOR({hav} * {MM!r}) AS BIGINT)"
    return f"""
WITH hops AS (
  SELECT {entity}, {tiebreak}, {ts}, {lon}, {lat},
         CAST(FLOOR(epoch({ts})) AS BIGINT) AS _t,
         lag({lon}) OVER w AS _plon, lag({lat}) OVER w AS _plat,
         lag(CAST(FLOOR(epoch({ts})) AS BIGINT)) OVER w AS _pt
  FROM ({points_sql})
  WINDOW w AS (PARTITION BY {entity} ORDER BY {ts}, {tiebreak}))
SELECT {entity}, {tiebreak}, {ts}, _t - _pt AS dt_s,
       CASE WHEN _plon IS NOT NULL THEN {hop} END AS hop_mm,
       CASE WHEN _pt IS NOT NULL AND _t > _pt
            THEN CAST(CASE WHEN _plon IS NOT NULL THEN {hop} END AS DOUBLE)
                 / CAST(_t - _pt AS DOUBLE) END AS speed_mmps,
       CASE WHEN _pt IS NULL THEN FALSE
            ELSE (_t > _pt AND CAST(CASE WHEN _plon IS NOT NULL THEN {hop} END
                                    AS DOUBLE) / CAST(_t - _pt AS DOUBLE)
                               > {vmax_mmps!r})
                 OR (_t = _pt AND CASE WHEN _plon IS NOT NULL THEN {hop} END > 0)
            END AS is_anomaly
FROM hops
""".strip()
