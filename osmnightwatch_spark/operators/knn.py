"""Cell-bucketed exact kNN join (north_rule J11).

The reference's nearest semantic ancestor is its bounding-box
neighborhood join ("fetch coastlines in the bbox of a changed
coastline", README.md:40; ``BrokenCoastlineAnalyzer.cs:140-166``).
Here: for each probe point, the k nearest candidate points under the
documented metric — **squared planar degree distance**
``(Δlon)² + (Δlat)²`` (planar, like the reference's R-tree frames; no
great-circle correction, stated so the oracle matches bit-for-bit).

Exact in two rounds (the classic filter-and-refine kNN):

1. **Candidate round** — candidates bucketed by cell at ``res``
   (native encode); probes explode to their own + ring-1 neighbor
   cells (``cells.ring_cells_col``: the 9 neighbor ids as one native
   array expression, then ``explode``). Equi-join on cell, per-probe
   top-k via ``row_number`` window.
2. **Guarantee check** — a probe's result is provably exact iff its
   k-th distance ≤ its guaranteed radius (distance from the probe to
   the edge of its (2r+1)×(2r+1) cell block: everything outside the
   block is farther than that radius). Probes that fail (or found < k
   candidates) re-run on an expanded ring (r=8, the same native ring
   generator: no round of the ladder starts a Python worker); if that
   ring already spans the whole grid the expansion is itself provably
   exact and no brute pass exists in the plan. Only at fine
   resolutions does a (provably tiny) final residue fall back to
   broadcast brute-force.

Scale: round 1 shuffles candidates once by cell and probes ×9; the
window partitions by probe_id (no hot key — each probe is its own
group). Resolution choice trades candidate-list length (dense cells)
against residue size (empty rings); pick res so expected cell
occupancy ≈ a few × k. Ring expansion bounds the worst case: an
empty-neighborhood probe costs one extra (2r+1)²-cell explode, not a
pass over every candidate.
"""

from __future__ import annotations

import threading

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import cells as C
from ..session import CacheScope


def _dist2(plon, plat, clon, clat):
    return (plon - clon) * (plon - clon) + (plat - clat) * (plat - clat)


EARTH_R_M = 6371000.0  # mean earth radius; shared verbatim with the SQL twin


def _dist_haversine(plon, plat, clon, clat):
    """Great-circle metres, written in the exact operation order the
    DuckDB twin uses (``haversine_sql``) so both engines evaluate the
    same float expression."""
    dphi = (F.radians(clat) - F.radians(plat)) / 2
    dlam = (F.radians(clon) - F.radians(plon)) / 2
    h = (F.sin(dphi) * F.sin(dphi)
         + F.cos(F.radians(plat)) * F.cos(F.radians(clat))
         * F.sin(dlam) * F.sin(dlam))
    return 2.0 * EARTH_R_M * F.asin(F.least(F.lit(1.0), F.sqrt(h)))


def haversine_sql(plon: str, plat: str, clon: str, clat: str) -> str:
    """ANSI-SQL rendering of :func:`_dist_haversine` (same op order)."""
    dphi = f"((RADIANS({clat}) - RADIANS({plat})) / 2)"
    dlam = f"((RADIANS({clon}) - RADIANS({plon})) / 2)"
    h = (f"(SIN({dphi}) * SIN({dphi}) + COS(RADIANS({plat})) * "
         f"COS(RADIANS({clat})) * SIN({dlam}) * SIN({dlam}))")
    return f"(2.0 * {EARTH_R_M} * ASIN(LEAST(1.0, SQRT({h}))))"


def _block_edges(res: int, r: int):
    """Per-axis distances (degrees) from the probe to the edges of its
    (2r+1)×(2r+1) cell block."""
    n = float(1 << res)
    cw, ch = 360.0 / n, 180.0 / n
    gx = F.floor((F.col("_plon") + F.lit(180.0)) / F.lit(cw))
    gy = F.floor((F.col("_plat") + F.lit(90.0)) / F.lit(ch))
    bx0 = gx.cast("double") * cw - 180.0 - r * cw
    bx1 = bx0 + (2 * r + 1) * cw
    by0 = gy.cast("double") * ch - 90.0 - r * ch
    by1 = by0 + (2 * r + 1) * ch
    glon = F.least(F.col("_plon") - bx0, bx1 - F.col("_plon"))
    glat = F.least(F.col("_plat") - by0, by1 - F.col("_plat"))
    return glon, glat


def _block_guard(res: int, r: int):
    """Planar-degree distance from the probe to the edge of its
    (2r+1)×(2r+1) cell block — everything outside the block is farther
    than this."""
    glon, glat = _block_edges(res, r)
    return F.least(glon, glat)


def _block_guard_haversine(res: int, r: int):
    """Great-circle metres lower bound to anything outside the block.

    A point q outside the (2r+1)×(2r+1) block differs from the probe
    by ≥ glat degrees of latitude OR ≥ glon degrees of longitude:

    * latitude case: central angle ≥ Δφ, so dist ≥ R·rad(glat);
    * longitude case with |Δφ| < glat (else the latitude bound already
      applies): |lat(q)| ≤ |lat(p)| + glat, and the haversine identity
      gives hav θ ≥ cos φ₁ · cos φ₂ · hav Δλ ≥ cos φ₁ · cos φ₂max ·
      hav glon.

    The guard is the min of the two bounds — conservative (never
    exceeds the true distance to the nearest outside point), the
    direction exactness needs. At high latitude cos φ₂max shrinks the
    longitude bound, correctly modelling meridian convergence (the
    degree grid's cells are geographically skinny there): more probes
    fail ring-1 and re-run on the wider ring — extra work, never a
    wrong answer.
    """
    glon, glat = _block_edges(res, r)
    phi1 = F.radians(F.col("_plat"))
    phi2max = F.radians(F.least(F.lit(90.0), F.abs(F.col("_plat")) + glat))
    lat_bound = EARTH_R_M * F.radians(glat)
    lon_bound = 2.0 * EARTH_R_M * F.asin(
        F.least(F.lit(1.0),
                F.sqrt(F.cos(phi1) * F.cos(phi2max))
                * F.sin(F.radians(glon) / 2))
    )
    return F.least(lat_bound, lon_bound)


def auto_res(n_cands: int, k: int, target_occ_per_k: int = 4) -> int:
    """Resolution rule (the documented occupancy heuristic): pick res
    so expected cell occupancy ≈ ``target_occ_per_k × k`` under a
    uniform spread — cells hold enough candidates that ring-1 usually
    satisfies k (small residue), but few enough that the per-probe
    candidate list stays O(k) (round-1 r2 measured res=4 at 40× the
    candidate pairs of res=6 on 200k points).

    ``res = floor(log4(n / (target_occ_per_k·k)))`` clamped to
    [2, 14]. Skewed data (a dense city cell) degrades gracefully: the
    per-probe window trims each probe to k rows and the ring ladder
    never scans beyond the probe's neighborhood.

    The rule only needs ``n_cands`` to order of magnitude (log4: a 4×
    miss shifts res by one) — callers may pass a cheap upper bound such
    as a pre-filter parquet footer count. :func:`knn_join`'s output is
    res-invariant, so the derived res changes its cost, never its rows.
    """
    import math

    occ = max(1, target_occ_per_k * k)
    cells = max(1.0, n_cands / occ)
    return max(2, min(14, int(math.log(cells, 4))))


def footer_rowcount(df: DataFrame) -> int | None:
    """Driver-side parquet row count from file footers — no Spark job.

    Sums ``num_rows`` across ``df.inputFiles()`` via pyarrow. For a
    plan with filters (or joins) this is a PRE-filter upper bound of
    ``df.count()`` — exactly what :func:`auto_res` tolerates (its log4
    rule only needs the order of magnitude). Returns None when the
    plan has no scannable files (in-memory test DataFrames, non-
    parquet sources, unreadable paths) so callers can fall back to a
    real ``count()``.
    """
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files or not all(f.endswith((".parquet", ".pq")) for f in files):
        return None
    try:
        import urllib.parse

        import pyarrow.parquet as pq

        total = 0
        for f in files:
            p = urllib.parse.urlparse(f)
            path = p.path if p.scheme in ("", "file") else None
            if path is None:
                return None
            total += pq.ParquetFile(path).metadata.num_rows
        return total
    except Exception:
        return None


#: Broadcast the (ring-exploded) probe side when the probe set is at
#: most this many rows: 9 × 20k ring rows × ~50 B ≈ 9 MB stays under
#: Spark's default 10 MB auto-broadcast ceiling. Above it, the join is
#: left to AQE (candidate-bucketed shuffle join). Measured at sf0.1
#: (200 probes × 200k candidates): without the hint AQE broadcast the
#: 200k-row CANDIDATE side — rebuilding an ~8 MB hash relation per run
#: dominated the query (~2.3–3.0 s → ~1.3–1.8 s probe-broadcast).
BROADCAST_PROBE_MAX = 20_000


def knn_join(probes: DataFrame, candidates: DataFrame, k: int,
             res: int | None = None,
             probe_id: str = "probe_id", cand_id: str = "cand_id",
             lon: str = "lon", lat: str = "lat",
             metric: str = "planar") -> DataFrame:
    """Returns (probe_id, cand_id, dist2, rank) — per probe the k
    nearest candidates, rank 1..k by (dist2, cand_id) (deterministic
    tie-break). Probes and candidates may be the same table (self-kNN
    excludes self-matches when ids collide).

    ``metric="planar"`` (default) ranks by squared planar degree
    distance in a ``dist2`` column — bit-exact against integer-derived
    oracles, matching the reference's R-tree frames.
    ``metric="haversine"`` ranks by great-circle metres in a ``dist_m``
    column (:func:`_dist_haversine`; SQL twin :func:`haversine_sql`);
    the ring-exactness guarantee swaps in a great-circle lower bound
    (:func:`_block_guard_haversine`), so the ladder stays provably
    exact at any latitude — including above 60° where planar degrees
    misrank east-west vs north-south neighbors.

    The join is multi-pass by nature (guarantee check + possible ring
    expansion), so it runs eagerly under one
    :class:`~osmnightwatch_spark.session.CacheScope`: the top-k is
    persisted, the (k×probes)-sized result is eager-checkpointed, and
    every intermediate is released on return or raise — no
    CacheManager entry outlives the call. The common (all-exact) path
    takes exactly three actions:

    1. ``probes.count()`` — gives the probe cardinality for the
       exactness accounting below AND the join-side decision (probe
       sets ≤ :data:`BROADCAST_PROBE_MAX` broadcast their ring-
       exploded side so the candidate table streams map-side — AQE
       left alone was observed broadcasting the 200k-row candidate
       side instead, rebuilding an ~8 MB hash relation per run).
    2. one combined job that materializes the persisted top-k AND
       counts the provably-exact probes (``n_ok``) off it — the
       exactness stats ride the same action as the persist.
    3. when ``n_ok == n_probes`` every ranked row is already exact, so
       the per-probe semi-join is skipped entirely and the (k×probes)-
       sized result is eager-checkpointed straight off the persisted
       top-k.

    Probes that fail the guarantee re-run on the expanded ring / brute
    ladder (rare by construction; extra jobs only on that path).

    ``res=None`` (default) derives the resolution from the candidate
    count via :func:`auto_res` — from parquet footers driver-side (no
    Spark job, pre-filter upper bound — fine for the log4 occupancy
    rule), else one ``count()`` job. Pass an explicit res to pin it."""
    if metric not in ("planar", "haversine"):
        raise ValueError(f"metric must be planar|haversine, got {metric!r}")
    if res is None:
        n_cands = footer_rowcount(candidates)
        if n_cands is None:
            n_cands = candidates.count()
        res = auto_res(n_cands, k)
    # The probe count (exactness accounting + broadcast decision) is a
    # real Spark job; run it on a driver thread so it overlaps the
    # ~0.5 s of ring-plan construction below instead of preceding it
    # (guide §2.6 "overlap independent jobs" — here the overlap is
    # job-vs-driver-planning). The count is joined exactly where its
    # value is first needed.
    _count_box: dict = {}

    @inheritable_thread_target
    def _probe_count():
        _count_box["n"] = probes.count()

    _count_th = threading.Thread(target=_probe_count, daemon=True)
    _count_th.start()

    def _n_probes():
        _count_th.join()
        return _count_box["n"]

    p = probes.select(
        F.col(probe_id).alias("_pid"),
        F.col(lon).alias("_plon"),
        F.col(lat).alias("_plat"),
    )
    c = C.attach_cell(
        candidates.select(
            F.col(cand_id).alias("_cid"),
            F.col(lon).alias("_clon"),
            F.col(lat).alias("_clat"),
        ),
        res, lon="_clon", lat="_clat", out="_ccell",
    )

    args = (F.col("_plon"), F.col("_plat"), F.col("_clon"), F.col("_clat"))
    d2 = _dist2(*args) if metric == "planar" else _dist_haversine(*args)
    dist_col = "dist2" if metric == "planar" else "dist_m"
    w = Window.partitionBy("_pid").orderBy(F.col("dist2").asc(), F.col("_cid").asc())

    def ring_topk(p_sub: DataFrame, r: int, bcast: bool | None = None) -> DataFrame:
        # fully native (2r+1)² ring (no Python anywhere in the plan) —
        # at self-kNN scale the ring-1 probe side is the whole corpus
        # and an Arrow round-trip here would be the dominant transfer
        pc = C.ring_cells_col(p_sub, res, r, lon="_plon", lat="_plat",
                              out="_ring")
        exploded = pc.withColumn(
            "_ccell", F.explode(F.array_distinct(F.col("_ring")))
        ).drop("_ring")
        if bcast is None:
            # resolved as late as possible: joins the overlapped
            # probe-count thread only once the plan above is built;
            # broadcast the ring-exploded probe side when the probe set
            # is small (see BROADCAST_PROBE_MAX)
            bcast = _n_probes() <= BROADCAST_PROBE_MAX
        if bcast:
            exploded = F.broadcast(exploded)
        paired = exploded.join(c, "_ccell").where(F.col("_pid") != F.col("_cid"))
        # one select instead of two withColumns: each Dataset op
        # re-analyzes the whole (deep) plan eagerly, so fusing the
        # dist2 projection and the window (ordering by the distance
        # EXPRESSION — same values as ordering by the column) into a
        # single projection saves a full analysis pass per ring round
        w_inline = Window.partitionBy("_pid").orderBy(
            d2.asc(), F.col("_cid").asc())
        return (
            paired.select("*", d2.alias("dist2"),
                          F.row_number().over(w_inline).alias("rank"))
            .where(F.col("rank") <= k)
        )

    def ok_probes(ranked_r: DataFrame, r: int) -> DataFrame:
        """Probes whose ring-r top-k is provably exact (guarantee)."""
        # planar ranks by SQUARED degrees → the k-th radius is its
        # sqrt; haversine ranks by metres directly
        kth = (F.max(F.sqrt(F.col("dist2"))) if metric == "planar"
               else F.max(F.col("dist2")))
        stats = ranked_r.groupBy("_pid").agg(
            kth.alias("_kth"),
            F.count(F.lit(1)).alias("_found"),
            F.first("_plon").alias("_plon"), F.first("_plat").alias("_plat"),
        )
        guard = (_block_guard(res, r) if metric == "planar"
                 else _block_guard_haversine(res, r))
        return stats.where(
            (F.col("_found") >= k) & (F.col("_kth") <= guard)
        ).select("_pid")

    ranked = ring_topk(p, 1)

    def finish(parts_):
        out = parts_[0].select("_pid", "_cid", "dist2", "rank")
        for extra in parts_[1:]:
            out = out.unionByName(extra.select("_pid", "_cid", "dist2", "rank"))
        # checkpoint the (k × probes)-sized result; the scope then
        # releases every intermediate cache — nothing outlives the call
        return out.select(
            F.col("_pid").alias(probe_id), F.col("_cid").alias(cand_id),
            F.col("dist2").alias(dist_col), "rank",
        ).localCheckpoint(eager=True)

    with CacheScope() as scope:
        # the top-k feeds every downstream consumer (stats, good, residue
        # anti-join): persist — measured 3.5× faster to materialize than
        # localCheckpoint (the RDD conversion there bypasses AQE and
        # shuffle reuse)
        ranked = scope.persist(ranked)

        # driver-side short-circuit: the common case is an empty residue,
        # and the expansion/brute branches each re-shuffle the candidate
        # side even when their probe side is empty at runtime. The check
        # rides the persist-materializing action itself: counting the
        # provably-exact probes off the (small, persisted) top-k is ONE
        # job, and n_ok == n_probes ⟺ empty residue (ok ⊆ probes; with
        # duplicate probe ids the counts differ and we merely take the
        # slower residue path, whose anti-join then comes up empty —
        # correctness is unaffected). count(), not isEmpty(): isEmpty's
        # incremental-limit execution probes partitions in sequential
        # waves (measured 3.5× slower on an empty anti-join)
        ok = ok_probes(ranked, 1)
        n_ok = ok.count()
        n_probes = _n_probes()
        if n_ok == n_probes:
            # every probe exact ⇒ the semi-join would keep every
            # ranked row — checkpoint the persisted top-k directly
            return finish([ranked])
        parts = [ranked.join(ok, "_pid", "left_semi")]
        residue = p.join(ok, "_pid", "left_anti")

        # ring expansion (SURVEY §7.2(c)): residue probes rerun at r=8. A
        # residue probe means its 3×3 block held < k candidates or the
        # k-th lay outside the guard — rerunning at ring-8 costs one 17²-
        # cell explode per such probe, NOT a pass over all candidates.
        # Chebyshev radius covering the whole grid: lon wraps after 2^(res-1)
        # but lat only clamps, so full cover needs the complete y range
        r_full = (1 << res) - 1
        r2 = min(8, r_full)
        # broadcast decision for the expansion round: BROADCAST_PROBE_MAX
        # is sized for the ring-1 ×9 explode, so rescale the cap by this
        # ring's (2r+1)² fan-out — a 15k-probe residue at r=8 explodes to
        # ~4.3M rows, far past the cap's intent
        bcast_r2 = n_probes - n_ok <= max(1, BROADCAST_PROBE_MAX * 9
                                          // ((2 * r2 + 1) ** 2))
        ranked2 = ring_topk(residue, r2, bcast=bcast_r2)
        if r2 >= r_full:
            # the expanded ring already spans the whole grid: provably
            # exact by construction — no brute pass exists in the plan
            parts.append(ranked2)
        else:
            ranked2 = scope.persist(ranked2)
            ok2 = ok_probes(ranked2, r2)
            parts.append(ranked2.join(ok2, "_pid", "left_semi"))
            residue2 = residue.join(ok2, "_pid", "left_anti")
            # final residue: provably rare (k-th neighbor farther than 8
            # cells → locally near-empty data); broadcast brute against
            # all candidates bounds correctness, not the common cost
            brute = (
                F.broadcast(residue2)
                .crossJoin(c.drop("_ccell"))
                .where(F.col("_pid") != F.col("_cid"))
                .withColumn("dist2", d2)
                .withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k)
            )
            parts.append(brute)
        return finish(parts)


def knn_join_brute(probes: DataFrame, candidates: DataFrame, k: int,
                   probe_id: str = "probe_id", cand_id: str = "cand_id",
                   lon: str = "lon", lat: str = "lat",
                   metric: str = "planar") -> DataFrame:
    """O(P×C) reference implementation (tests + small probe sets)."""
    p = probes.select(F.col(probe_id).alias("_pid"), F.col(lon).alias("_plon"),
                      F.col(lat).alias("_plat"))
    c = candidates.select(F.col(cand_id).alias("_cid"), F.col(lon).alias("_clon"),
                          F.col(lat).alias("_clat"))
    args = (F.col("_plon"), F.col("_plat"), F.col("_clon"), F.col("_clat"))
    d2 = _dist2(*args) if metric == "planar" else _dist_haversine(*args)
    dist_col = "dist2" if metric == "planar" else "dist_m"
    w = Window.partitionBy("_pid").orderBy(F.col("dist2").asc(), F.col("_cid").asc())
    return (
        F.broadcast(p).crossJoin(c)
        .where(F.col("_pid") != F.col("_cid"))
        .withColumn("dist2", d2)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(F.col("_pid").alias(probe_id), F.col("_cid").alias(cand_id),
                F.col("dist2").alias(dist_col), "rank")
    )
