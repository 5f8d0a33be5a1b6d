"""SemDeDup — semantic (embedding-space) deduplication via k-means
clustering + within-cluster cosine pruning (Abbas et al. 2023,
arXiv:2303.09540).

The pipeline-level role: MinHash/SimHash catch lexical near-dups;
SemDeDup catches *semantic* duplicates (paraphrases, re-encodes,
crops) that share no shingles. Clustering first makes the quadratic
pairwise step tractable: pairs are only scored within a cluster, so
the self-join is cluster-bounded — at 10^12 rows you raise ``k``
until clusters fit (the paper uses 50k clusters for LAION), keeping
per-cluster work constant while cluster count scales with the data.

Determinism design (what makes the DuckDB oracle an exact twin, not a
tolerance check): naive distributed k-means is nondeterministic —
centroid means are float sums whose value depends on partition order.
Here every embedding is L2-normalized and **quantized to integer
millionths** (``floor(x/|x| * 1e6)``); centroids are kept as raw
integer component SUMS (never divided — the member count cancels in
cosine), so the update aggregation is exact integer arithmetic with
NO order sensitivity, and every score is derived from exact integers
through an identical, explicitly-sequenced float expression on both
engines. Assignment ties (exact integer-score equality only) break by
centroid id. The result is bit-reproducible across engines, runs, and
partitionings.

Spark shape per Lloyd round: one broadcast of k centroid sum-vectors
(driver-held Python ints — k·dims longs, trivially small), one
map-side-combining groupBy producing k rows of integer sums. No
shuffle of the corpus itself, no Python UDF — assignment is a
whole-stage-codegen expression tree (k × dims integer mul-adds/row).
The final dedup self-join shuffles once on the cluster id.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import CacheScope

Q = 1_000_000  # quantization grain: integer millionths of the unit vector


# ---------------------------------------------------------------------------
# quantized embeddings
# ---------------------------------------------------------------------------

def _quantize_col(vec: str, dims: int) -> F.Column:
    """array<long> of floor(x_d / |x| * Q) over the first ``dims``
    components (``dims`` < vector length = cheap dimensionality
    truncation, standard for dedup passes) — the norm is a
    left-to-right sequential fold (matches the unrolled SQL exactly,
    term for term)."""
    head = F.slice(F.col(vec), 1, dims)
    n2 = F.aggregate(
        F.transform(head, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v,
    )
    return F.transform(
        head,
        lambda x: F.floor(x.cast("double") / F.sqrt(n2) * F.lit(float(Q))),
    )


def _quantize_sql(vec: str, dims: int) -> list[str]:
    """One expression per dimension, same op sequence as the Column."""
    n2 = " + ".join(
        f"CAST({vec}[{d + 1}] AS DOUBLE) * CAST({vec}[{d + 1}] AS DOUBLE)"
        for d in range(dims)
    )
    return [
        f"CAST(FLOOR(CAST({vec}[{d + 1}] AS DOUBLE) / sqrt({n2}) * {float(Q)!r}) "
        f"AS BIGINT)"
        for d in range(dims)
    ]


def _qnorm2_col(qv: str) -> F.Column:
    """Σ q_d² as double, sequential fold (exact ints → exact doubles)."""
    return F.aggregate(
        F.transform(F.col(qv), lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v,
    )


def _qdot_cols(qv: str, csum: list[int]) -> F.Column:
    """Exact bigint dot of the quantized vector with an integer centroid
    sum (|q| ≤ 1e6, |csum| ≤ 1e6·n → products < 2^51·n; safe for any
    realistic cluster size)."""
    dot = None
    for d, c in enumerate(csum):
        term = F.element_at(F.col(qv), d + 1) * F.lit(int(c))
        dot = term if dot is None else dot + term
    return dot


def _cnorm(csum: list[int]) -> float:
    """sqrt(Σ csum_d²) with the same left-to-right double sequence the
    SQL twin uses (exact ints → identical doubles → identical sqrt)."""
    acc = 0.0
    for c in csum:
        acc += float(c) * float(c)
    return math.sqrt(acc)


# ---------------------------------------------------------------------------
# deterministic k-means (integer centroid sums)
# ---------------------------------------------------------------------------

def kmeans_assign(embeddings: DataFrame, k: int, iters: int, dims: int,
                  id_col: str = "vec_id", vec: str = "embedding",
                  assign: str = "expr") -> DataFrame:
    """Cluster by spherical k-means over quantized embeddings; returns
    ``(id_col, cluster, sim)`` where ``sim`` is the cosine of the row
    against its final centroid direction (double, unrounded).

    Init: the quantized vectors of the ``k`` smallest ids (seed rows —
    deterministic, no RNG). Each round scores every row against every
    centroid, argmax with (score desc, cid asc) ties, then re-sums
    members per cluster in exact integers. Empty clusters drop out
    (both engines agree: GROUP BY emits only non-empty groups).

    ``assign`` picks the scoring strategy — both produce BIT-IDENTICAL
    assignments (same integer dot, same double sequence, same ties;
    pinned by test):

    * ``"expr"`` — one ``array_max`` over k inline struct scores
      (k·dims codegen mul-adds per row, centroids baked in as
      literals). Zero extra shuffle, but the plan tree grows with
      k·dims — right for k ≲ 100.
    * ``"join"`` — centroids become a broadcast k-row DataFrame
      (cid, csum array, cnorm double); scoring is a broadcast
      nested-loop join + ``zip_with`` fold, argmax via a
      ``groupBy(_id).agg(max(struct(s, -cid)))`` map-side-combining
      agg. Plan size is O(1) in k, stays fully JVM-side.
    * ``"numpy"`` — Arrow-batched ``mapInPandas``: one int64 matmul
      per batch against the closure-shipped centroid matrix, no
      shuffle, no per-centroid rows. The 100 TB path where k scales
      with the corpus (SemDeDup needs per-cluster occupancy bounded,
      so k ∝ N): at k=512 the matmul replaces a 512×-row-inflating
      join with ~2 s of C-loop per 200k rows.

    Exactness bound (both paths): the bigint dot needs
    ``|q|·|csum| ≤ 1e6 · (1e6·m) < 2^63/dims`` per term-sum —
    safe for cluster sizes ``m`` into the millions.
    """
    if assign not in ("expr", "join", "numpy"):
        raise ValueError(
            f"assign must be 'expr', 'join' or 'numpy', got {assign!r}")
    with CacheScope() as scope:
        q = scope.persist(embeddings.select(
            F.col(id_col).alias("_id"), _quantize_col(vec, dims).alias("qv")
        ))
        seeds = (q.orderBy("_id").limit(k)
                 .select("_id", "qv").collect())
        cents: dict[int, list[int]] = {
            i: [int(x) for x in r.qv] for i, r in enumerate(seeds)}

        assigned = None
        fn = {"expr": _assign_expr, "join": _assign_join,
              "numpy": _assign_numpy}[assign]
        for it in range(iters + 1):  # final pass scores against last sums
            assigned = fn(q, cents)
            if it == iters:
                break
            sums = (
                assigned.groupBy("cluster")
                .agg(*[F.sum(F.element_at("qv", d + 1)).alias(f"c{d}")
                       for d in range(dims)])
                .collect()
            )
            cents = {int(r.cluster): [int(r[f"c{d}"]) for d in range(dims)]
                     for r in sums}

        qn = F.sqrt(_qnorm2_col("qv"))
        return assigned.select(
            F.col("_id").alias(id_col), "cluster",
            (F.col("_qsim") / qn).alias("sim"))


def _assign_expr(q: DataFrame, cents: dict[int, list[int]]) -> DataFrame:
    """k inline struct scores; array_max keeps the expression linear in
    k (a when-chain would replicate subtrees exponentially), ties →
    lowest cid via the negated-cid struct field."""
    scored = F.array_max(F.array(*[
        F.struct(
            (_qdot_cols("qv", csum).cast("double") / F.lit(_cnorm(csum))
             ).alias("s"),
            F.lit(-cid).alias("ncid"),
        )
        for cid, csum in cents.items()
    ]))
    return q.select("_id", "qv", scored.alias("_best")).select(
        "_id", "qv",
        (-F.col("_best")["ncid"]).cast("long").alias("cluster"),
        F.col("_best")["s"].alias("_qsim"))


def _assign_join(q: DataFrame, cents: dict[int, list[int]]) -> DataFrame:
    """Broadcast the k centroids as rows; exact bigint dot via a
    zip_with/aggregate fold (same left-to-right sequence as the
    unrolled expression), argmax via max(struct) with map-side
    combine. ``first(qv)`` is safe: every row in an ``_id`` group
    carries the identical qv."""
    spark = q.sparkSession
    cdf = spark.createDataFrame(
        [(int(cid), [int(x) for x in csum], _cnorm(csum))
         for cid, csum in cents.items()],
        "cid long, csum array<long>, cnorm double",
    )
    dot = F.aggregate(
        F.zip_with("qv", "csum", lambda a, b: a * b),
        F.lit(0).cast("long"), lambda acc, v: acc + v,
    )
    scored = q.join(F.broadcast(cdf)).select(
        "_id", "qv",
        F.struct((dot.cast("double") / F.col("cnorm")).alias("s"),
                 (-F.col("cid")).alias("ncid")).alias("_sc"),
    )
    return (
        scored.groupBy("_id")
        .agg(F.max("_sc").alias("_best"), F.first("qv").alias("qv"))
        .select("_id", "qv",
                (-F.col("_best")["ncid"]).alias("cluster"),
                F.col("_best")["s"].alias("_qsim"))
    )


def kmeans_sql(table: str, k: int, iters: int, dims: int,
               id_col: str = "vec_id", vec: str = "embedding") -> str:
    """DuckDB twin of :func:`kmeans_assign` → ``(id_col, cluster, sim,
    q1..qdims)`` (the quantized components ride along for reuse)."""
    qcols = ", ".join(f"{e} AS q{d}" for d, e in
                      enumerate(_quantize_sql(vec, dims)))
    ctes = [f"qv AS (SELECT {id_col} AS _id, {qcols} FROM {table})",
            f"c0 AS (SELECT row_number() OVER (ORDER BY _id) - 1 AS cid, "
            f"{', '.join(f'q{d} AS c{d}' for d in range(dims))} "
            f"FROM qv ORDER BY _id LIMIT {k})"]
    for it in range(1, iters + 1):
        ctes.append(_assign_cte(f"a{it}", f"c{it - 1}", dims))
        ctes.append(
            f"c{it} AS (SELECT cluster AS cid, "
            + ", ".join(f"SUM(q{d}) AS c{d}" for d in range(dims))
            + f" FROM a{it} GROUP BY cluster)"
        )
    ctes.append(_assign_cte("afin", f"c{iters}", dims))
    qn = " + ".join(f"CAST(q{d} AS DOUBLE) * CAST(q{d} AS DOUBLE)"
                    for d in range(dims))
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT _id AS {id_col}, cluster, _qsim / sqrt({qn}) AS sim, "
        + ", ".join(f"q{d}" for d in range(dims)) + " FROM afin"
    )


def _assign_cte(name: str, cent: str, dims: int) -> str:
    dot = " + ".join(f"q.q{d} * c.c{d}" for d in range(dims))
    cn = " + ".join(f"CAST(c.c{d} AS DOUBLE) * CAST(c.c{d} AS DOUBLE)"
                    for d in range(dims))
    qsel = ", ".join(f"q{d}" for d in range(dims))
    qsel_in = ", ".join(f"q.q{d}" for d in range(dims))
    return (
        f"{name} AS (SELECT _id, {qsel}, cid AS cluster, s AS _qsim FROM ("
        f"SELECT q._id, {qsel_in}, c.cid, CAST({dot} AS DOUBLE) / sqrt({cn}) AS s, "
        f"row_number() OVER (PARTITION BY q._id "
        f"ORDER BY CAST({dot} AS DOUBLE) / sqrt({cn}) DESC, c.cid ASC) AS rn "
        f"FROM qv q CROSS JOIN {cent} c) WHERE rn = 1)"
    )


def _assign_numpy(q: DataFrame, cents: dict[int, list[int]]) -> DataFrame:
    """Arrow-batched scorer: per batch, ONE int64 matmul of the
    quantized vectors against the centroid matrix — exact integer dots
    (order-free), then the identical cast-to-double / divide-by-cnorm
    sequence, argmax with first-occurrence ties = lowest cid (centroid
    rows are cid-sorted). Bit-identical to the other two paths
    (pinned by test), ~100× their per-row cost at large k: the k·dims
    mul-adds run as one C loop instead of k codegen branches or a
    k-row join. No shuffle at all — this is the path for k in the
    thousands. Exactness bound: |dot| ≤ dims·1e12·m must stay under
    2^63 — cluster sizes m up to ~5·10⁵ at dims=16 (raise Q grain or
    split clusters beyond that)."""
    import numpy as np
    import pandas as pd

    cids = sorted(cents)
    cmat = np.array([cents[c] for c in cids], dtype=np.int64)
    norms = np.array([_cnorm(cents[c]) for c in cids], dtype=np.float64)
    cid_arr = np.array(cids, dtype=np.int64)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            qm = np.array(pdf["qv"].tolist(), dtype=np.int64)
            s = (qm @ cmat.T).astype(np.float64) / norms[None, :]
            arg = s.argmax(axis=1)
            yield pd.DataFrame({
                "_id": pdf["_id"].to_numpy(),
                "qv": pdf["qv"],
                "cluster": cid_arr[arg],
                "_qsim": s[np.arange(len(qm)), arg],
            })

    return q.mapInPandas(
        score, "_id long, qv array<bigint>, cluster long, _qsim double")


# ---------------------------------------------------------------------------
# SemDeDup proper
# ---------------------------------------------------------------------------

def _prune_numpy(a: DataFrame, tau: float, id_col: str) -> DataFrame:
    """Per-cluster keep/drop via one exact int64 Gram matrix per group
    (applyInPandas). Bit-identical to the fold path: the fold's
    per-element double products and running sums are all integers
    < 2^53 (|q|≤1e6 ⇒ products ≤1e12, dims·1e12 ≪ 9e15), so its float
    accumulation is EXACT and equals the integer matmul; norms and the
    divide share the same op sequence. The m×m matrix per cluster is
    the SemDeDup contract made explicit — k must bound per-cluster
    occupancy anyway (k ∝ N), this just turns ~100 interpreted
    HOF-fold ops per pair into one C matmul per cluster."""
    import numpy as np
    import pandas as pd

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        q = np.array(pdf["qv"].tolist(), dtype=np.int64)
        ids = pdf[id_col].to_numpy()
        sa = pdf["sim"].to_numpy()
        g = q @ q.T
        norms = np.sqrt((q * q).sum(axis=1).astype(np.float64))
        cos = g.astype(np.float64) / (norms[:, None] * norms[None, :])
        hit = cos >= tau
        np.fill_diagonal(hit, False)
        # hit[i,j] & farther[i,j]: j sits closer to dropping i when
        # s[j] < s[i], ties to the smaller id
        farther = (sa[None, :] < sa[:, None]) | (
            (sa[None, :] == sa[:, None]) & (ids[None, :] < ids[:, None]))
        dropped = (hit & farther).any(axis=1)
        return pd.DataFrame({
            id_col: ids,
            "cluster": pdf["cluster"].to_numpy(),
            "sim": sa,
            "kept": ~dropped,
        })

    return a.groupBy("cluster").applyInPandas(
        prune, f"{id_col} long, cluster long, sim double, kept boolean")


def semdedup(embeddings: DataFrame, k: int, iters: int, dims: int, tau: float,
             id_col: str = "vec_id", vec: str = "embedding",
             assign: str = "expr", prune: str = "fold") -> DataFrame:
    """``(id_col, cluster, sim_r, kept)`` — ``kept = false`` for every
    row that has a same-cluster neighbor with pair-cosine ≥ ``tau``
    where the *neighbor* sits farther from the centroid (lower sim,
    ties by id): the paper's keep-the-outlier policy, reduced to pair
    edges. ``sim_r`` is the centroid cosine rounded to 9 (display
    only — decisions use the unrounded exact-int-derived value).

    ``prune`` picks the pair-stage strategy — both bit-identical
    (pinned by test): ``"fold"`` keeps everything JVM-side but pays
    interpreted higher-order-function cost per pair (Spark does not
    codegen ``aggregate``/``zip_with`` lambdas — measured 109 s for
    81M pairs at 200k×k=512); ``"numpy"`` does one exact int64 Gram
    matmul per cluster via applyInPandas (same shuffle, C-speed
    pairs) — the large-scale path."""
    q = embeddings.select(
        F.col(id_col).alias("_id"), _quantize_col(vec, dims).alias("qv"))
    a = kmeans_assign(embeddings, k, iters, dims, id_col, vec, assign).join(
        q.withColumnRenamed("_id", id_col), id_col)
    if prune == "numpy":
        return _prune_numpy(a, tau, id_col).select(
            id_col, "cluster", F.round("sim", 9).alias("sim_r"), "kept")
    if prune != "fold":
        raise ValueError(f"prune must be 'fold' or 'numpy', got {prune!r}")
    left = a.select(F.col(id_col).alias("ida"), F.col("cluster"),
                    F.col("sim").alias("sa"), F.col("qv").alias("qa"))
    right = a.select(F.col(id_col).alias("idb"), F.col("cluster"),
                     F.col("sim").alias("sb"), F.col("qv").alias("qb"))
    pair_dot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: (x * y).cast("double")),
        F.lit(0.0), lambda acc, v: acc + v,
    )
    na = F.sqrt(_qnorm2_col("qa"))
    nb = F.sqrt(_qnorm2_col("qb"))
    dropped = (
        left.join(right, "cluster")
        .where(F.col("ida") != F.col("idb"))
        .where(pair_dot / (na * nb) >= F.lit(tau))
        .where((F.col("sb") < F.col("sa")) |
               ((F.col("sb") == F.col("sa")) & (F.col("idb") < F.col("ida"))))
        .select(F.col("ida").alias(id_col))
        .distinct()
    )
    return (
        a.join(dropped.withColumn("_drop", F.lit(True)), id_col, "left")
        .select(id_col, "cluster", F.round("sim", 9).alias("sim_r"),
                F.coalesce(~F.col("_drop"), F.lit(True)).alias("kept"))
    )


def semdedup_sql(table: str, k: int, iters: int, dims: int, tau: float,
                 id_col: str = "vec_id", vec: str = "embedding") -> str:
    km = kmeans_sql(table, k, iters, dims, id_col, vec)
    pd_ = " + ".join(f"CAST(a.q{d} * b.q{d} AS DOUBLE)" for d in range(dims))
    nq = lambda al: " + ".join(  # noqa: E731
        f"CAST({al}.q{d} AS DOUBLE) * CAST({al}.q{d} AS DOUBLE)"
        for d in range(dims))
    return (
        f"WITH km AS ({km}), dropped AS ("
        f"SELECT DISTINCT a.{id_col} AS did FROM km a JOIN km b "
        f"ON a.cluster = b.cluster AND a.{id_col} <> b.{id_col} "
        f"WHERE ({pd_}) / (sqrt({nq('a')}) * sqrt({nq('b')})) >= {tau!r} "
        f"AND (b.sim < a.sim OR (b.sim = a.sim AND b.{id_col} < a.{id_col}))) "
        f"SELECT km.{id_col}, km.cluster, ROUND(km.sim, 9) AS sim_r, "
        f"did IS NULL AS kept "
        f"FROM km LEFT JOIN dropped ON km.{id_col} = did"
    )
