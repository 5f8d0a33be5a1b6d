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

Spark shape per Lloyd round: the k centroid sum-vectors (driver-held
Python ints — k·dims longs, trivially small) ship in the scoring
closure, and one map-side-combining groupBy produces k rows of integer
sums. No shuffle of the corpus itself. Assignment is an Arrow-batched
``mapInPandas`` kernel (one int64 matmul per batch) and the prune is
one int64 Gram matmul per cluster (``applyInPandas``, the single
shuffle on the cluster id). Both are Python operators by measurement:
on 4 cores, 50k × 16-d rows, the whole-stage-codegen expression tree
(k × dims inline mul-adds per row) plus the higher-order-function
pair fold took 133–140 s at k=64 and 216–275 s at k=256 against
9.4–11.0 s for the numpy kernels, with identical output; at k=64 the
expression tree also outgrew Janino's 64 KB method limit.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
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
                  id_col: str = "vec_id", vec: str = "embedding") -> DataFrame:
    """Cluster by spherical k-means over quantized embeddings; returns
    ``(id_col, cluster, sim)`` where ``sim`` is the cosine of the row
    against its final centroid direction (double, unrounded).

    Init: the quantized vectors of the ``k`` smallest ids (seed rows —
    deterministic, no RNG). Each round scores every row against every
    centroid with :func:`_assign_numpy`, argmax with (score desc, cid
    asc) ties, then re-sums members per cluster in exact integers.
    Empty clusters drop out (both engines agree: GROUP BY emits only
    non-empty groups).
    """
    with CacheScope() as scope:
        q = scope.persist(embeddings.select(
            F.col(id_col).alias("_id"), _quantize_col(vec, dims).alias("qv")
        ))
        seeds = (q.orderBy("_id").limit(k)
                 .select("_id", "qv").collect())
        cents: dict[int, list[int]] = {
            i: [int(x) for x in r.qv] for i, r in enumerate(seeds)}

        assigned = None
        for it in range(iters + 1):  # final pass scores against last sums
            assigned = _assign_numpy(q, cents)
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


def _check_dot_bound(cents: dict[int, list[int]]) -> None:
    """Raise ``ValueError`` before int64 scoring could wrap.

    A quantized unit vector has ``|q|₂ ≤ Q + dims`` (each component is
    at most one grain off ``x_d/|x|·Q``), so by Cauchy–Schwarz every
    partial sum of ``q · csum`` — over any subset of dimensions, in any
    summation order the matmul picks — is at most ``(Q + dims) ·
    |csum|₂``, which stays below 2^63 while its square stays below
    2^126. Checked on the driver's exact Python-int sums: centroid
    norms below ~9·10¹² (at dims=16, about 9·10⁶ unit-vector members
    pointing one way) always pass."""
    for cid, csum in cents.items():
        n2 = sum(c * c for c in csum)
        if (Q + len(csum)) ** 2 * n2 >= 1 << 126:
            raise ValueError(
                f"centroid {cid}: integer sum too large for exact int64 "
                f"scoring (|csum|² = {n2}); raise k so clusters hold "
                f"fewer members")


def _assign_numpy(q: DataFrame, cents: dict[int, list[int]]) -> DataFrame:
    """Arrow-batched scorer: per batch, ONE int64 matmul of the
    quantized vectors against the centroid matrix — exact integer dots
    (order-free), then the identical cast-to-double / divide-by-cnorm
    sequence the SQL twin uses, argmax with first-occurrence ties =
    lowest cid (centroid rows are cid-sorted). No shuffle: the
    k·dims mul-adds run as one C loop per batch, so cost grows with k
    only through the matmul. Exactness: :func:`_check_dot_bound`
    raises before any score could wrap."""
    import numpy as np
    import pandas as pd

    _check_dot_bound(cents)
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
    (applyInPandas). Bit-identical to the SQL twin's per-pair double
    fold: its products and running sums are all integers < 2^53
    (|q| ≤ 1e6 ⇒ products ≤ 1e12, dims·1e12 ≪ 9e15), so the float
    accumulation is EXACT and equals the integer matmul; norms and the
    divide share the same op sequence. The m×m matrix per cluster is
    the SemDeDup contract made explicit — k must bound per-cluster
    occupancy anyway (k ∝ N)."""
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
             id_col: str = "vec_id", vec: str = "embedding") -> DataFrame:
    """``(id_col, cluster, sim_r, kept)`` — ``kept = false`` for every
    row that has a same-cluster neighbor with pair-cosine ≥ ``tau``
    where the *neighbor* sits farther from the centroid (lower sim,
    ties by id): the paper's keep-the-outlier policy, reduced to pair
    edges. ``sim_r`` is the centroid cosine rounded to 9 (display
    only — decisions use the unrounded exact-int-derived value).
    Assignment is :func:`kmeans_assign`, the pair stage
    :func:`_prune_numpy`; the result equals :func:`semdedup_sql`
    row for row."""
    q = embeddings.select(
        F.col(id_col).alias("_id"), _quantize_col(vec, dims).alias("qv"))
    a = kmeans_assign(embeddings, k, iters, dims, id_col, vec).join(
        q.withColumnRenamed("_id", id_col), id_col)
    return _prune_numpy(a, tau, id_col).select(
        id_col, "cluster", F.round("sim", 9).alias("sim_r"), "kept")


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
