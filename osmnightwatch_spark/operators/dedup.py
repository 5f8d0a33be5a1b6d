"""Deduplication operators — exact, MinHash-LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

First-class training-data-pipeline operators over the ``documents``
(and ``images``) tables. Design constraints:

* everything is a composition of native DataFrame ops (explode /
  groupBy / join) — the only hashes used are ``md5`` and arithmetic,
  which are bit-identical across Spark and DuckDB so every operator
  has an exact SQL oracle;
* shingles are sampled on a fixed stride (position 1, 1+stride, …) so
  the shingle set of a document is small and deterministic — at
  10^12-document scale the shingle explode is the dominant shuffle and
  stride is the knob that bounds it;
* all pair outputs are canonicalized ``id_a < id_b`` and deduplicated.

Scale notes: MinHash-LSH is the standard near-dup pipeline shape
(shingle → per-band min → band-bucket join). The band-bucket join's
fan-out is bounded by bucket size; a hot bucket (boilerplate text) is
the skew case — mitigated by capping bucket size (``max_bucket``)
exactly like salting caps hot cells in the spatial joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import CacheScope

DEFAULT_SHINGLE = 8
DEFAULT_STRIDE = 16


def exact_dedup(df: DataFrame, key: str, id_col: str) -> DataFrame:
    """Exact duplicate groups by ``key``: (keeper_id, n_copies).

    Hash-groupBy; partial aggregation absorbs skew from hot values.
    """
    return (
        df.groupBy(key)
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keeper_id", "n_copies")
    )


def shingles(df: DataFrame, id_col: str, text: str = "text",
             size: int = DEFAULT_SHINGLE, stride: int = DEFAULT_STRIDE,
             distinct: bool = True) -> DataFrame:
    """(id, shingle) pairs: ``size``-char substrings at 1-based
    positions 1, 1+stride, … (native sequence+transform). Distinct by
    default (Jaccard needs set semantics); ``distinct=False`` skips
    the dedup exchange for consumers that are multiset-insensitive
    (MinHash: min over a multiset == min over its set)."""
    arr = F.expr(
        f"transform(sequence(1, greatest(length({text}) - {size - 1}, 1), {stride}),"
        f" p -> substring({text}, p, {size}))"
    )
    # Small-input parallelism rescue: a single-file documents table
    # scans as ONE task, so the whole shingle explode + every md5 of
    # the minhash signature pass would run single-threaded (measured:
    # the dominant cost of dedup_minhash at bench scale). Round-robin
    # the rows across the cores first when the scan is narrower than
    # the session's parallelism — a shuffle of the raw (tiny) rows.
    # At corpus scale the input arrives in many splits and this is a
    # no-op (no repartition node in the plan).
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < min(par, 16):
        df = df.repartition(min(par, 16))
    out = df.select(F.col(id_col), F.explode(arr).alias("shingle"))
    return out.distinct() if distinct else out


def shingles_sql(table: str, id_col: str, text: str = "text",
                 size: int = DEFAULT_SHINGLE, stride: int = DEFAULT_STRIDE) -> str:
    """DuckDB twin of :func:`shingles` (unnest + generate_series)."""
    return (
        f"SELECT DISTINCT {id_col}, substr({text}, CAST(p AS INT), {size}) AS shingle "
        f"FROM {table}, UNNEST(generate_series(1, greatest(length({text}) - {size - 1}, 1),"
        f" {stride})) AS t(p)"
    )


def minhash_bands(sh: DataFrame, id_col: str, bands: int = 8) -> DataFrame:
    """Per-document MinHash signature: for band b the minimum of
    ``md5(b || ':' || shingle)`` over the document's shingles.

    md5 as the hash family: lexicographic min over uniformly-random
    hex strings ≡ numeric min over a random permutation — the standard
    MinHash estimator, and exactly reproducible in SQL.

    Shape: ONE aggregation computes all ``bands`` minima as parallel
    agg columns (map-side partial min absorbs everything), then a
    row-count-neutral unpivot to (id, band, min_h) — vs the naive
    explode-by-band + groupBy(id, band), this moves ``bands``× fewer
    rows through the only exchange."""
    mins = [
        F.min(F.md5(F.concat(F.lit(f"{b}:"), F.col("shingle")))).alias(f"_m{b}")
        for b in range(bands)
    ]
    per_doc = sh.groupBy(id_col).agg(*mins)
    unpivot = F.explode(F.array(*[
        F.struct(F.lit(b).alias("band"), F.col(f"_m{b}").alias("min_h"))
        for b in range(bands)
    ])).alias("s")
    return per_doc.select(F.col(id_col), unpivot).select(id_col, "s.band", "s.min_h")


def minhash_lsh_pairs(df: DataFrame, id_col: str, text: str = "text",
                      bands: int = 8, size: int = DEFAULT_SHINGLE,
                      stride: int = DEFAULT_STRIDE,
                      max_bucket: int = 1000) -> DataFrame:
    """Candidate near-dup pairs: documents sharing ≥1 (band, min-hash)
    bucket. Returns (id_a, id_b, n_shared_bands), id_a < id_b.

    ``max_bucket`` drops degenerate buckets (boilerplate shingles
    shared by everything) — the skew guard. Bucket sizes come from a
    partial-agg ``groupBy`` (the map side absorbs the hot key) and the
    few over-cap buckets are removed with a *broadcast anti-join* — a
    window over the bucket key would shuffle every signature row to
    the hot bucket's single partition before the filter could drop it,
    making the guard itself the bottleneck at 10^12 rows.

    The signature table feeds three consumers (the hot-bucket stats
    and both sides of the pair join). Catalyst does not reuse the sig
    exchange across them (canonical plans diverge above it), so the
    lazy form recomputes sig — and its 8-md5-per-shingle pass, the
    dominant CPU of the whole query — once per consumer. So sig is
    persisted, the pair table eager-checkpointed and sig released on
    return or raise — the leak-free knn lifecycle (measured 1.37 →
    1.12 s at sf0.1 with AQE-over-cached-plans on; an earlier round
    measured the opposite before that config existed). At 10^12 docs
    signatures are the reusable artifact of a minhash pipeline and
    would be a persisted table between jobs anyway."""
    with CacheScope() as scope:
        sig = scope.persist(minhash_bands(
            shingles(df, id_col, text, size, stride, distinct=False), id_col, bands
        ))
        hot = (
            sig.groupBy("band", "min_h")
            .agg(F.count(F.lit(1)).alias("bucket_n"))
            .where(F.col("bucket_n") > max_bucket)
            .select("band", "min_h")
        )
        sized = sig.join(F.broadcast(hot), ["band", "min_h"], "left_anti")
        # pair expansion as a bucket equi-join: AQE converts both sides to
        # a broadcast hash join at bench scale and a co-partitioned shuffle
        # join at 10^12 (bucket sizes stay ≤ max_bucket either way). An
        # in-row collect_list + nested-transform expansion was measured
        # ~30% SLOWER here — the array lambdas evaluate interpreted.
        a = sized.select(F.col(id_col).alias("id_a"), "band", "min_h")
        b = sized.select(F.col(id_col).alias("id_b"), "band", "min_h")
        return (
            a.join(b, ["band", "min_h"])
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_shared_bands"))
            .localCheckpoint(eager=True)
        )


def jaccard_topk(df: DataFrame, id_col: str, text: str = "text", k: int = 20,
                 size: int = DEFAULT_SHINGLE, stride: int = DEFAULT_STRIDE,
                 max_df: int = 10_000) -> DataFrame:
    """Top-k most-similar pairs by sampled-shingle Jaccard:
    (id_a, id_b, shared, jaccard_pct) — jaccard as integer percent so
    the oracle compare never touches float formatting.

    ``max_df`` is the hot-shingle cap: a shingle shared by m documents
    fans out m² pairs, so boilerplate (license headers, templates)
    would melt the self-join at 10^12 docs. Shingles above the cap are
    dropped from the *pair join only* (denominator sizes keep the full
    sets), same partial-agg + broadcast anti-join shape as the minhash
    guard. Recall caveat: a pair whose every shared shingle is hot
    scores 0 — acceptable for a similarity *ranking* because hot
    shingles carry no discriminative signal by definition."""
    sh = shingles(df, id_col, text, size, stride)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df_n"))
        .where(F.col("df_n") > max_df)
        .select("shingle")
    )
    cold = sh.join(F.broadcast(hot), ["shingle"], "left_anti")
    a = cold.select(F.col(id_col).alias("id_a"), "shingle")
    b = cold.select(F.col(id_col).alias("id_b"), "shingle")
    shared = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    scored = (
        shared.join(na, "id_a").join(nb, "id_b")
        .withColumn(
            "jaccard_pct",
            # FLOOR (not cast) so truncation semantics match the SQL
            # oracle exactly (DuckDB CAST rounds, FLOOR doesn't)
            F.floor(
                F.lit(100) * F.col("shared")
                / (F.col("n_a") + F.col("n_b") - F.col("shared"))
            ).cast("long"),
        )
    )
    return (
        scored.orderBy(
            F.col("jaccard_pct").desc(), F.col("shared").desc(),
            F.col("id_a").asc(), F.col("id_b").asc(),
        )
        .limit(k)
        .select("id_a", "id_b", "shared", "jaccard_pct")
    )


def phash_near_dup_pairs(df: DataFrame, id_col: str = "image_id",
                         phash_col: str = "phash", max_hamming: int = 7,
                         bands: int = 8) -> DataFrame:
    """Image near-dup pairs by perceptual-hash Hamming distance.

    Classic band trick: split the 64-bit phash into ``bands`` equal
    slices; two hashes within ``max_hamming ≤ bands - 1`` bit flips
    must agree exactly on at least one band (pigeonhole), so the
    candidate join is an equi-join on (band, slice) — no O(n²) pass.
    The exact Hamming filter is native ``bit_count(a ^ b)``.

    Returns (id_a, id_b, hamming), id_a < id_b.
    """
    if max_hamming > bands - 1:
        raise ValueError(
            f"pigeonhole guarantee needs max_hamming <= bands - 1; got "
            f"max_hamming={max_hamming} with bands={bands} (recall would "
            f"silently drop pairs differing in every band)"
        )
    width = 64 // bands
    mask = (1 << width) - 1
    sliced = df.select(
        F.col(id_col).alias("_id"), F.col(phash_col).alias("_ph"),
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col(phash_col), b * width)
                .bitwiseAND(F.lit(mask)).alias("slice"),
            )
            for b in range(bands)
        ])).alias("s"),
    ).select("_id", "_ph", "s.band", "s.slice")
    a = sliced.select(F.col("_id").alias("id_a"), F.col("_ph").alias("ph_a"),
                      "band", "slice")
    b = sliced.select(F.col("_id").alias("id_b"), F.col("_ph").alias("ph_b"),
                      "band", "slice")
    hamming = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
    return (
        a.join(b, ["band", "slice"])
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming.cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def simhash16(df: DataFrame, id_col: str, text: str = "text",
              stride: int = 8) -> DataFrame:
    """16-bit SimHash per document: tokens sampled by shingling at
    ``stride``; bit j of a feature = parity of hex digit j of
    ``md5(feature)`` (odd hex digit → 1). The document bit j is the
    sign of Σ(±1). Returns (id, simhash16 int)."""
    feats = shingles(df, id_col, text, size=6, stride=stride)
    h = F.md5(F.col("shingle"))
    sums = [
        F.sum(
            F.when(F.substring(h, j + 1, 1).isin("1", "3", "5", "7", "9", "b", "d", "f"),
                   F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"s{j}")
        for j in range(16)
    ]
    agg = feats.groupBy(id_col).agg(*sums)
    sim = None
    for j in range(16):
        bit = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sim = bit if sim is None else sim + bit
    return agg.select(F.col(id_col), sim.cast("long").alias("simhash16"))


def simhash_dup_groups(df: DataFrame, id_col: str, text: str = "text") -> DataFrame:
    """SimHash collision groups (candidate near-dups): simhash16 values
    held by >1 document → (simhash16, n_docs, min_id)."""
    s = simhash16(df, id_col, text)
    return (
        s.groupBy("simhash16")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("min_id"))
        .where(F.col("n_docs") > 1)
    )


def winnow_fingerprints(df: DataFrame, id_col: str, text: str = "text",
                        k: int = 8, w: int = 16) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken's
    MOSS scheme): hash every k-gram, slide a w-gram window, keep each
    window's minimum hash — the selected set is a position-robust
    fingerprint (any sufficiently long shared substring yields a
    shared fingerprint). Returns distinct (id, fingerprint) rows.

    Spark shape: one explode to (doc, pos, hash), one per-doc ordered
    window min (each document is its own window partition — no hot
    key), distinct. md5 as the hash keeps the SQL twin exact.
    """
    n_grams = F.length(F.col(text)) - F.lit(k - 1)
    grams = df.select(
        F.col(id_col),
        n_grams.alias("_n"),
        F.explode(
            F.expr(f"sequence(1, greatest(length({text}) - {k - 1}, 1))")
        ).alias("p"),
        F.col(text).alias("_t"),
    ).select(
        id_col, "_n", "p",
        F.md5(F.expr(f"substring(_t, p, {k})")).alias("h"),
    )
    from pyspark.sql import Window as W

    win = W.partitionBy(id_col).orderBy("p").rowsBetween(0, w - 1)
    return (
        grams.withColumn("_wmin", F.min("h").over(win))
        .where(F.col("p") <= F.greatest(F.col("_n") - F.lit(w - 1), F.lit(1)))
        .select(F.col(id_col), F.col("_wmin").alias("fingerprint"))
        .distinct()
    )


def winnow_sql(table: str, id_col: str, text: str = "text",
               k: int = 8, w: int = 16) -> str:
    """DuckDB twin of :func:`winnow_fingerprints`."""
    return (
        f"SELECT DISTINCT {id_col}, fingerprint FROM ("
        f"SELECT {id_col}, p, n,"
        f" min(h) OVER (PARTITION BY {id_col} ORDER BY p"
        f" ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS fingerprint"
        f" FROM (SELECT {id_col},"
        f" length({text}) - {k - 1} AS n,"
        f" CAST(p AS BIGINT) AS p,"
        f" md5(substr({text}, CAST(p AS INT), {k})) AS h"
        f" FROM {table}, UNNEST(generate_series(1,"
        f" greatest(length({text}) - {k - 1}, 1))) AS t(p))"
        f") WHERE p <= greatest(n - {w - 1}, 1)"
    )


def dedup_clusters(pairs: DataFrame, all_ids: DataFrame | None = None,
                   id_col: str = "doc_id", max_iters: int = 20) -> DataFrame:
    """Connected components over the near-dup pair graph →
    (id, keeper_id): every document labeled with the minimum id of its
    duplicate cluster — the assignment a dedup pipeline actually needs
    (keep one representative per transitive cluster, not per pair).

    Input: (id_a, id_b) candidate pairs (e.g. :func:`minhash_lsh_pairs`
    output). ``all_ids`` optionally supplies the full document set so
    singletons appear as their own keeper.

    Algorithm: alternating **large-star / small-star** (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    each round rewires every node toward its neighborhood minimum
    (large-star moves strictly-larger neighbors, small-star collapses
    the rest), provably converging to per-component stars centered at
    the component minimum in O(log² n) rounds REGARDLESS of graph
    diameter. The earlier min-label + single pointer-jump engine
    advanced the frontier only a constant number of hops per round —
    O(diameter) rounds — which a supercritical DBSCAN core graph
    (giant component, diameter in the hundreds at 10⁵ points) turned
    from a theoretical nit into a RuntimeError. LSH band cliques
    (diameter 1-2) converge in 2 rounds under either engine.

    Spark shape per round: two groupBy-min aggregations + two joins
    back to the (explicitly re-symmetrized) edge list, one
    symmetric-difference count as the convergence probe. Edge state is
    eager-localCheckpointed each round so plans stay O(1)-deep, and
    superseded checkpoints are freed immediately; all round state is
    freed on return or raise. Raises
    RuntimeError if ``max_iters`` rounds pass without convergence — a
    silently partial labeling would under-deduplicate downstream.
    """
    # canonical undirected edges (lo, hi), self-loops dropped
    with CacheScope() as scope:
        e = scope.checkpoint(
            pairs.select(
                F.least("id_a", "id_b").alias("lo"),
                F.greatest("id_a", "id_b").alias("hi"))
            .where(F.col("lo") != F.col("hi"))
            .distinct()
        )
        # node set from the RAW pairs (a doc appearing only in a self-pair
        # still gets a label), checkpointed once for the final singleton fill
        nodes = scope.checkpoint(
            pairs.select(F.col("id_a").alias("node"))
            .unionByName(pairs.select(F.col("id_b").alias("node")))
            .distinct()
        )
        for _ in range(max_iters):
            # ---- large-star: for each node u (over symmetric adjacency),
            # m(u) = min(u, min neighbors); every neighbor v > u re-wires
            # to (m(u), v). Keeps every edge's larger endpoint, so no
            # component splits; strictly shrinks long chains.
            sym = e.select(F.col("lo").alias("u"), F.col("hi").alias("v")).unionByName(
                e.select(F.col("hi").alias("u"), F.col("lo").alias("v")))
            mins = sym.groupBy("u").agg(F.min("v").alias("_mn"))
            mins = mins.select("u", F.least("u", "_mn").alias("m"))
            e1 = (
                sym.join(mins, "u")
                .where(F.col("v") > F.col("u"))
                .select(F.col("m").alias("lo"), F.col("v").alias("hi"))
                .where(F.col("lo") != F.col("hi"))
                .distinct()
            )
            # ---- small-star: key each edge by its larger endpoint u;
            # m(u) = min of its smaller neighbors; connect u and all its
            # smaller neighbors to m(u).
            d = e1.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
            smins = d.groupBy("u").agg(F.min("v").alias("m"))
            e2 = scope.checkpoint(
                d.join(smins, "u")
                .select(F.col("m").alias("lo"), F.col("v").alias("hi"))
                .where(F.col("lo") != F.col("hi"))
                .unionByName(smins.select(F.col("m").alias("lo"),
                                          F.col("u").alias("hi")))
                .distinct()
            )
            # convergence: edge set unchanged (symmetric difference empty)
            diff = (
                e.withColumn("_s", F.lit(1))
                .unionByName(e2.withColumn("_s", F.lit(2)))
                .groupBy("lo", "hi").agg(F.count_distinct("_s").alias("_c"))
                .where(F.col("_c") < 2)
                .count()
            )
            scope.release(e)
            e = e2
            if diff == 0:
                break
        else:
            raise RuntimeError(
                f"dedup_clusters did not converge in {max_iters} rounds — "
                "raise max_iters; a partial labeling would silently "
                "under-deduplicate"
            )
        # converged state is a star per component: (component_min, member)
        labels = e.select(F.col("hi").alias("node"), F.col("lo").alias("label"))
        centers_and_singletons = nodes.join(
            e.select(F.col("hi").alias("node")), "node", "left_anti"
        ).select("node", F.col("node").alias("label"))
        labels = labels.unionByName(centers_and_singletons)
        if all_ids is not None:
            extra = (
                all_ids.select(F.col(id_col).alias("node"))
                .join(nodes, "node", "left_anti")
                .select("node", F.col("node").alias("label"))
            )
            labels = labels.unionByName(extra)
        # self-contained result: checkpoint the (node-sized) label table so
        # the e/nodes round state can be freed now instead of leaking until
        # the caller drops the result
        return labels.select(
            F.col("node").alias(id_col), F.col("label").alias("keeper_id")
        ).localCheckpoint(eager=True)


def dedup_clusters_sql(pairs_sql: str, id_col: str = "doc_id",
                       all_ids_sql: str | None = None) -> str:
    """DuckDB twin: recursive-CTE min-label propagation over the same
    pair set (the engine-independent definition of connected
    components: a node's keeper is the min id reachable from it)."""
    singles = (
        f"UNION SELECT {id_col}, {id_col} FROM ({all_ids_sql})"
        if all_ids_sql else ""
    )
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
sym(src, dst) AS (
  SELECT id_a, id_b FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach(node, label) AS (
  SELECT src, src FROM sym {singles}
  UNION
  SELECT s.src, r.label FROM sym s JOIN reach r ON r.node = s.dst)
SELECT node AS {id_col}, CAST(min(label) AS BIGINT) AS keeper_id
FROM reach GROUP BY node
""".strip()


def decontaminate(train: DataFrame, benchmark: DataFrame,
                  id_col: str = "doc_id", text: str = "text",
                  k: int = 8, w: int = 16,
                  min_shared: int = 2,
                  min_shared_frac: float = 0.0) -> DataFrame:
    """Benchmark decontamination: drop training documents whose
    winnowing fingerprints overlap the benchmark set's — the eval-
    leakage guard of a pretraining pipeline (position-robust: embedded
    or paraphrased-in-place benchmark passages still match).

    Two composable rules (a doc is dropped when it trips BOTH):

    * ``min_shared`` — absolute count of shared fingerprints (the
      GPT-3-style "any long n-gram collision" rule; right for real
      corpora where an innocent collision is rare);
    * ``min_shared_frac`` — shared / total fingerprints of the doc
      (near-clone detector; right when the domain's base collision
      rate is high and only mostly-benchmark docs should drop).

    Returns the SURVIVING train rows (original columns). Scale shape:
    both fingerprint sets are winnow explodes; the contamination probe
    is an equi-join on fingerprint. The benchmark side is eval-suite
    sized (thousands of docs — dim-like, broadcastable); hot
    fingerprints fan out train×benchmark per fingerprint, bounded by
    the winnowing window's 1/w selection density. The final drop is a
    left_anti join on id (no row of train is ever widened).
    """
    tf = winnow_fingerprints(train, id_col, text, k, w)
    bf = (winnow_fingerprints(benchmark, id_col, text, k, w)
          .select("fingerprint").distinct())
    totals = tf.groupBy(id_col).agg(F.count(F.lit(1)).alias("_total"))
    contaminated = (
        tf.join(F.broadcast(bf), "fingerprint")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .join(totals, id_col)
        .where(
            (F.col("n_shared") >= min_shared)
            & (F.col("n_shared") >= F.lit(min_shared_frac) * F.col("_total"))
        )
        .select(id_col)
    )
    return train.join(contaminated, id_col, "left_anti")


def decontaminate_sql(train_table: str, benchmark_sql: str,
                      id_col: str = "doc_id", text: str = "text",
                      k: int = 8, w: int = 16,
                      min_shared: int = 2,
                      min_shared_frac: float = 0.0,
                      select: str = "*") -> str:
    """DuckDB twin of :func:`decontaminate` (same winnow fingerprints
    via :func:`winnow_sql`, same two-rule threshold)."""
    tfp = winnow_sql(train_table, id_col, text, k, w)
    bfp = winnow_sql(f"({benchmark_sql})", id_col, text, k, w)
    return f"""
WITH tf AS ({tfp}), bf AS (SELECT DISTINCT fingerprint FROM ({bfp})),
tot AS (SELECT {id_col}, COUNT(*) AS total FROM tf GROUP BY 1),
bad AS (
  SELECT s.{id_col} FROM (
    SELECT {id_col}, COUNT(*) AS n_shared FROM tf JOIN bf USING (fingerprint)
    GROUP BY {id_col}) s
  JOIN tot USING ({id_col})
  WHERE s.n_shared >= {min_shared}
    AND s.n_shared >= {min_shared_frac!r} * tot.total)
SELECT {select} FROM {train_table}
WHERE {id_col} NOT IN (SELECT {id_col} FROM bad)
""".strip()


def _dup_span_frames(df: DataFrame, id_col: str, text: str,
                     n: int) -> tuple[DataFrame, DataFrame]:
    """Shared plan prefix of the ExactSubstr family: returns
    ``(t, sp)`` where ``t`` is (id, _t tokens) and ``sp`` is one row
    per maximal duplicated span (id, _g, _s, _e) — start/end token
    positions, 1-based inclusive. See :func:`substring_dup_spans` for
    the plan-shape/scale discussion.

    Gram keys are ``xxhash64`` over the token SLICE (an 8-byte long,
    no gram-string allocation) — at 100M grams this roughly quarters
    the count-aggregation's shuffle bytes vs a 32-char md5 hex key
    (measured: 2M docs / 108M tokens, spans 482 s md5 → 142 s
    xxhash64, 3.4×; see BENCH.md).
    The hash choice is NOT part of the operator's contract: the output
    depends only on which grams occur twice, so any collision-free
    key matches the md5-keyed DuckDB twin exactly (64-bit birthday
    collision odds at 10^8 grams: ~3×10^-4 for one false dup-mark
    anywhere in the corpus; the twin compare runs at 2.5×10^4 grams
    where it is ~2×10^-11)."""
    t = df.select(F.col(id_col), F.split(F.col(text), " ").alias("_t"))
    g = (
        t.select(
            F.col(id_col),
            F.posexplode(
                F.expr(
                    f"CASE WHEN size(_t) >= {n} THEN "
                    f"transform(sequence(1, size(_t) - {n - 1}), "
                    f"i -> xxhash64(slice(_t, i, {n}))) "
                    f"ELSE CAST(array() AS ARRAY<BIGINT>) END"
                )
            ).alias("_i", "gram"),
        )
        .select(F.col(id_col), (F.col("_i") + 1).alias("pos"), "gram")
    )
    dup = (
        g.groupBy("gram").agg(F.count(F.lit(1)).alias("_c"))
        .where(F.col("_c") > 1).select("gram")
    )
    marked = g.join(dup, "gram", "left_semi").select(id_col, "pos")

    from pyspark.sql import Window
    w = Window.partitionBy(id_col).orderBy("pos")
    fl = marked.withColumn(
        "_f", F.when(F.col("pos") - F.lag("pos").over(w) > n, 1).otherwise(0)
    )
    gr = fl.withColumn("_g", F.sum("_f").over(w))
    sp = gr.groupBy(id_col, "_g").agg(
        F.min("pos").alias("_s"), (F.max("pos") + F.lit(n - 1)).alias("_e")
    )
    return t, sp


def _dup_span_ctes(table: str, id_col: str, text: str, n: int) -> str:
    """Shared WITH-clause prefix of the DuckDB twins — CTEs ``_t``
    (tokens) and ``sp`` (maximal spans). The twin keys grams by md5
    (the engine uses xxhash64) — legitimate because the gram key is
    internal: span output depends only on which grams repeat, which
    any collision-free key reproduces identically."""
    return f"""
_t AS (SELECT {id_col}, string_split({text}, ' ') AS t FROM {table}),
g AS (
  SELECT {id_col}, CAST(i AS INTEGER) AS pos,
         md5(array_to_string(t[CAST(i AS INTEGER):CAST(i AS INTEGER) + {n - 1}], ' ')) AS gram
  FROM _t, unnest(range(1, len(t) - {n} + 2)) AS u(i)
  WHERE len(t) >= {n}),
dup AS (SELECT gram FROM g GROUP BY 1 HAVING COUNT(*) > 1),
m AS (SELECT {id_col}, pos FROM g WHERE gram IN (SELECT gram FROM dup)),
fl AS (SELECT {id_col}, pos,
       CASE WHEN pos - lag(pos) OVER (PARTITION BY {id_col} ORDER BY pos) > {n}
            THEN 1 ELSE 0 END AS f FROM m),
gr AS (SELECT {id_col}, pos,
       SUM(f) OVER (PARTITION BY {id_col} ORDER BY pos) AS grp FROM fl),
sp AS (SELECT {id_col}, grp, MIN(pos) AS s, MAX(pos) + {n - 1} AS e
       FROM gr GROUP BY 1, 2)""".strip()


def substring_dup_spans(df: DataFrame, id_col: str = "doc_id",
                        text: str = "text", n: int = 8) -> DataFrame:
    """Exact duplicated-substring spans — the ExactSubstr variant of
    corpus dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better"), recast as a distributed plan instead of
    a single-machine suffix array.

    Definition: a token ``n``-gram that occurs >= 2 times corpus-wide
    (across documents or repeated within one) marks every position it
    starts at; marked positions whose ``n``-token windows touch or
    overlap merge into maximal duplicated spans. Output is one row per
    document that carries at least one span: ``(id, n_spans,
    dup_tokens, total_tokens, dup_pct)`` — the per-doc "how much of
    this text exists elsewhere" signal a cut/keep policy consumes.

    Plan shape (all native, no Python): tokenize per row, xxhash64
    each ``n``-gram slice (8-byte key — the raw text never shuffles),
    ONE count aggregation over grams (partial agg absorbs
    boilerplate-hot grams map-side), ONE semi-join marking positions
    (each position
    matches at most once, so output is bounded by corpus token count
    regardless of gram frequency), then a per-document window merges
    starts into islands (start gap <= n ⇒ same span — this is interval
    union, so overlapping windows are never double-counted). At 10^12
    docs the gram explode is the same order as any tokenize pass and
    the two shuffles move only (md5, pos) pairs.

    Reference analog: OsmNightWatch keeps issue lists exactly-deduped
    by content identity (IssuesData compare, Program.cs:129-151); this
    is that identity test at token-span granularity over a corpus.
    """
    t, sp = _dup_span_frames(df, id_col, text, n)
    per_doc = sp.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.col("_e") - F.col("_s") + 1).cast("long").alias("dup_tokens"),
    )
    tot = t.select(F.col(id_col), F.size("_t").cast("long").alias("total_tokens"))
    return per_doc.join(tot, id_col).select(
        id_col, "n_spans", "dup_tokens", "total_tokens",
        F.floor(F.lit(100) * F.col("dup_tokens") / F.col("total_tokens"))
        .cast("long").alias("dup_pct"),
    )


def substring_dup_spans_sql(table: str, id_col: str = "doc_id",
                            text: str = "text", n: int = 8) -> str:
    """DuckDB twin of :func:`substring_dup_spans` — identical
    tokenization and island merge (start gap <= n); gram keys are md5
    here vs xxhash64 in the engine, which cannot change the output
    (see :func:`_dup_span_ctes`), so the compare is exact."""
    return f"""
WITH {_dup_span_ctes(table, id_col, text, n)},
pd AS (SELECT {id_col}, CAST(COUNT(*) AS BIGINT) AS n_spans,
              CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens FROM sp GROUP BY 1),
tot AS (SELECT {id_col}, CAST(len(string_split({text}, ' ')) AS BIGINT) AS total_tokens
        FROM {table})
SELECT pd.{id_col}, n_spans, dup_tokens, total_tokens,
       CAST(FLOOR(100 * dup_tokens / total_tokens) AS BIGINT) AS dup_pct
FROM pd JOIN tot USING ({id_col})
""".strip()


def substring_dedup_cut(df: DataFrame, id_col: str = "doc_id",
                        text: str = "text", n: int = 8) -> DataFrame:
    """Apply the ExactSubstr policy: return the corpus with every
    duplicated span CUT out of the text — the step Lee et al. 2022
    actually apply to training data (their suffix-array pipeline's
    output), downstream of the :func:`substring_dup_spans` signal.

    Every document comes back: ``(id, clean_text, kept_tokens,
    dropped_tokens)``. Docs without spans pass through verbatim; docs
    with spans are rebuilt from the tokens whose position falls in no
    span (a fully-duplicated doc becomes the empty string — exactly
    the Lee et al. cut, which keeps zero copies of text seen twice;
    pair with :func:`minhash_lsh_pairs` clustering when one canonical
    copy should survive instead).

    Plan shape: the shared span prefix (see
    :func:`substring_dup_spans`), then spans roll up into a per-doc
    array (span count per doc is bounded by total_tokens/n — in
    practice a handful) and ONE broadcast-eligible left join brings
    them to the tokens; the rebuild is a native array
    ``filter``/``exists`` lambda pair — no Python, no extra shuffle
    beyond the span prefix's two.
    """
    t, sp = _dup_span_frames(df, id_col, text, n)
    spans = sp.groupBy(id_col).agg(
        F.collect_list(
            F.struct(F.col("_s").alias("lo"), F.col("_e").alias("hi"))
        ).alias("_spans")
    )
    joined = t.join(spans, id_col, "left")
    kept = F.expr(
        "CASE WHEN _spans IS NULL THEN _t ELSE "
        "filter(_t, (x, i) -> NOT exists(_spans, "
        "sp -> i + 1 >= sp.lo AND i + 1 <= sp.hi)) END"
    )
    return joined.select(
        F.col(id_col),
        F.concat_ws(" ", kept).alias("clean_text"),
        F.size(kept).cast("long").alias("kept_tokens"),
        (F.size("_t") - F.size(kept)).cast("long").alias("dropped_tokens"),
    )


def substring_dedup_cut_sql(table: str, id_col: str = "doc_id",
                            text: str = "text", n: int = 8) -> str:
    """DuckDB twin of :func:`substring_dedup_cut` — same span CTEs,
    same position-in-no-span rebuild (DuckDB list lambdas index from
    1, matching the 1-based span positions directly)."""
    return f"""
WITH {_dup_span_ctes(table, id_col, text, n)},
spl AS (SELECT {id_col}, list({{'lo': s, 'hi': e}}) AS spans
        FROM sp GROUP BY 1),
cut AS (
  SELECT d.{id_col},
         CASE WHEN spl.spans IS NULL THEN string_split(d.{text}, ' ')
              ELSE list_filter(string_split(d.{text}, ' '), (x, i) ->
                   len(list_filter(spl.spans,
                       sp -> i >= sp.lo AND i <= sp.hi)) = 0) END AS keep,
         len(string_split(d.{text}, ' ')) AS tot
  FROM {table} d LEFT JOIN spl USING ({id_col}))
SELECT {id_col}, COALESCE(array_to_string(keep, ' '), '') AS clean_text,
       CAST(len(keep) AS BIGINT) AS kept_tokens,
       CAST(tot - len(keep) AS BIGINT) AS dropped_tokens
FROM cut
""".strip()
