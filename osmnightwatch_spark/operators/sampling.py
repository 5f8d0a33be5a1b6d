"""Training-data assembly operators: deterministic stratified
sampling (domain mixing) and concat-and-chunk sequence packing.

Both are everyday pretraining-pipeline stages downstream of dedup and
quality filtering:

* :func:`stratified_sample` applies per-group keep fractions (the
  "data mixing weights" of a corpus recipe) with a DETERMINISTIC
  hash-threshold rule — no rand(): resume/retry-safe, reproducible
  across engines, and an exact SQL twin exists because md5 hex is
  bit-identical everywhere (same rationale as the MinHash family in
  ``operators/dedup``).
* :func:`pack_sequences` assigns every document an (output bin,
  offset) under the concatenate-then-chunk packing used to build
  fixed-length training windows: documents in a deterministic order
  are laid end-to-end per shard and cut every ``max_tokens`` tokens
  (documents may straddle a cut — that is how pretraining packing
  actually works, and unlike first-fit bin packing it is expressible
  as a pure window cumsum, no sequential driver logic).

Scale notes: sampling is a stateless filter (no shuffle at all —
pushes down next to the scan). Packing shuffles once into per-shard
windows; shards are hash-derived so the window partitions are
balanced and each holds ~shard_docs rows — pick ``n_shards`` ∝ corpus
size to bound per-partition window state at 10^12 docs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

HASH_WIDTH = 4  # hex chars of md5 used as the keep threshold (16^4 buckets)


def _keep_threshold(fraction: float) -> str:
    """fraction ∈ [0,1] → lowercase hex threshold compared against the
    first HASH_WIDTH md5 chars; same-width lexicographic compare ==
    numeric compare. fraction 1.0 returns 'g', which sorts after every
    hex string (keep-all) without widening the comparison."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    v = int(round(fraction * 16 ** HASH_WIDTH))
    if v >= 16 ** HASH_WIDTH:
        return "g"
    return format(v, f"0{HASH_WIDTH}x")


def stratified_sample(df: DataFrame, group_col: str, fractions: dict[str, float],
                      id_col: str, default: float = 0.0) -> DataFrame:
    """Keep each row iff the md5 of its id falls under its group's
    threshold: ``substr(md5(id), 1, 4) < hex(frac · 16⁴)``.

    Per-group resolution within 1/65536 ≈ 0.0015%; groups absent from
    ``fractions`` use ``default`` (0 = drop). Deterministic in the id
    alone — re-running, resuming, or changing partitioning never
    changes the sample, and adjusting one group's weight leaves every
    other group's selection untouched (the property that makes mixing
    weights tunable without invalidating downstream caches).
    """
    h = F.substring(F.md5(F.col(id_col).cast("string")), 1, HASH_WIDTH)
    expr = None
    for grp, frac in sorted(fractions.items()):
        cond = (F.col(group_col) == grp) & (h < F.lit(_keep_threshold(frac)))
        expr = cond if expr is None else expr | cond
    other = (~F.col(group_col).isin(*fractions.keys())
             & (h < F.lit(_keep_threshold(default))))
    expr = other if expr is None else expr | other
    return df.where(expr)


def stratified_sample_sql(table: str, group_col: str,
                          fractions: dict[str, float], id_col: str,
                          default: float = 0.0,
                          select: str = "*") -> str:
    """DuckDB twin of :func:`stratified_sample` (same md5 thresholds).

    Group names are rendered as SQL string literals with single quotes
    doubled — a group value containing ``'`` must not break (or inject
    into) the oracle query.
    """
    def q(s: str) -> str:
        return "'" + str(s).replace("'", "''") + "'"

    h = f"substr(md5(CAST({id_col} AS VARCHAR)), 1, {HASH_WIDTH})"
    arms = [
        f"({group_col} = {q(grp)} AND {h} < '{_keep_threshold(frac)}')"
        for grp, frac in sorted(fractions.items())
    ]
    groups = ", ".join(q(g) for g in fractions)
    arms.append(
        f"({group_col} NOT IN ({groups}) AND {h} < '{_keep_threshold(default)}')"
    )
    return f"SELECT {select} FROM {table} WHERE " + " OR ".join(arms)


def pack_sequences(df: DataFrame, id_col: str, token_col: str,
                   max_tokens: int, n_shards: int = 64) -> DataFrame:
    """Concat-and-chunk packing plan: returns (id, shard, bin_id,
    offset, n_tokens) — document ``id`` begins at ``offset`` tokens
    into window ``bin_id`` of its shard.

    Shard = md5-hash of the id mod ``n_shards`` (deterministic, order-
    free); within a shard, documents concatenate in (hash, id) order —
    the hash prefix makes the order a deterministic shuffle, so
    adjacent documents are unrelated (packing's usual decorrelation
    requirement) without any rand(). One shuffle (into the per-shard
    window); window state per partition is the shard's running sum —
    O(1) memory per row.
    """
    h = F.md5(F.col(id_col).cast("string"))
    shard = (F.conv(F.substring(h, 1, 6), 16, 10).cast("long")
             % n_shards).cast("int")
    w = (Window.partitionBy("shard").orderBy("_h", id_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    out = (
        df.select(F.col(id_col), F.col(token_col).alias("n_tokens"),
                  h.alias("_h"), shard.alias("shard"))
        .withColumn("_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .select(
            id_col, "shard",
            (F.col("_before") / max_tokens).cast("long").alias("bin_id"),
            (F.col("_before") % max_tokens).cast("long").alias("offset"),
            "n_tokens",
        )
    )
    return out


def pack_sequences_sql(table: str, id_col: str, token_expr: str,
                       max_tokens: int, n_shards: int = 64) -> str:
    """DuckDB twin of :func:`pack_sequences` (same hash shard/order)."""
    h = f"md5(CAST({id_col} AS VARCHAR))"
    shard = (f"CAST(CAST('0x' || substr({h}, 1, 6) AS BIGINT)"
             f" % {n_shards} AS INTEGER)")
    return f"""
SELECT {id_col}, shard,
  CAST(FLOOR(bef / {max_tokens}) AS BIGINT) AS bin_id,
  CAST(bef % {max_tokens} AS BIGINT) AS offset,
  n_tokens
FROM (
  SELECT {id_col}, {shard} AS shard, {token_expr} AS n_tokens, {h} AS h,
    COALESCE(SUM({token_expr}) OVER (
      PARTITION BY {shard} ORDER BY {h}, {id_col}
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
  FROM {table})
""".strip()


def epoch_shard(df: DataFrame, epoch: int, n_shards: int = 64,
                id_col: str = "doc_id") -> DataFrame:
    """Deterministic per-epoch global shuffle + sharding: assign every
    document a (shard, pos) for training epoch ``epoch`` — the
    dataloader-facing step after dedup/filter/mixing that turns a
    corpus into N reproducible, balanced shards whose within-shard
    order is a pseudo-random permutation that CHANGES each epoch.

    The permutation key is ``md5(epoch || ':' || id)`` — salting the
    hash with the epoch gives every epoch an independent order and
    shard assignment (cross-epoch decorrelation) while staying a pure
    function of (epoch, id): re-running, resuming, or repartitioning
    reproduces byte-identical shards, and any single shard can be
    rebuilt alone (the property that makes a 10^12-doc shuffle
    restartable — contrast rand()-based shuffles, which can neither
    resume nor re-derive a lost shard).

    Scale shape: ONE hash-shuffle into per-shard windows; rank state
    is O(1) per row. Shards are md5-balanced (multinomial, so shard
    sizes concentrate at n/N ± √(n/N)); pick ``n_shards`` ∝ corpus
    size to bound per-shard rows. This is the plan shape a 100 TB
    epoch shuffle wants: no global sort, no driver state, and the
    output is range-readable per shard.

    Reference analog: OsmNightWatch re-derives per-tile work queues
    deterministically from ids each pass (Program.cs:75-117 loop)
    rather than carrying mutable queue state — same resumability
    argument applied to a training-epoch permutation.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    h = F.md5(F.concat_ws(":", F.lit(int(epoch)).cast("string"),
                          F.col(id_col).cast("string")))
    shard = (F.conv(F.substring(h, 1, 6), 16, 10).cast("long")
             % n_shards).cast("int")
    w = Window.partitionBy("shard").orderBy("_h", id_col)
    return (
        df.select(F.col(id_col), h.alias("_h"), shard.alias("shard"))
        .select(
            id_col,
            F.lit(int(epoch)).cast("int").alias("epoch"),
            "shard",
            F.row_number().over(w).cast("long").alias("pos"),
        )
    )


def epoch_shard_sql(table: str, epoch: int, n_shards: int = 64,
                    id_col: str = "doc_id") -> str:
    """DuckDB twin of :func:`epoch_shard` (same epoch-salted md5 key,
    same shard mod, same (hash, id) rank order)."""
    h = f"md5({int(epoch)} || ':' || CAST({id_col} AS VARCHAR))"
    shard = (f"CAST(CAST('0x' || substr({h}, 1, 6) AS BIGINT)"
             f" % {n_shards} AS INTEGER)")
    return f"""
SELECT {id_col}, CAST({int(epoch)} AS INTEGER) AS epoch, {shard} AS shard,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY {shard} ORDER BY {h}, {id_col}) AS BIGINT) AS pos
FROM {table}
""".strip()


def source_quality_filter(df: DataFrame, min_mean_chars: float = 300.0,
                          group: str = "source",
                          id_col: str = "doc_id") -> DataFrame:
    """Source-level (domain-level) quality filtering: keep documents
    whose SOURCE passes an aggregate quality bar — the FineWeb /
    Common-Crawl-style "judge the domain, not just the page" stage of
    a pretraining pipeline (spam domains fail in aggregate even when
    individual pages look fine).

    The bar here is mean document length per source computed as
    exact-integer SUM/COUNT (bit-identical across engines — no
    float-accumulation order dependence), kept when
    ``mean >= min_mean_chars``. Returns kept docs with the source
    stats attached: (id, group, src_docs, src_mean_chars).

    Scale shape: one groupBy over the group key (partial agg —
    per-source counters combine map-side), then a join back. The
    stats side is |domains|-sized; web corpora have ~10^8 domains vs
    10^12 docs, so it is broadcast here (dim-like at test scale,
    and 10^8 × ~32B still fits a 4GB broadcast at the real scale);
    drop the hint to let AQE choose if the group key is finer.
    """
    stats = df.groupBy(group).agg(
        F.count(F.lit(1)).cast("long").alias("src_docs"),
        (F.sum("n_chars") / F.count(F.lit(1))).alias("_mean"),
    )
    kept = stats.where(F.col("_mean") >= min_mean_chars)
    return df.join(F.broadcast(kept), group).select(
        F.col(id_col), F.col(group), F.col("src_docs"),
        F.floor(F.col("_mean")).cast("long").alias("src_mean_chars"),
    )


def source_quality_filter_sql(table: str, min_mean_chars: float = 300.0,
                              group: str = "source",
                              id_col: str = "doc_id") -> str:
    """DuckDB twin of :func:`source_quality_filter` (same exact-integer
    SUM/COUNT mean, same threshold)."""
    return f"""
WITH s AS (
  SELECT {group}, CAST(COUNT(*) AS BIGINT) AS src_docs,
         CAST(SUM(n_chars) AS BIGINT) * 1.0 / COUNT(*) AS m
  FROM {table} GROUP BY 1)
SELECT d.{id_col}, d.{group}, s.src_docs,
       CAST(FLOOR(s.m) AS BIGINT) AS src_mean_chars
FROM {table} d JOIN s USING ({group})
WHERE s.m >= {min_mean_chars!r}
""".strip()


def weighted_sample(df: DataFrame, n: int, weight_col: str,
                    id_col: str = "doc_id") -> DataFrame:
    """Weighted sampling WITHOUT replacement of ``n`` rows (A-ES,
    Efraimidis & Spirakis 2006): each row gets the key
    ``ln(u) / w`` with a deterministic hash-uniform
    ``u = (md5_24(id) + 0.5) / 16⁶ ∈ (0,1)``; the top ``n`` keys
    (descending, id tiebreak) are exactly a weight-proportional
    sample without replacement. Rows with ``w ≤ 0`` are excluded
    (zero weight = never sampled). Output = input columns + ``skey``.

    Same determinism contract as :func:`stratified_sample`: a pure
    function of the id — rerun/resume/repartition-stable, and single
    rows can be audited ("why was this doc picked?") by recomputing
    their key. ``ln(u)/w`` is the numerically-stable form of the
    paper's ``u^(1/w)`` (monotone-equivalent since ln u < 0).

    Scale shape: NO shuffle — ``orderBy().limit(n)`` compiles to
    TakeOrderedAndProject (per-partition top-n, then a driver merge of
    n·partitions rows), the right plan for top-k at any corpus size.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 6), 16, 10)
        .cast("double") + 0.5
    ) / float(16 ** 6)
    key = F.log(u) / F.col(weight_col).cast("double")
    return (
        df.where(F.col(weight_col) > 0)
        .withColumn("skey", key)
        .orderBy(F.col("skey").desc(), F.col(id_col))
        .limit(n)
    )


def weighted_sample_sql(table: str, n: int, weight_col: str,
                        id_col: str = "doc_id", select: str = "*") -> str:
    """DuckDB twin of :func:`weighted_sample` (same hash-uniform, same
    key expression, same tiebreak)."""
    u = (f"(CAST('0x' || substr(md5(CAST({id_col} AS VARCHAR)), 1, 6) "
         f"AS BIGINT) + 0.5) / {float(16 ** 6)!r}")
    key = f"LN({u}) / CAST({weight_col} AS DOUBLE)"
    return (
        f"SELECT {select}, {key} AS skey FROM {table} "
        f"WHERE {weight_col} > 0 "
        f"ORDER BY skey DESC, {id_col} LIMIT {int(n)}"
    )


def geo_balanced_sample(df: DataFrame, res: int, per_cell: int,
                        id_col: str = "image_id",
                        lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Geographic de-biasing sample: keep at most ``per_cell`` rows per
    grid cell at ``res``, chosen by deterministic md5 rank — the
    training-corpus counter to city-density skew (a planet image
    table is 90% megacities; a geo-balanced epoch caps every cell so
    rural cells aren't drowned). Output = (id, cell, cell_rank).

    Determinism contract like :func:`stratified_sample`: membership is
    a pure function of (id, cell occupancy) — rerun/resume/
    repartition-stable, auditable per row. Scale shape: ONE hash
    shuffle on the cell + a bounded per-cell top-k window (rank stops
    scanning at per_cell only logically — the window is a full sort
    per cell, but cells are the SKEW UNIT the cap itself bounds
    downstream; a megacity cell sorts its own rows in one task, which
    is exactly the work the sample exists to discard). For hot-cell
    sorts beyond task memory, pre-thin with a salted per-partition
    top-k (two-phase top-k) — composes without changing semantics.
    """
    from pyspark.sql import Window

    from ..functions import cells as C

    if per_cell < 1:
        raise ValueError(f"per_cell must be >= 1, got {per_cell}")
    h = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy("_cell").orderBy("_h", id_col)
    return (
        C.attach_cell(df, res, lon=lon, lat=lat, out="_cell")
        .select(F.col(id_col), "_cell", h.alias("_h"))
        .withColumn("cell_rank", F.row_number().over(w))
        .where(F.col("cell_rank") <= per_cell)
        .select(id_col, F.col("_cell").alias("cell"),
                F.col("cell_rank").cast("long").alias("cell_rank"))
    )


def geo_balanced_sample_sql(points_sql: str, res: int, per_cell: int,
                            id_col: str = "image_id",
                            lon: str = "lon", lat: str = "lat") -> str:
    """DuckDB twin of :func:`geo_balanced_sample` (same cell encode,
    same md5 rank, same cap)."""
    from ..functions import cells as C

    cell = C.cell_sql(lon, lat, res)
    h = f"md5(CAST({id_col} AS VARCHAR))"
    return f"""
WITH c AS (SELECT {id_col}, {cell} AS cell, {h} AS _h FROM ({points_sql})),
r AS (SELECT {id_col}, cell,
             CAST(ROW_NUMBER() OVER (PARTITION BY cell ORDER BY _h, {id_col})
                  AS BIGINT) AS cell_rank
      FROM c)
SELECT {id_col}, cell, cell_rank FROM r WHERE cell_rank <= {int(per_cell)}
""".strip()
