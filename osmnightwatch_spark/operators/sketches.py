"""Deterministic HyperLogLog distinct-count sketch.

Corpus profiling at 100 TB wants one-pass distinct estimates
(vocabulary size, unique URLs/users per shard) whose partial states
MERGE — per-partition, per-file, per-day sketches combine by register
max, so the operator composes with the catalog's incremental commits
(sketch the new files, max-merge with the stored sketch) instead of
re-scanning history. Spark's builtin ``approx_count_distinct`` is an
opaque HLL++ binary — its innards can't be reproduced by another
engine, so it can never be oracle-checked. This one is built from
first principles on the repo's determinism discipline:

* hash = first 15 hex chars of ``md5(value)`` → a 60-bit integer —
  60 (not 64) so the value stays positive and overflow-free in a
  signed BIGINT on BOTH engines (no two's-complement reinterpret
  games), bit-identical everywhere (the MinHash-family rationale);
* register index = top ``p`` bits; rank = leading-zero count of the
  low ``60-p`` bits + 1 (Flajolet et al. 2007 ρ), measured EXACTLY on
  the binary-string rendering (no float log2 near 2^52 precision
  cliffs);
* sketch = ``groupBy(register).max(rank)`` — ONE map-side-combining
  aggregation over ≤2^p groups, associative and order-free, so the
  sketch (and therefore the estimate) is bit-reproducible across
  partitionings, engines, and merge orders;
* estimate = the classic bias-corrected harmonic mean with the
  small-range linear-counting correction, evaluated from the exact
  integer registers in fixed register order.

The estimate is deterministic, not exact — accuracy is the standard
±1.04/√(2^p). The ORACLE comparison is exact anyway, because both
engines derive identical registers.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

W = 60  # hash width in bits (15 hex chars: positive in BIGINT everywhere)


def hll_registers(df: DataFrame, col: str, p: int = 12) -> DataFrame:
    """``(register, rank)`` — the ≤2^p-row sketch of distinct values
    of ``col``; registers no hash landed in are absent (both engines:
    GROUP BY emits only non-empty groups; the estimator treats absent
    as rank 0)."""
    if not 4 <= p <= 18:
        raise ValueError(f"p must be in 4..18, got {p}")
    h = F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 15), 16, 10) \
        .cast("long")
    reg = F.shiftrightunsigned(h, W - p)
    suffix = h.bitwiseAND(F.lit((1 << (W - p)) - 1))
    # exact leading-zero count: render the (W-p)-bit tail as a fixed-
    # width binary string and measure its '0' prefix (string ops are
    # exact on both engines; float log2 is not, near 2^52)
    tail = F.substring(F.lpad(F.bin(suffix), W, "0"), p + 1, W - p)
    zeros = F.length(F.regexp_extract(tail, "^(0*)", 1))
    rank = F.least(zeros + 1, F.lit(W - p + 1)).cast("int")
    return (
        df.select(reg.alias("register"), rank.alias("rank"))
        .groupBy("register").agg(F.max("rank").alias("rank"))
    )


def hll_estimate(registers: list[tuple[int, int]], p: int = 12) -> float:
    """Driver-side estimate from (register, rank) rows: bias-corrected
    harmonic mean, linear counting below 2.5·m. Exact integer inputs,
    fixed ascending-register summation order → identical floats
    everywhere."""
    m = 1 << p
    ranks = {int(r): int(k) for r, k in registers}
    acc = 0.0
    for j in range(m):
        acc += 2.0 ** (-ranks.get(j, 0))
    alpha = 0.7213 / (1.0 + 1.079 / m)
    est = alpha * m * m / acc
    zero = m - sum(1 for k in ranks.values() if k > 0)
    if est <= 2.5 * m and zero > 0:
        est = m * math.log(m / zero)
    return est


def hll_registers_sql(table: str, col: str, p: int = 12) -> str:
    """DuckDB twin of :func:`hll_registers` (same 60-bit md5 prefix,
    same register split, same string-measured rank)."""
    h = f"CAST('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 15) AS BIGINT)"
    reg = f"({h} >> {W - p})"
    suffix = f"({h} & {(1 << (W - p)) - 1})"
    tail = f"substr(lpad(bin({suffix}), {W}, '0'), {p + 1}, {W - p})"
    zeros = f"length(regexp_extract({tail}, '^(0*)', 1))"
    rank = f"LEAST({zeros} + 1, {W - p + 1})"
    return (
        f"SELECT {reg} AS register, CAST(MAX({rank}) AS INTEGER) AS rank "
        f"FROM {table} GROUP BY 1"
    )


# ---------------------------------------------------------------------------
# Count-min sketch (the heavy-hitter / point-frequency member of the
# mergeable-sketch family: HLL = distinct, qsketch = quantiles, CMS =
# counts). Reference ancestry: the reference's per-minute issue-count
# tracking ("did this analyzer's count jump") kept exactly per key —
# CMS is that counter table at fixed memory regardless of key
# cardinality (depth × width int64 cells), mergeable by summing.
#
# Hash family: bucket_i(v) = 60-bit md5("i:" || v) % width for row
# i < depth — the repo's standard exact-on-both-engines hash. The
# estimate min_i cnt[i][bucket_i(v)] NEVER underestimates; it
# overestimates by ≤ e·N/width with prob 1−e^-depth (standard CMS
# bound), so a rare key can only be inflated, not hidden.
#
# Scale shape: the sketch is ONE aggregate over a depth-wide explode —
# map-side combine caps every partition's contribution at depth×width
# rows, so shuffle volume is bounded by the SKETCH size, not the data;
# estimation left-joins depth rows per probe against the ≤ depth×width
# sketch (broadcast-able by construction).
# ---------------------------------------------------------------------------


def _cms_bucket_col(col: str, i: int, width: int):
    h = F.conv(F.substring(F.md5(F.concat(F.lit(f"{i}:"),
                                          F.col(col).cast("string"))),
                           1, 15), 16, 10).cast("long")
    return (h % F.lit(width)).cast("long")


def _cms_bucket_sql(col: str, i: int, width: int) -> str:
    h = (f"CAST('0x' || substr(md5('{i}:' || CAST({col} AS VARCHAR)),"
         f" 1, 15) AS BIGINT)")
    return f"({h} % {width})"


def cms_sketch(df: DataFrame, col: str, width: int = 1024,
               depth: int = 4) -> DataFrame:
    """``(row, bucket, cnt)`` — the ≤ depth·width-row sketch (absent
    cells are zero; merge = unionByName + groupBy sum)."""
    pairs = F.array(*[
        F.struct(F.lit(i).alias("row"),
                 _cms_bucket_col(col, i, width).alias("bucket"))
        for i in range(depth)])
    return (df.select(F.explode(pairs).alias("_p"))
            .groupBy(F.col("_p.row").alias("row"),
                     F.col("_p.bucket").alias("bucket"))
            .agg(F.count("*").alias("cnt")))


def cms_estimate(sketch: DataFrame, probes: DataFrame, col: str,
                 width: int = 1024, depth: int = 4) -> DataFrame:
    """``(key, est)`` — min over rows of the probed cells (0 when a
    cell is absent). est ≥ true count always."""
    pairs = F.array(*[
        F.struct(F.lit(i).alias("row"),
                 _cms_bucket_col(col, i, width).alias("bucket"))
        for i in range(depth)])
    probe_cells = (probes.select(F.col(col).alias("key"),
                                 F.explode(pairs).alias("_p"))
                   .select("key", F.col("_p.row").alias("row"),
                           F.col("_p.bucket").alias("bucket")))
    joined = probe_cells.join(sketch, ["row", "bucket"], "left")
    return (joined.groupBy("key")
            .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est")))


def cms_sketch_sql(src_sql: str, col: str, width: int = 1024,
                   depth: int = 4) -> str:
    """DuckDB twin of :func:`cms_sketch` (same md5 buckets, one UNION
    ALL branch per row — depth is small and fixed)."""
    branches = " UNION ALL ".join(
        f"SELECT {i} AS row, {_cms_bucket_sql(col, i, width)} AS bucket "
        f"FROM ({src_sql})" for i in range(depth))
    return (f"SELECT row, bucket, CAST(COUNT(*) AS BIGINT) AS cnt "
            f"FROM ({branches}) GROUP BY row, bucket")


def cms_estimate_sql(sketch_sql: str, probes_sql: str, col: str,
                     width: int = 1024, depth: int = 4) -> str:
    """DuckDB twin of :func:`cms_estimate`."""
    branches = " UNION ALL ".join(
        f"SELECT {col} AS key, {i} AS row, "
        f"{_cms_bucket_sql(col, i, width)} AS bucket "
        f"FROM ({probes_sql})" for i in range(depth))
    return f"""
WITH _cms_s AS ({sketch_sql}),
_cms_p AS ({branches})
SELECT p.key, CAST(MIN(COALESCE(s.cnt, 0)) AS BIGINT) AS est
FROM _cms_p p LEFT JOIN _cms_s s ON s.row = p.row AND s.bucket = p.bucket
GROUP BY p.key
""".strip()
