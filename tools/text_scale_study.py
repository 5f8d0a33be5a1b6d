"""Text-family scale study: measured throughput for the ExactSubstr
dedup family, the text-quality pipeline, and the epoch shuffle at
~100M tokens — the evidence that the text operators' plan shapes hold
beyond the 500-doc correctness corpus (the driver's documents table).

Corpus: 2M docs × ~52 tokens, generated INSIDE Spark (native exprs,
no Python, no driver loop): token j of doc i is
``substr(md5(i || ':' || j), 1, 5)`` — deterministic, ~16^5 vocab, so
coincidental 8-gram repeats are cryptographically negligible and the
duplicated-span ground truth is exactly what we inject:

* docs with ``id % 7 < 2`` get a shared 12-token boilerplate sentence
  appended → a cross-corpus duplicated span in ~571k docs (and ONE
  n-gram key carried by 571k positions — the hot-gram case the
  count-aggregation's map-side partial combine must absorb);
* docs with ``id % 100 == 0`` are self-doubled (text || ' ' || text)
  → within-doc islands.

Expected-output checks (not just timings): every injected doc must
carry a span, self-doubled docs must lose >= half their tokens to the
cut, and the span family's per-doc accounting must conserve tokens.

Usage: python tools/text_scale_study.py [n_docs]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BOILER = ("the quick brown fox jumps over the lazy dog near the river "
          "tonight")  # 12 tokens


def synth_docs(spark, n_docs: int):
    """2M-doc corpus, all-native generation (one projection, no shuffle)."""
    from pyspark.sql import functions as F

    base = (
        spark.range(n_docs).withColumnRenamed("id", "doc_id")
        .withColumn(
            "text",
            F.expr(
                "concat_ws(' ', transform(sequence(1, 50), "
                "j -> substr(md5(concat(doc_id, ':', j)), 1, 5)))"
            ),
        )
    )
    return (
        base
        .withColumn(
            "text",
            F.when(F.col("doc_id") % 100 == 0,
                   F.concat_ws(" ", F.col("text"), F.col("text")))
            .otherwise(F.col("text")),
        )
        .withColumn(
            "text",
            F.when(F.col("doc_id") % 7 < 2,
                   F.concat_ws(" ", F.col("text"), F.lit(BOILER)))
            .otherwise(F.col("text")),
        )
    )


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    os.environ.setdefault("SPARK_LOCAL_DIRS", "/root/spark-local")

    from pyspark.sql import functions as F

    from osmnightwatch_spark.operators.dedup import (substring_dedup_cut,
                                                     substring_dup_spans)
    from osmnightwatch_spark.operators.sampling import epoch_shard
    from osmnightwatch_spark.operators.text import (pii_scrub, with_quality,
                                                    with_repetition)
    from osmnightwatch_spark.session import get_spark

    spark = get_spark("text-scale", cores=32)
    out: dict = {"n_docs": n_docs}

    # Materialize the corpus once as parquet (generation cost excluded
    # from op timings, mirroring bench.py's cached-images discipline).
    path = os.path.join(REPO, "data", f"text_scale_{n_docs}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        synth_docs(spark, n_docs).write.mode("overwrite").parquet(path)
    docs = spark.read.parquet(path)
    n_tokens = docs.select(
        F.sum(F.size(F.split("text", " ")))).collect()[0][0]
    out["n_tokens"] = int(n_tokens)

    # --- ExactSubstr span signal -------------------------------------
    t0 = time.time()
    spans = substring_dup_spans(docs, "doc_id", "text", n=8)
    sp_rows = spans.count()
    out["spans_sec"] = round(time.time() - t0, 2)
    out["span_docs"] = sp_rows
    out["spans_tokens_per_sec"] = round(n_tokens / out["spans_sec"])
    # ground truth: every injected/self-doubled doc carries a span
    injected = sum(1 for i in range(n_docs) if i % 7 < 2 or i % 100 == 0)
    assert sp_rows >= injected, (sp_rows, injected)

    # --- ExactSubstr cut applied -------------------------------------
    t0 = time.time()
    cut = substring_dedup_cut(docs, "doc_id", "text", n=8)
    agg = cut.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum("dropped_tokens").alias("dropped"),
        F.sum((F.col("doc_id") % 100 == 0).cast("int")
              * (F.col("dropped_tokens") * 2 >= F.col("kept_tokens")
                 + F.col("dropped_tokens")).cast("int")).alias("half_cut"),
    ).collect()[0]
    out["cut_sec"] = round(time.time() - t0, 2)
    out["cut_tokens_per_sec"] = round(n_tokens / out["cut_sec"])
    out["dropped_tokens"] = int(agg["dropped"])
    assert agg["rows"] == n_docs
    # every self-doubled doc loses >= half its tokens
    assert agg["half_cut"] == (n_docs + 99) // 100, agg["half_cut"]

    # --- text-quality pipeline (quality + repetition + PII, one pass) -
    t0 = time.time()
    q = with_quality(docs).select("doc_id", "quality_ok")
    r = with_repetition(docs).select("doc_id", "frac_distinct_pm")
    p = pii_scrub(docs)
    n_q = q.join(r, "doc_id").join(p.select("doc_id"), "doc_id").count()
    out["quality_sec"] = round(time.time() - t0, 2)
    out["quality_docs_per_sec"] = round(n_docs / out["quality_sec"])
    assert n_q == n_docs

    # --- epoch shuffle at 10× docs (pure shuffle throughput) ---------
    ids = spark.range(n_docs * 10).withColumnRenamed("id", "doc_id")
    t0 = time.time()
    shard = epoch_shard(ids, epoch=1, n_shards=256)
    n_s = shard.count()
    out["epoch_shard_sec"] = round(time.time() - t0, 2)
    out["epoch_shard_rows"] = n_s
    out["epoch_shard_rows_per_sec"] = round(n_s / out["epoch_shard_sec"])
    assert n_s == n_docs * 10

    out["load_1m"] = round(os.getloadavg()[0], 2)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
