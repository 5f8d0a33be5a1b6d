"""sf1 oracle sweep (VERDICT r02 #4): hash-match evidence at 10× the
driver's largest SF for the scale-sensitive ANN/dedup/kNN/skew queries.

Synthesizes an sf1-sized dir at ``data/sf1_synth`` by DETERMINISTIC
10× replication of /root/testdata/sf0.1 (no randomness — rerunning
bit-reproduces the tables):

* documents — id offset + per-copy 3-char token prefix (declusters the
  copies' shingles);
* embeddings — id offset + per-copy left-rotation of the vector;
* events — id offset only (lon/lat derive from event_id, so each copy
  lands on fresh coordinates);
* the other 7 tables are byte-copied (unused by the swept queries).

Then runs the driver-identical compare (tools/compare_oracle.py) for
``minhash_pairs``, ``ann_lsh_topk``, ``adaptive_cell_split``, and a
kNN compare through the same ``knn_join`` operator code path with a
1-in-20000 probe rate — the registered query's 1-in-200 rate would put
5×10^9 rows through DuckDB's brute-force oracle window; thinning the
probes changes the oracle's cost, not the engine path being verified.

Usage:  python tools/sf1_oracle_sweep.py [--gen-only]
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SRC = "/root/testdata/sf0.1"
DST = os.path.join(REPO, "data", "sf1_synth")
COPIES = 10
OFFSET = 10_000_000


def generate() -> None:
    os.makedirs(DST, exist_ok=True)
    if os.path.exists(os.path.join(DST, "_DONE")):
        return
    con = duckdb.connect()
    con.execute(f"""COPY (
      SELECT doc_id + i*{OFFSET} AS doc_id,
             'c' || i || ' ' || text AS text,
             lang, source, n_chars + 3 AS n_chars
      FROM read_parquet('{SRC}/documents.parquet'),
           UNNEST(range(0, {COPIES})) t(i)
    ) TO '{DST}/documents.parquet' (FORMAT PARQUET)""")
    con.execute(f"""COPY (
      SELECT vec_id + i*{OFFSET} AS vec_id,
             CAST(embedding[(CAST(i AS INT)+1):] ||
                  embedding[1:CAST(i AS INT)] AS FLOAT[]) AS embedding,
             label
      FROM read_parquet('{SRC}/embeddings.parquet'),
           UNNEST(range(0, {COPIES})) t(i)
    ) TO '{DST}/embeddings.parquet' (FORMAT PARQUET)""")
    con.execute(f"""COPY (
      SELECT event_id + i*{OFFSET} AS event_id, ts, user_id, event_type,
             value, props
      FROM read_parquet('{SRC}/events.parquet'),
           UNNEST(range(0, {COPIES})) t(i)
    ) TO '{DST}/events.parquet' (FORMAT PARQUET)""")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem"):
        shutil.copyfile(f"{SRC}/{t}.parquet", f"{DST}/{t}.parquet")
    open(os.path.join(DST, "_DONE"), "w").close()


def knn_sweep() -> bool:
    """knn_join at 1M candidates vs the DuckDB brute oracle, thinned
    probes (500 probes × 1M cands = 5×10^8 oracle rows — feasible)."""
    from pyspark.sql import functions as F

    from osmnightwatch_spark.operators.knn import knn_join
    from osmnightwatch_spark.plans.queries import _GEO_SQL, _events_geo
    from osmnightwatch_spark.session import get_spark
    from tools.compare_oracle import norm

    mod = 20_000
    spark = get_spark("sf1-knn", cores=16)
    t0 = time.time()
    geo = _events_geo(spark, DST)
    probes = geo.where(F.col("event_id") % mod == 0).withColumnRenamed(
        "event_id", "probe_id")
    cands = geo.withColumnRenamed("event_id", "cand_id")
    got = (
        knn_join(probes, cands, k=3)
        .select("probe_id", "cand_id", "rank").toPandas()
    )
    t_spark = time.time() - t0
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{DST}/events.parquet')")
    t0 = time.time()
    exp = con.execute(
        "SELECT probe_id, cand_id, rank FROM ("
        "SELECT p.event_id AS probe_id, c.event_id AS cand_id, "
        "row_number() OVER (PARTITION BY p.event_id ORDER BY "
        "(p.lon - c.lon) * (p.lon - c.lon) + (p.lat - c.lat) * (p.lat - c.lat)"
        " ASC, c.event_id ASC) AS rank "
        f"FROM ({_GEO_SQL}) p JOIN ({_GEO_SQL}) c ON p.event_id <> c.event_id "
        f"WHERE p.event_id % {mod} = 0) WHERE rank <= 3"
    ).fetchdf()
    t_duck = time.time() - t0
    g, x = norm(got), norm(exp)
    ok = g.equals(x)
    print(f"{'OK  ' if ok else 'FAIL'}  knn_events@sf1(mod={mod}): "
          f"spark={len(g)} duckdb={len(x)} "
          f"[spark {t_spark:.1f}s, duckdb {t_duck:.1f}s]")
    spark.stop()
    return ok


def clusters_fixpoint_sweep() -> bool:
    """dedup_clusters at sf1 (50k docs → ~18M candidate pairs): the
    recursive-CTE oracle cannot transitively close 18M edges, so the
    check is the four properties that UNIQUELY characterize
    min-label connected components (each verified distributed):

    1. edge consistency — every pair's endpoints share a label;
    2. minimality bound — label(x) ≤ x;
    3. canonicality — label(label(x)) = label(x) (representatives
       label themselves);
    4. totality — every doc id labeled exactly once.

    Any labeling satisfying 1-4 that is also a fixpoint of one more
    min-propagation round (which the operator's convergence loop
    guarantees by construction) equals exact CC-with-min-label.
    """
    from pyspark.sql import functions as F

    from osmnightwatch_spark.operators.dedup import (
        dedup_clusters, minhash_lsh_pairs,
    )
    from osmnightwatch_spark.session import get_spark

    spark = get_spark("sf1-cc", cores=16)
    t0 = time.time()
    d = spark.read.parquet(f"{DST}/documents.parquet")
    pairs = minhash_lsh_pairs(d, "doc_id")  # already eager-checkpointed
    lab = dedup_clusters(pairs, all_ids=d)
    la = lab.select(F.col("doc_id").alias("id_a"), F.col("keeper_id").alias("ka"))
    lb = lab.select(F.col("doc_id").alias("id_b"), F.col("keeper_id").alias("kb"))
    edge_bad = (pairs.join(la, "id_a").join(lb, "id_b")
                .where(F.col("ka") != F.col("kb")).count())
    min_bad = lab.where(F.col("keeper_id") > F.col("doc_id")).count()
    canon_bad = (
        lab.join(lab.select(F.col("doc_id").alias("keeper_id"),
                            F.col("keeper_id").alias("kk")), "keeper_id")
        .where(F.col("kk") != F.col("keeper_id")).count()
    )
    n_docs, n_lab = d.count(), lab.count()
    n_pairs = pairs.count()
    ok = edge_bad == 0 and min_bad == 0 and canon_bad == 0 and n_docs == n_lab
    print(f"{'OK  ' if ok else 'FAIL'}  dedup_clusters@sf1: docs={n_lab} "
          f"pairs={n_pairs} edge_bad={edge_bad} min_bad={min_bad} "
          f"canon_bad={canon_bad} [{time.time()-t0:.1f}s]")
    spark.stop()
    return ok


def main() -> int:
    generate()
    print(f"sf1 synth ready at {DST}")
    if "--gen-only" in sys.argv:
        return 0
    rc = subprocess.run(
        [sys.executable, "tools/compare_oracle.py", DST,
         "minhash_pairs", "ann_lsh_topk", "adaptive_cell_split"],
        cwd=REPO,
    ).returncode
    ok = knn_sweep()
    ok2 = clusters_fixpoint_sweep()
    return 0 if (rc == 0 and ok and ok2) else 1


if __name__ == "__main__":
    sys.exit(main())
