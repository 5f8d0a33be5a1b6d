"""End-to-end admin validator, relation closure, image ops and
physical-plan quality assertions."""

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from osmnightwatch_spark.operators.closure import relation_closure
from osmnightwatch_spark.operators.images_ops import (
    decode_verify, verified_flagship,
)
from osmnightwatch_spark.sources import images as I

# ---------------------------------------------------------------------------
# relation closure
# ---------------------------------------------------------------------------


def rel(spark, rows):
    return spark.createDataFrame(
        rows,
        "id long, members array<struct<member_id:long,role:string,member_type:string>>")


def test_relation_closure(spark):
    def m(mid, t="relation"):
        return Row(member_id=mid, role="", member_type=t)

    relations = rel(spark, [
        (1, [m(2), m(3), m(100, "way")]),
        (2, [m(4)]),
        (3, []),
        (4, [m(1)]),          # cycle back to 1 — must terminate
        (5, [m(6)]),          # unreachable
        (6, []),
    ])
    seeds = spark.createDataFrame([(1,)], "id long")
    out = relation_closure(relations, seeds).toPandas()
    assert set(out.id) == {1, 2, 3, 4}


# ---------------------------------------------------------------------------
# end-to-end admin validator
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def admin_world(spark):
    """Two countries; country A has two level-4 admins, B has one;
    one broken admin relation; expected state disagrees on purpose."""
    from tests.test_validators_cdc import NODE_SCHEMA, REL_SCHEMA, WAY_SCHEMA, m

    def sq(nid0, wid, x0, y0, x1, y1):
        nodes = [(nid0, x0, y0), (nid0 + 1, x1, y0), (nid0 + 2, x1, y1), (nid0 + 3, x0, y1)]
        way = (wid, [nid0, nid0 + 1, nid0 + 2, nid0 + 3, nid0])
        return nodes, way

    nodes, ways = [], []
    for nid0, wid, box in [
        (100, 10, (0, 0, 40, 40)),      # country A
        (200, 20, (50, 0, 90, 40)),     # country B
        (300, 30, (5, 5, 15, 15)),      # A-admin 1 (level 4)
        (400, 40, (20, 20, 35, 35)),    # A-admin 2 (level 4)
        (500, 50, (55, 5, 70, 20)),     # B-admin 1 (level 4)
    ]:
        ns, w = sq(nid0, wid, *box)
        nodes += ns
        ways.append(w)
    nodes.append((900, 10.0, 10.0))     # admin_centre node WITH place tag
    nodes.append((901, 25.0, 25.0))     # admin_centre node WITHOUT place tag

    def admin_tags(level, name):
        return {"boundary": "administrative", "type": "boundary",
                "admin_level": str(level), "name": name}

    relations = [
        (1, [m(10, "outer"), Row(member_id=900, role="admin_centre", member_type="node")],
         admin_tags(2, "CountryA")),
        (2, [m(20, "outer")], admin_tags(2, "CountryB")),
        (31, [m(30, "outer"), Row(member_id=901, role="admin_centre", member_type="node")],
         admin_tags(4, "A1")),
        (41, [m(40, "outer")], admin_tags(4, "A2")),
        (51, [m(50, "outer")], admin_tags(4, "B1")),
        (61, [m(999, "outer")], admin_tags(4, "Broken")),   # missing way
        (71, [m(30, "outer")], {"boundary": "other"}),      # filtered out
    ]
    nodes_df = spark.createDataFrame(
        [(i, float(x), float(y), {"place": "city"} if i == 900 else None)
         for i, x, y in nodes], NODE_SCHEMA)
    ways_df = spark.createDataFrame([(i, ns, None) for i, ns in ways], WAY_SCHEMA)
    rel_df = spark.createDataFrame(relations, REL_SCHEMA)
    expected = spark.createDataFrame(pd.DataFrame({
        "country_id": [1, 1, 2, 2],
        "country_name": ["CountryA", "CountryA", "CountryB", "CountryB"],
        "admin_level": [4, 4, 4, 4],
        # expects A1(31) + a vanished 32 in A; B1(51) + 52 vanished in B
        "admin_id": [31, 32, 51, 52],
    }))
    return rel_df, ways_df, nodes_df, expected


def test_admin_validator_end_to_end(spark, admin_world):
    from osmnightwatch_spark.plans.admin_validator import (
        admin_relations, build_state, country_admin_sets, validate,
    )

    rel_df, ways_df, nodes_df, expected = admin_world
    issues = validate(rel_df, ways_df, nodes_df, expected).toPandas()
    by_type = {t: set(g.osm_id) for t, g in issues.groupby("issue_type")}
    assert by_type["OpenAdminPolygon"] == {61}          # broken assembly
    assert by_type["AdminCentre"] == {31}               # node 901 lacks place tag
    assert by_type["LostAdmin4"] == {32, 52}            # expected but vanished
    assert by_type["GainedAdmin4"] == {41}              # present but unexpected
    # no missing-country: both countries produced state
    assert "MissingCountry" not in by_type


def test_country_admin_sets(spark, admin_world):
    from osmnightwatch_spark.operators.assembly import assemble_polygons
    from osmnightwatch_spark.plans.admin_validator import (
        admin_relations, admins_to_country, build_state, country_admin_sets,
    )

    rel_df, ways_df, nodes_df, _ = admin_world
    admins = admin_relations(rel_df)
    assembled = assemble_polygons(admins.select("id", "members", "tags"),
                                  ways_df, nodes_df)
    state = build_state(assembled, admins.select(
        F.col("id").alias("relation_id"), "admin_level", "name"))
    rows = country_admin_sets(state).toPandas()
    sets = rows.set_index("country_id")
    assert list(sets.loc[1].admin_ids) == [31, 41] and sets.loc[1].n_admins == 2
    assert list(sets.loc[2].admin_ids) == [51]
    # A6 is A5 read the other way: an admin's memberships are the
    # (country, level) rows whose admin_ids list it
    want = {}
    for r in rows.itertuples():
        for a in r.admin_ids:
            want.setdefault(a, set()).add((r.country_id, r.admin_level))
    got = {r.admin_id: {(m.country_id, m.admin_level) for m in r.memberships}
           for r in admins_to_country(state).collect()}
    assert got == want == {31: {(1, 4)}, 41: {(1, 4)}, 51: {(2, 4)}}


# ---------------------------------------------------------------------------
# image ops
# ---------------------------------------------------------------------------


def test_decode_verify_all_pass(spark):
    imgs = I.images_df(spark, 300, partitions=4)
    out = decode_verify(imgs, check_psnr=True).toPandas()
    assert len(out) == 300
    assert out.phash_ok.all() and out.caption_ok.all()
    assert (out.psnr >= 40.0).all()


def test_decode_verify_catches_corruption(spark):
    imgs = I.images_df(spark, 50, partitions=2).withColumn(
        "phash", F.col("phash") + 1  # corrupt the stored hash
    )
    out = decode_verify(imgs).toPandas()
    assert not out.phash_ok.any()


def test_verified_flagship_counts(spark):
    imgs = I.images_df(spark, 1000, partitions=4)
    out = verified_flagship(imgs).toPandas()
    assert out.n_images.sum() > 0
    assert (out.n_images > 0).all()


# ---------------------------------------------------------------------------
# physical-plan quality gates (.explain-driven)
# ---------------------------------------------------------------------------


def _plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_pruning_and_pushdown(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    q = df.where(F.col("l_orderkey") == 7).select("l_orderkey", "l_quantity")
    plan = _plan_of(q)
    assert "PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,7)" in plan
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_pip_join_plan_shape(spark):
    from osmnightwatch_spark.operators.pip_join import PreparedPolygons, pip_join
    from osmnightwatch_spark.sources import polygons as P
    from osmnightwatch_spark.sources.images import with_geo

    imgs = spark.read.parquet("/root/repo/data/images_sf0.01") \
        if __import__("os").path.exists("/root/repo/data/images_sf0.01") \
        else I.images_df(spark, 500, partitions=2)
    pts = with_geo(imgs.select("image_id", "phash"))
    prep = PreparedPolygons.build(P.valid_polygon_list(rect_only=True), res=7)
    plan = _plan_of(pip_join(pts, prep))
    # the huge point side must join map-side (broadcast), never shuffle
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # geotag, cell encode and the boundary refine are all native
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # the boundary branch's band-index join is map-side too
    assert re.search(r"BroadcastHashJoin \[polygon_id#\d+L, _band#\d+L\]", plan)


def test_tile_counts_plan_no_python(spark):
    from osmnightwatch_spark.operators.tiling import tile_counts
    from osmnightwatch_spark.sources.images import with_geo

    pts = with_geo(I.images_df(spark, 100, partitions=2).select("image_id", "phash"))
    plan = _plan_of(tile_counts(pts, 8))
    # everything after the generator source is JVM-native
    assert "ArrowEvalPython" not in plan.split("MapInPandas")[0]

def test_lsh_multitable_plan_shape(spark, pre_checkpoint):
    """Multi-table ANN plan: bucket equi-joins only (no cartesian), hot
    buckets removed via broadcast anti-join, pair dedup via partial-agg
    groupBy — the 10^12-row-safe shape (VERDICT r01 #1)."""
    import numpy as np
    import pandas as pd

    from osmnightwatch_spark.operators.similarity import lsh_topk

    rng = np.random.default_rng(2)
    df = spark.createDataFrame(pd.DataFrame({
        "vec_id": np.arange(500),
        "embedding": list(map(list, rng.normal(size=(500, 8)))),
    }))
    out = pre_checkpoint(lsh_topk, df, F.col("vec_id") % 50 == 0, k=3,
                         dims=8, planes=5, tables=2, max_bucket=100)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "LeftAnti" in plan            # hot-bucket broadcast anti-join
    assert "HashAggregate" in plan       # pair dedup is a partial-agg groupBy
    assert "Window" in plan              # per-probe top-k only


def test_pip_join_shuffle_path_copartition_and_skew(spark):
    """The shuffled PIP path (the 10^12-row covering case, selected by a
    broadcast threshold of -1):
    both join sides co-partition on _cell through the join's OWN
    ENSURE_REQUIREMENTS exchanges — no hand repartition, because AQE's
    OptimizeSkewedJoin refuses to split REPARTITION_BY_COL shuffles —
    and on a planted-city hot cell the skew reader actually engages
    (VERDICT r02 #7)."""
    import re

    from osmnightwatch_spark.operators.pip_join import PreparedPolygons, pip_join
    from osmnightwatch_spark.sources import polygons as P

    rng = np.random.default_rng(11)
    n = 120_000
    city = rng.random(n) < 0.9  # 90% of points in one ~100 m cell
    pts = spark.createDataFrame(pd.DataFrame({
        "pt_id": np.arange(n),
        "lon": np.where(city, 13.4 + rng.random(n) * 0.001,
                        rng.uniform(-179, 179, n)),
        "lat": np.where(city, 52.5 + rng.random(n) * 0.001,
                        rng.uniform(-85, 85, n)),
    }))
    prep = PreparedPolygons.build(P.valid_polygon_list(rect_only=True), res=7)
    tuned = {
        # force the shuffle shape (prod: covering too big to broadcast)
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        # shrink skew thresholds so the fixture-sized hot cell trips them
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    saved = {k: spark.conf.get(k, None) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        out = pip_join(pts, prep)
        out.collect()  # collect() finalizes THIS frame's adaptive plan
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            (spark.conf.set(k, v) if v is not None else spark.conf.unset(k))
    assert "isFinalPlan=true" in plan
    # co-partitioned on the cell key, via join-owned exchanges only
    assert len(re.findall(
        r"Exchange hashpartitioning\(_cell[^)]*\), ENSURE_REQUIREMENTS", plan)) >= 2
    assert "REPARTITION_BY_COL" not in plan
    assert "BroadcastHashJoin" not in plan
    # AQE split the planted hot cell on the point side
    assert plan.count("skew=true") >= 1
    assert re.search(r"AQEShuffleRead [a-z ]*skewed", plan)


def test_arrow_batch_pin_and_postshuffle_pixel_identity(spark):
    """SURVEY §7.2(f) / VERDICT r02 #10: the Arrow transfer batch size
    is pinned against the 8 KB payload rows (ARROW_BATCH_ROWS), and an
    8 KB-payload column that crosses a real shuffle then an Arrow
    boundary decodes to byte-identical pixels."""
    import hashlib
    import os

    from osmnightwatch_spark.functions import codecs as K
    from osmnightwatch_spark.session import ARROW_BATCH_ROWS

    assert spark.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch") == str(ARROW_BATCH_ROWS)

    path = "/root/repo/data/images_sf0.1"
    imgs = (spark.read.parquet(path).where(F.crc32(F.col("image_id")) % 40 == 0)
            if os.path.exists(os.path.join(path, "_SUCCESS"))
            else I.images_df(spark, 5000, partitions=8))

    def digest(batches):
        for pdf in batches:
            out = []
            for b, fmt, w, h in zip(pdf["bytes"], pdf["fmt"], pdf["w"], pdf["h"]):
                px = K.decode(bytes(b), str(fmt), int(w), int(h))
                out.append(hashlib.md5(px.tobytes()).hexdigest())
            yield pd.DataFrame({"image_id": pdf["image_id"], "d": out})

    schema = "image_id string, d string"
    direct = dict(imgs.mapInPandas(digest, schema).collect())
    shuffled = imgs.repartition(16, "phash")  # full-payload exchange
    after = dict(shuffled.mapInPandas(digest, schema).collect())
    assert len(direct) > 1000 and direct == after


def test_lang_ngram_and_sampling_plan_shapes(spark):
    """New round-3 ops stay JVM-native: lang scoring is one broadcast
    profile join + one groupBy (no Python anywhere); packing is a
    single exchange into per-shard windows."""
    from osmnightwatch_spark.operators import text as TX
    from osmnightwatch_spark.operators.sampling import pack_sequences

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    model = TX.train_lang_ngrams(d)
    plan = _plan_of(TX.lang_ngram_guess(d, model))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan

    packed = pack_sequences(
        d.withColumn("_nt", TX.token_count(F.col("text"))),
        "doc_id", "_nt", max_tokens=512, n_shards=8)
    pplan = _plan_of(packed)
    assert pplan.count("Exchange hashpartitioning") == 1  # one shard shuffle
    assert "ArrowEvalPython" not in pplan


def test_range_join_plan_one_shuffle_no_python(spark):
    """range_join's plan: an equi-join on the cell key (never a
    cartesian/nested-loop), at most one exchange per side, and zero
    Python evaluation — the covering is all codegen."""
    import pandas as pd

    from osmnightwatch_spark.operators.range_join import range_join

    pdf = pd.DataFrame({"id": range(200), "lon": [float(i % 50) for i in range(200)],
                        "lat": [float(i % 37) for i in range(200)]})
    df = spark.createDataFrame(pdf)
    out = range_join(df.withColumnRenamed("id", "left_id"),
                     df.withColumnRenamed("id", "right_id"), 2.0)
    plan = _plan_of(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "PythonUDF" not in plan and "ArrowEval" not in plan
    assert plan.count("Exchange") <= 2  # one hash exchange per side max


def test_topn_plans_use_take_ordered(spark):
    """weighted_sample and bm25_topk compile to TakeOrderedAndProject
    (per-partition top-n + driver merge), never a global Sort — the
    plan property that makes top-k safe at any corpus size."""
    import pandas as pd

    from osmnightwatch_spark.operators.retrieval import bm25_topk
    from osmnightwatch_spark.operators.sampling import weighted_sample

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(300),
        "text": [f"tok{i % 17} filler words here" for i in range(300)],
        "w": [float(i + 1) for i in range(300)],
    }))
    p1 = _plan_of(weighted_sample(docs, 10, "w"))
    assert "TakeOrderedAndProject" in p1 and "Exchange" not in p1
    p2 = _plan_of(bm25_topk(docs, "tok1 filler", k=5))
    assert "TakeOrderedAndProject" in p2


def test_hll_plan_single_partial_final_agg(spark):
    """The HLL sketch is ONE map-side-combining aggregation: exactly
    one exchange (partial → final HashAggregate), no window, no join."""
    import pandas as pd

    from osmnightwatch_spark.operators.sketches import hll_registers

    df = spark.createDataFrame(pd.DataFrame({"v": [f"x{i}" for i in range(500)]}))
    plan = _plan_of(hll_registers(df, "v", p=8))
    assert plan.count("Exchange") == 1
    assert "HashAggregate" in plan and "Join" not in plan and "Window" not in plan
