"""The engine's query surface + DuckDB oracle twins.

Every SURVEY.md §2 operator family is represented by at least one
entry here. Each entry is ``(spark_fn, oracle_sql_or_None)`` where the
Spark side exercises the real engine operator and the SQL side is an
independent ANSI formulation DuckDB runs on the same parquet tables
(views: region nation customer supplier part orders lineitem events
documents embeddings). The driver compares row counts + schema +
order-insensitive value hashes, so:

* every computed column is aliased identically on both sides;
* float aggregates are ROUND()ed (accumulation order differs between
  engines; rounding grain ≫ float error);
* divisions that truncate use explicit FLOOR (DuckDB CAST rounds);
* timestamps are compared as epoch seconds (bigint).

Spatial queries run over points *derived* from ``events`` by a
documented integer-arithmetic geotag (below) — exactly reproducible
in SQL — because the driver's DuckDB session only registers the
TPC-H-ish tables. Every entry, including the flagship trunk and the
assembly/coastline validators (over embedded VALUES corpora), has a
full SQL twin; the binary pixel payloads themselves are pinned in
pytest (PSNR/caption/phash invariants) since bytes cannot exist in
the DuckDB views.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import cells as C
from ..operators import dedup as D
from ..operators import similarity as S
from ..operators import text as TX
from ..operators.coverage import observed_coverage
from ..operators.knn import knn_join
from ..operators.pip_join import PreparedPolygons, pip_join
from ..operators.tiling import tile_counts, tile_rollup
from ..sources import images as I
from ..sources import polygons as P
from . import assembly_fixture as AF
from . import coastline_fixture as CF

# ---------------------------------------------------------------------------
# derived geotag for events (documented; integer arithmetic → exact in SQL)
# ---------------------------------------------------------------------------

_LON_MULT = 2654435761          # Knuth multiplicative constants (odd → full wrap)
_LAT_MULT = 2246822519
_LAT_OFF = 1234567
_M32 = 4294967296


def _geo_lonlat(idc):
    """lon/lat Columns from an id expression — THE single definition of
    the events integer-arithmetic geotag (parametrized so changeset
    payloads can derive moved positions from shifted ids); every
    events-derived query and its SQL twin builds on this pair."""
    mlon = (idc * F.lit(_LON_MULT)) % F.lit(_M32)
    mlat = (idc * F.lit(_LAT_MULT) + F.lit(_LAT_OFF)) % F.lit(_M32)
    return (
        (F.lit(-180.0) + mlon.cast("double") / F.lit(float(_M32)) * F.lit(360.0)),
        (F.lit(-85.0) + mlat.cast("double") / F.lit(float(_M32)) * F.lit(170.0)),
    )


def _geo_lonlat_sql(id_expr: str) -> tuple[str, str]:
    return (
        f"(-180.0 + CAST(({id_expr}) * {_LON_MULT} % {_M32} AS DOUBLE) / {_M32}.0 * 360.0)",
        f"(-85.0 + CAST((({id_expr}) * {_LAT_MULT} + {_LAT_OFF}) % {_M32} AS DOUBLE)"
        f" / {_M32}.0 * 170.0)",
    )


def _events_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    lon, lat = _geo_lonlat(F.col("event_id"))
    return ev.select("event_id", lon.alias("lon"), lat.alias("lat"))


_GEO_LON_SQL, _GEO_LAT_SQL = _geo_lonlat_sql("event_id")
_GEO_SQL = (
    f"SELECT event_id, {_GEO_LON_SQL} AS lon, {_GEO_LAT_SQL} AS lat "
    "FROM events"
)


def _prep_rect(res: int = 7) -> PreparedPolygons:
    return PreparedPolygons.build(P.valid_polygon_list(rect_only=True), res=res)


def _rect_join_sql(inner: str, pred_lon: str = "g.lon", pred_lat: str = "g.lat") -> str:
    parts = []
    for rid, _n, _l, (lon0, lat0, lon1, lat1) in P.rect_bounds():
        parts.append(
            f"SELECT CAST({rid} AS BIGINT) AS polygon_id, {lon0!r} AS x0,"
            f" {lat0!r} AS y0, {lon1!r} AS x1, {lat1!r} AS y1"
        )
    rects = " UNION ALL ".join(parts)
    return (
        f"SELECT g.*, r.polygon_id FROM ({inner}) g JOIN ({rects}) r "
        f"ON {pred_lon} >= r.x0 AND {pred_lon} <= r.x1 "
        f"AND {pred_lat} >= r.y0 AND {pred_lat} <= r.y1"
    )


# ---------------------------------------------------------------------------
# query definitions
# ---------------------------------------------------------------------------

def q_tag_filter_project(spark, sf_dir):
    """F1/F2/F5 — predicate + projection (pushdown-friendly)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.where(F.col("lang").isin("en", "de") & (F.col("n_chars") > 200)).select(
        "doc_id", "lang", "n_chars"
    )


SQL_tag_filter_project = (
    "SELECT doc_id, lang, n_chars FROM documents "
    "WHERE lang IN ('en','de') AND n_chars > 200"
)


def q_id_semi_join_scan(spark, sf_dir):
    """S2 — indexed id-set scan ≡ semi-join against an id set."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.where(F.col("l_orderkey") % 97 == 0).select(
        "l_orderkey", "l_partkey", "l_quantity"
    )


SQL_id_semi_join_scan = (
    "SELECT l_orderkey, l_partkey, l_quantity FROM lineitem WHERE l_orderkey % 97 = 0"
)


def q_version_compaction(spark, sf_dir):
    """ST2 — CDC last-writer-wins compaction (window dedup)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id", "event_type",
            F.col("event_id").alias("last_event_id"),
            F.round("value", 4).alias("last_value"),
        )
    )


SQL_version_compaction = (
    "SELECT user_id, event_type, event_id AS last_event_id, ROUND(value, 4) AS last_value "
    "FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type "
    "ORDER BY ts DESC, event_id DESC) rn FROM events) WHERE rn = 1"
)


def q_agg_pricing(spark, sf_dir):
    """A-family — multi-aggregate groupBy (TPC-H Q1 shape)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("n_rows"),
    )


SQL_agg_pricing = (
    "SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity), 2) AS sum_qty, "
    "ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue, "
    "ROUND(AVG(l_discount), 6) AS avg_disc, COUNT(*) AS n_rows "
    "FROM lineitem GROUP BY l_returnflag, l_linestatus"
)


def q_join_revenue(spark, sf_dir):
    """J1 — shuffled equi-join + aggregation."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_join_revenue = (
    "SELECT o_orderpriority, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue, "
    "COUNT(*) AS n_items FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "GROUP BY o_orderpriority"
)


def q_broadcast_dims(spark, sf_dir):
    """J8/J9 — broadcast dimension joins (customer ⋈ nation ⋈ region)."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    r = spark.read.parquet(f"{sf_dir}/region.parquet")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
        )
    )


SQL_broadcast_dims = (
    "SELECT r_name, n_name, COUNT(*) AS n_customers, ROUND(AVG(c_acctbal), 4) AS avg_bal "
    "FROM customer JOIN nation ON c_nationkey = n_nationkey "
    "JOIN region ON n_regionkey = r_regionkey GROUP BY r_name, n_name"
)


def q_anti_join_missing(spark, sf_dir):
    """T1/T4 — anti-join ("expected but absent" half of the set diff)."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


SQL_anti_join_missing = (
    "SELECT c_custkey, c_name FROM customer WHERE c_custkey NOT IN "
    "(SELECT o_custkey FROM orders)"
)


def q_full_outer_diff(spark, sf_dir):
    """T1 — expected-vs-actual diff in one full-outer pass (the
    reference classifies 'lost'/'gained' per country,
    AdminCountPerCountryAnalyzer.cs:240-257)."""
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    expected = p.where(F.col("p_size") < 20).select("p_type").distinct()
    actual = p.where(F.col("p_retailprice") > 1400).select("p_type").distinct()
    e = expected.withColumnRenamed("p_type", "t").withColumn("e", F.lit(1))
    a = actual.withColumnRenamed("p_type", "t").withColumn("a", F.lit(1))
    j = e.join(a, "t", "full_outer")
    status = (
        F.when(F.col("e").isNotNull() & F.col("a").isNull(), F.lit("lost"))
        .when(F.col("e").isNull() & F.col("a").isNotNull(), F.lit("gained"))
        .otherwise(F.lit("kept"))
    )
    return j.select(F.col("t").alias("p_type"), status.alias("status"))


SQL_full_outer_diff = (
    "SELECT COALESCE(e.t, a.t) AS p_type, CASE "
    "WHEN e.t IS NOT NULL AND a.t IS NULL THEN 'lost' "
    "WHEN e.t IS NULL AND a.t IS NOT NULL THEN 'gained' ELSE 'kept' END AS status "
    "FROM (SELECT DISTINCT p_type t FROM part WHERE p_size < 20) e "
    "FULL OUTER JOIN (SELECT DISTINCT p_type t FROM part WHERE p_retailprice > 1400) a "
    "ON e.t = a.t"
)


def q_first_seen(spark, sf_dir):
    """A8 — FirstTimeSeen carry-forward: first occurrence timestamp per
    issue identity (epoch seconds for engine-neutral compare)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy("user_id", "event_type").agg(
        F.unix_timestamp(F.min("ts")).alias("first_seen_epoch"),
        F.count(F.lit(1)).alias("n_seen"),
    )


SQL_first_seen = (
    "SELECT user_id, event_type, CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS first_seen_epoch, "
    "COUNT(*) AS n_seen FROM events GROUP BY user_id, event_type"
)


def q_endpoint_degree(spark, sf_dir):
    """A4 — coastline endpoint-degree connectivity check
    (CoastlineValidationTest.cs:16-116) over synthetic 'ways':
    way = lineitem row, first_node = l_partkey, last_node = l_suppkey.
    Nodes with nonzero degree are 'unconnected'."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    firsts = li.select(F.col("l_partkey").alias("node_id"), F.lit(1).alias("d"))
    lasts = li.select(F.col("l_suppkey").alias("node_id"), F.lit(-1).alias("d"))
    return (
        firsts.unionByName(lasts)
        .groupBy("node_id")
        .agg(F.sum("d").cast("long").alias("degree"))
        .where(F.col("degree") != 0)
    )


SQL_endpoint_degree = (
    "SELECT node_id, CAST(SUM(d) AS BIGINT) AS degree FROM ("
    "SELECT l_partkey AS node_id, 1 AS d FROM lineitem "
    "UNION ALL SELECT l_suppkey AS node_id, -1 AS d FROM lineitem) "
    "GROUP BY node_id HAVING CAST(SUM(d) AS BIGINT) <> 0"
)


def q_topk_per_group(spark, sf_dir):
    """O-family — top-3 orders by price per priority (window top-k)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "rn")
    )


SQL_topk_per_group = (
    "SELECT o_orderpriority, o_orderkey, rn FROM (SELECT o_orderpriority, o_orderkey, "
    "row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, "
    "o_orderkey ASC) rn FROM orders) WHERE rn <= 3"
)


def q_sessionize(spark, sf_dir):
    """Sessionization: gap > 1800 s starts a new session (lag + cumsum)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.lag(F.unix_timestamp("ts")).over(w)
    flagged = ev.withColumn(
        "new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    )
    return flagged.groupBy("user_id").agg(
        F.sum("new_sess").cast("long").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


SQL_sessionize = (
    "SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions, COUNT(*) AS n_events "
    "FROM (SELECT user_id, CASE WHEN prev_e IS NULL OR "
    "CAST(FLOOR(epoch(ts)) AS BIGINT) - prev_e > 1800 THEN 1 ELSE 0 END AS new_sess "
    "FROM (SELECT user_id, ts, lag(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id) prev_e FROM events)) GROUP BY user_id"
)


def q_issue_counts(spark, sf_dir):
    """A7 — counts per type (the issues dashboard aggregate)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


SQL_issue_counts = "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type"


def q_scalar_pipeline(spark, sf_dir):
    """C-family scalar functions: lpad / substring / concat_ws / CASE."""
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    return p.select(
        "p_partkey",
        F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("padded"),
        F.concat_ws("|", F.col("p_brand"), F.substring("p_type", 1, 5)).alias("brand_type"),
        F.when(F.col("p_size") < 10, "S").when(F.col("p_size") < 30, "M")
        .otherwise("L").alias("size_class"),
    )


SQL_scalar_pipeline = (
    "SELECT p_partkey, lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS padded, "
    "concat_ws('|', p_brand, substr(p_type, 1, 5)) AS brand_type, "
    "CASE WHEN p_size < 10 THEN 'S' WHEN p_size < 30 THEN 'M' ELSE 'L' END AS size_class "
    "FROM part"
)


# --- spatial over derived event points -------------------------------------

_CELL_RES = 6
_TILE_FINE = 8
_TILE_COARSE = 4


def q_cell_encode_counts(spark, sf_dir):
    """C15 — vectorized hierarchical cell encode + counts per cell."""
    return tile_counts(_events_geo(spark, sf_dir), _CELL_RES).withColumnRenamed(
        "tile", "cell"
    ).withColumnRenamed("n_images", "n")


SQL_cell_encode_counts = (
    f"SELECT {C.cell_sql('lon', 'lat', _CELL_RES)} AS cell, COUNT(*) AS n "
    f"FROM ({_GEO_SQL}) GROUP BY 1"
)


def q_tile_rollup_parent(spark, sf_dir):
    """Hierarchy invariant: counts at res 8 rolled up via parent-id bit
    arithmetic == direct encode at res 4 (the oracle computes the
    latter; match proves the hierarchy is sound cross-engine)."""
    fine = tile_counts(_events_geo(spark, sf_dir), _TILE_FINE)
    return tile_rollup(fine, steps=_TILE_FINE - _TILE_COARSE).withColumnRenamed(
        "parent_tile", "cell"
    ).withColumnRenamed("n_images", "n")


SQL_tile_rollup_parent = (
    f"SELECT {C.cell_sql('lon', 'lat', _TILE_COARSE)} AS cell, COUNT(*) AS n "
    f"FROM ({_GEO_SQL}) GROUP BY 1"
)


def q_pip_rect_join(spark, sf_dir):
    """J3 — the flagship PIP containment join (rect admin set)."""
    return pip_join(_events_geo(spark, sf_dir), _prep_rect()).select(
        "event_id", "polygon_id"
    )


SQL_pip_rect_join = (
    "SELECT event_id, polygon_id FROM (" + _rect_join_sql(_GEO_SQL) + ")"
)


def q_pip_rect_counts(spark, sf_dir):
    """A5/A9 — per-polygon feature counts off the PIP join."""
    return (
        pip_join(_events_geo(spark, sf_dir), _prep_rect())
        .groupBy("polygon_id")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


SQL_pip_rect_counts = (
    "SELECT polygon_id, COUNT(*) AS n_points FROM ("
    + _rect_join_sql(_GEO_SQL)
    + ") GROUP BY polygon_id"
)


def q_knn_events(spark, sf_dir):
    """J11 — exact cell-bucketed kNN join (probes: event_id % 200 = 0)."""
    geo = _events_geo(spark, sf_dir)
    probes = geo.where(F.col("event_id") % 200 == 0).withColumnRenamed(
        "event_id", "probe_id"
    )
    cands = geo.withColumnRenamed("event_id", "cand_id")
    return knn_join(probes, cands, k=3, res=_CELL_RES).select(
        "probe_id", "cand_id", "rank"
    )


SQL_knn_events = (
    "SELECT probe_id, cand_id, rank FROM ("
    "SELECT p.event_id AS probe_id, c.event_id AS cand_id, "
    "row_number() OVER (PARTITION BY p.event_id ORDER BY "
    "(p.lon - c.lon) * (p.lon - c.lon) + (p.lat - c.lat) * (p.lat - c.lat) ASC, "
    "c.event_id ASC) AS rank "
    f"FROM ({_GEO_SQL}) p JOIN ({_GEO_SQL}) c ON p.event_id <> c.event_id "
    "WHERE p.event_id % 200 = 0) WHERE rank <= 3"
)


def q_knn_haversine(spark, sf_dir):
    """J11 (metric=haversine) — the exact kNN ladder under great-circle
    metres, probed where it diverges hardest from planar degrees: high
    latitude (|lat| > 60°), where a degree of longitude is under half a
    degree-of-latitude's metres and planar ranking misorders east-west
    vs north-south neighbors. The oracle is a brute-force DuckDB twin
    using the identical haversine expression (``knn.haversine_sql``).
    Identical op order does NOT guarantee bit-equality of sin/asin
    across JVM and DuckDB libm (each ≤1 ulp but not the same bits), so
    the twin drops the distance column and relies on ranks — a rank
    flip would need two candidate distances within ~1 ulp of each
    other for the same probe, which the synthetic uniform geotags make
    astronomically unlikely (and stable across every recorded sweep);
    the planar metric stays the bit-exact default."""
    from ..operators.knn import knn_join

    geo = _events_geo(spark, sf_dir)
    probes = (
        geo.where((F.col("event_id") % 150 == 0) & (F.abs(F.col("lat")) > 60.0))
        .withColumnRenamed("event_id", "probe_id")
    )
    cands = geo.withColumnRenamed("event_id", "cand_id")
    return knn_join(probes, cands, k=3, res=_CELL_RES,
                    metric="haversine").select("probe_id", "cand_id", "rank")


def _sql_knn_haversine() -> str:
    from ..operators.knn import haversine_sql

    d = haversine_sql("p.lon", "p.lat", "c.lon", "c.lat")
    return (
        "SELECT probe_id, cand_id, rank FROM ("
        "SELECT p.event_id AS probe_id, c.event_id AS cand_id, "
        f"row_number() OVER (PARTITION BY p.event_id ORDER BY {d} ASC, "
        "c.event_id ASC) AS rank "
        f"FROM ({_GEO_SQL}) p JOIN ({_GEO_SQL}) c ON p.event_id <> c.event_id "
        "WHERE p.event_id % 150 = 0 AND ABS(p.lat) > 60.0) WHERE rank <= 3"
    )


def q_coverage_observed(spark, sf_dir):
    """A9 — raster-tile ↔ vector-polygon coverage aggregation."""
    geo = _events_geo(spark, sf_dir)
    return observed_coverage(geo, _prep_rect(), tile_res=_TILE_COARSE,
                             fine_res=_TILE_FINE).withColumnRenamed(
        "n_images", "n_points"
    )


SQL_coverage_observed = (
    f"SELECT {C.cell_sql('lon', 'lat', _TILE_COARSE)} AS tile, polygon_id, "
    f"COUNT(*) AS n_points, "
    f"COUNT(DISTINCT {C.cell_sql('lon', 'lat', _TILE_FINE)}) AS n_occupied_cells "
    "FROM (" + _rect_join_sql(_GEO_SQL) + ") GROUP BY 1, 2"
)


# --- training-data ops over documents/embeddings ---------------------------


def q_dedup_exact(spark, sf_dir):
    """Exact dedup groups (composite key lang:n_chars to get real groups)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    keyed = d.withColumn(
        "k", F.concat(F.col("lang"), F.lit(":"), F.col("n_chars").cast("string"))
    )
    return D.exact_dedup(keyed, "k", "doc_id")


SQL_dedup_exact = (
    "SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies FROM documents "
    "GROUP BY lang || ':' || CAST(n_chars AS VARCHAR)"
)


def q_token_quality(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return TX.with_quality(d).withColumn(
        "n_bpe_tokens", TX.bpe_token_count(F.col("text"))
    ).select(
        "doc_id", "n_tokens", "n_bpe_tokens", "avg_token_len",
        "stopword_hits", "quality_ok"
    )


def _sql_token_quality():
    q = TX.quality_sql("text")
    return (
        f"SELECT doc_id, {q['n_tokens']} AS n_tokens, "
        f"{TX.bpe_token_count_sql('text')} AS n_bpe_tokens, "
        f"{q['avg_token_len']} AS avg_token_len, "
        f"{q['stopword_hits']} AS stopword_hits, {q['quality_ok']} AS quality_ok FROM documents"
    )


def q_lang_guess(spark, sf_dir):
    """n-gram naive-Bayes language ID: trains the quantized trigram
    profile on the labeled corpus (distributed count, dim-sized
    collect) and scores every document natively."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    model = TX.train_lang_ngrams(d)
    return TX.lang_ngram_guess(d, model).select("doc_id", "lang_guess")


SQL_lang_guess = TX.lang_ngram_sql()


def q_lm_score(spark, sf_dir):
    """CCNet-style perplexity-filter score: mean quantized n-gram
    log-prob under the corpus trigram LM (higher = more typical)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    model = TX.train_lang_ngrams(d)
    return TX.lm_score(d, model)


SQL_lm_score = TX.lm_score_sql()


def q_corpus_profile(spark, sf_dir):
    """Corpus stats profile per language: doc counts, total chars,
    exact LOWER median of n_chars (row_number pick - deterministic
    integer semantics, no interpolation float risk), distinct
    sources. The at-a-glance dashboard of a corpus recipe."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = Window.partitionBy("lang").orderBy(F.col("n_chars").asc(),
                                           F.col("doc_id").asc())
    ranked = d.withColumn("_rn", F.row_number().over(w))
    med = (
        ranked.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .join(ranked, "lang")
        .where(F.col("_rn") == F.floor((F.col("n_docs") + 1) / 2))
        .select("lang", F.col("n_chars").alias("median_chars"))
    )
    base = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.countDistinct("source").alias("n_sources"),
    )
    return base.join(med, "lang").select(
        "lang", "n_docs", "sum_chars", "median_chars", "n_sources")


SQL_corpus_profile = (
    "WITH ranked AS (SELECT lang, doc_id, n_chars, row_number() OVER ("
    "PARTITION BY lang ORDER BY n_chars ASC, doc_id ASC) AS rn FROM documents), "
    "med AS (SELECT r.lang, r.n_chars AS median_chars FROM ranked r JOIN "
    "(SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1) c ON c.lang = r.lang "
    "WHERE r.rn = CAST(FLOOR((c.n + 1) / 2) AS BIGINT)) "
    "SELECT d.lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars, "
    "ANY_VALUE(m.median_chars) AS median_chars, "
    "COUNT(DISTINCT source) AS n_sources "
    "FROM documents d JOIN med m ON m.lang = d.lang GROUP BY d.lang"
)


def q_repetition(spark, sf_dir):
    """Gopher-style repetition quality signals (distinct-token and
    top-token fractions, integer per-mille)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return TX.with_repetition(d)


SQL_repetition = TX.repetition_sql()


def q_fingerprint(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return TX.with_fingerprint(d).select("doc_id", "fingerprint")


SQL_fingerprint = "SELECT doc_id, md5(text) AS fingerprint FROM documents"


def q_pii_scrub(spark, sf_dir):
    """PII redaction pass: the synthetic corpus carries no PII, so
    deterministic emails/IPs/phone numbers derived from doc_id are
    injected first (the identical expression appears in the SQL twin),
    then scrubbed with the native regexp pipeline; output is per-doc
    counts + an md5 of the scrubbed text (pins every replaced byte)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    injected = d.withColumn(
        "text",
        F.concat(
            F.col("text"), F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.org from 10."),
            (F.col("doc_id") % 200).cast("string"), F.lit(".0."),
            (F.col("doc_id") % 250).cast("string"), F.lit(" tel 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    )
    return TX.pii_scrub(injected).select(
        "doc_id", "n_email", "n_ipv4", "n_phone",
        F.length("text").cast("long").alias("len_scrubbed"),
        F.md5(F.col("text")).alias("scrub_md5"),
    )


def _sql_pii_scrub():
    inject = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR) || "
        "'@example.org from 10.' || CAST(doc_id % 200 AS VARCHAR) || "
        "'.0.' || CAST(doc_id % 250 AS VARCHAR) || ' tel 555-' || "
        "lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || "
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    )
    inner = TX.pii_scrub_sql(
        table=f"(SELECT doc_id, {inject} AS text FROM documents)")
    return (
        "SELECT doc_id, n_email, n_ipv4, n_phone, "
        "CAST(length(text) AS BIGINT) AS len_scrubbed, "
        f"md5(text) AS scrub_md5 FROM ({inner})"
    )


_BOILER = "the quick brown fox jumps over the lazy dog near the river"


def q_dedup_substrings(spark, sf_dir):
    """Exact duplicated-substring spans (Lee et al. 2022 ExactSubstr):
    the synthetic corpus is random text, so a shared 12-token
    boilerplate sentence is first appended to docs with
    doc_id % 7 < 2 (identical expression in the SQL twin) — those
    docs then carry a cross-corpus duplicated span; any coincidental
    in-corpus 8-gram repeats are reported identically by both
    engines."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    injected = d.withColumn(
        "text",
        F.when(F.col("doc_id") % 7 < 2,
               F.concat(F.col("text"), F.lit(" " + _BOILER)))
        .otherwise(F.col("text")),
    )
    return D.substring_dup_spans(injected, "doc_id", "text", n=8)


def _sql_dedup_substrings():
    inject = (
        "SELECT doc_id, CASE WHEN doc_id % 7 < 2 THEN text || ' " + _BOILER
        + "' ELSE text END AS text FROM documents"
    )
    return D.substring_dup_spans_sql(f"({inject})", "doc_id", "text", n=8)


def q_substring_cut(spark, sf_dir):
    """ExactSubstr cut applied: the boilerplate-injected corpus comes
    back with every duplicated span removed (kept/dropped token counts
    attached) — the policy output of q:dedup_substrings' signal."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    injected = d.withColumn(
        "text",
        F.when(F.col("doc_id") % 7 < 2,
               F.concat(F.col("text"), F.lit(" " + _BOILER)))
        .otherwise(F.col("text")),
    )
    return D.substring_dedup_cut(injected, "doc_id", "text", n=8)


def _sql_substring_cut():
    inject = (
        "SELECT doc_id, CASE WHEN doc_id % 7 < 2 THEN text || ' " + _BOILER
        + "' ELSE text END AS text FROM documents"
    )
    return D.substring_dedup_cut_sql(f"({inject})", "doc_id", "text", n=8)


def q_epoch_shard(spark, sf_dir):
    """Per-epoch deterministic global shuffle into training shards:
    every doc gets a (shard, pos) that is a pure function of
    (epoch, doc_id) — resumable, rebuildable per shard."""
    from ..operators.sampling import epoch_shard

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return epoch_shard(d, epoch=3, n_shards=8)


def _sql_epoch_shard():
    from ..operators.sampling import epoch_shard_sql

    return epoch_shard_sql("documents", epoch=3, n_shards=8)


def q_ngram_topk(spark, sf_dir):
    """Corpus-level top-k token bigrams with per-gram doc and
    occurrence counts — the vocabulary-statistics pass a tokenizer
    build (BPE seed merges, stop-phrase discovery) starts from.
    Reference analog: the per-admin feature-count aggregations
    (AdminCountPerCountryAnalyzer) re-aimed at corpus vocabulary."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return TX.ngram_topk(d, n=2, k=100)


def _sql_ngram_topk():
    return TX.ngram_topk_sql("documents", n=2, k=100)


def q_source_filter(spark, sf_dir):
    """Domain-level quality gate: keep docs whose source's mean length
    clears the bar (FineWeb-style judge-the-domain filtering)."""
    from ..operators.sampling import source_quality_filter

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return source_quality_filter(d, min_mean_chars=300.0)


def _sql_source_filter():
    from ..operators.sampling import source_quality_filter_sql

    return source_quality_filter_sql("documents", min_mean_chars=300.0)


def q_jaccard_topk(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return D.jaccard_topk(d, "doc_id", k=20)


def _sql_jaccard_topk(max_df: int = 10_000):
    # `cold` mirrors the engine's hot-shingle cap (dedup.jaccard_topk
    # max_df): shingles with document frequency > max_df are dropped
    # from the pair join only — sizes keep the full shingle sets —
    # so the twin stays exact at every scale (ADVICE r02).
    sh = D.shingles_sql("documents", "doc_id")
    return (
        f"WITH sh AS ({sh}), sizes AS (SELECT doc_id, COUNT(*) n_sh FROM sh GROUP BY 1), "
        f"cold AS (SELECT * FROM sh WHERE shingle NOT IN "
        f"(SELECT shingle FROM sh GROUP BY 1 HAVING COUNT(*) > {max_df})), "
        "shared AS (SELECT a.doc_id id_a, b.doc_id id_b, COUNT(*) shared FROM cold a "
        "JOIN cold b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2) "
        "SELECT id_a, id_b, shared, CAST(FLOOR(100 * shared / "
        "(na.n_sh + nb.n_sh - shared)) AS BIGINT) AS jaccard_pct "
        "FROM shared JOIN sizes na ON na.doc_id = id_a JOIN sizes nb ON nb.doc_id = id_b "
        "ORDER BY jaccard_pct DESC, shared DESC, id_a ASC, id_b ASC LIMIT 20"
    )


def q_minhash_pairs(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return D.minhash_lsh_pairs(d, "doc_id", bands=8)


def _sql_minhash_pairs():
    sh = D.shingles_sql("documents", "doc_id")
    return (
        f"WITH sh AS ({sh}), "
        "sig AS (SELECT doc_id, band, MIN(md5(CAST(band AS VARCHAR) || ':' || shingle)) min_h "
        "FROM sh, UNNEST(generate_series(0, 7)) AS bt(band) GROUP BY doc_id, band), "
        "sized AS (SELECT *, COUNT(*) OVER (PARTITION BY band, min_h) bucket_n FROM sig) "
        "SELECT a.doc_id id_a, b.doc_id id_b, COUNT(*) n_shared_bands "
        "FROM sized a JOIN sized b ON a.band = b.band AND a.min_h = b.min_h "
        "AND a.doc_id < b.doc_id WHERE a.bucket_n <= 1000 AND b.bucket_n <= 1000 "
        "GROUP BY 1, 2"
    )


def q_dedup_clusters(spark, sf_dir):
    """Transitive dedup clustering: connected components over the
    minhash candidate pairs; singletons are their own keeper."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = D.minhash_lsh_pairs(d, "doc_id", bands=8)
    return D.dedup_clusters(pairs, all_ids=d, id_col="doc_id")


def _sql_dedup_clusters():
    return D.dedup_clusters_sql(
        _sql_minhash_pairs(), id_col="doc_id",
        all_ids_sql="SELECT doc_id FROM documents",
    )


def q_stratified_sample(spark, sf_dir):
    """Deterministic mixing-weight sample of documents by language."""
    from ..operators.sampling import stratified_sample

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return stratified_sample(
        d, "lang", _MIX_FRACTIONS, "doc_id", default=_MIX_DEFAULT
    ).select("doc_id", "lang")


_MIX_FRACTIONS = {"en": 0.5, "de": 1.0, "zh": 0.25}
_MIX_DEFAULT = 0.1


def _sql_stratified_sample():
    from ..operators.sampling import stratified_sample_sql

    return stratified_sample_sql(
        "documents", "lang", _MIX_FRACTIONS, "doc_id", default=_MIX_DEFAULT,
        select="doc_id, lang",
    )


def q_pack_sequences(spark, sf_dir):
    """Concat-and-chunk packing plan for 512-token training windows."""
    from ..operators.sampling import pack_sequences

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pack_sequences(
        d.withColumn("_nt", TX.token_count(F.col("text"))),
        "doc_id", "_nt", max_tokens=512, n_shards=8,
    )


def _sql_pack_sequences():
    from ..operators.sampling import pack_sequences_sql

    return pack_sequences_sql(
        "documents", "doc_id", TX.token_count_sql("text"),
        max_tokens=512, n_shards=8,
    )


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination, near-clone rule: training docs whose
    winnow-fingerprint overlap with the held-out benchmark split is
    ≥ 90% of their own fingerprints are dropped (the generator's tiny
    shared vocab makes absolute-count rules degenerate — every doc
    shares a few fingerprints — so the registered query demonstrates
    the ratio rule; the absolute GPT-3-style rule is unit-tested)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    train = d.where(F.col("doc_id") % 20 != 7)
    bench = d.where(F.col("doc_id") % 20 == 7)
    return D.decontaminate(
        train, bench, min_shared=1, min_shared_frac=0.9
    ).select("doc_id", "lang")


def _sql_decontaminate():
    return D.decontaminate_sql(
        "(SELECT * FROM documents WHERE doc_id % 20 <> 7)",
        "SELECT * FROM documents WHERE doc_id % 20 = 7",
        min_shared=1, min_shared_frac=0.9,
        select="doc_id, lang",
    )


def q_corpus_build(spark, sf_dir):
    """The full corpus-build pipeline chained as ONE plan (VERDICT r3
    #7): minhash candidate pairs → transitive dedup clusters → keep one
    representative per cluster → benchmark decontamination → stratified
    language mixing → sequence packing. Output is the packing plan
    (doc_id, shard, bin_id, offset, n_tokens) — the artifact a training
    job consumes. Proves the LLM-pipeline operators compose (shared
    lineage, no cache leaking between stages), not just pass alone:
    the SQL twin recomputes the same chain end-to-end in DuckDB."""
    from ..operators.sampling import pack_sequences, stratified_sample

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # near-dup EDGES need a real match (≥ half the bands agree): the
    # generator's tiny shared vocab means 1-of-8 band collisions chain
    # 98% of the corpus into a handful of clusters — a degenerate
    # dedup that would empty the pipeline, not clean it
    pairs = D.minhash_lsh_pairs(d, "doc_id", bands=8).where(
        F.col("n_shared_bands") >= 4
    )
    clusters = D.dedup_clusters(pairs, all_ids=d, id_col="doc_id")
    keepers = clusters.where(F.col("doc_id") == F.col("keeper_id")).select("doc_id")
    deduped = d.join(keepers, "doc_id", "left_semi")
    train = deduped.where(F.col("doc_id") % 20 != 7)
    bench = d.where(F.col("doc_id") % 20 == 7)
    clean = D.decontaminate(train, bench, min_shared=1, min_shared_frac=0.9)
    sampled = stratified_sample(clean, "lang", _MIX_FRACTIONS, "doc_id",
                                default=_MIX_DEFAULT)
    return pack_sequences(
        sampled.withColumn("_nt", TX.token_count(F.col("text"))),
        "doc_id", "_nt", max_tokens=512, n_shards=8,
    )


def _sql_corpus_build() -> str:
    from ..operators.sampling import pack_sequences_sql, stratified_sample_sql

    strong_pairs = (f"SELECT * FROM ({_sql_minhash_pairs()}) "
                    "WHERE n_shared_bands >= 4")
    clusters = D.dedup_clusters_sql(
        strong_pairs, id_col="doc_id",
        all_ids_sql="SELECT doc_id FROM documents",
    )
    keepers = f"(SELECT doc_id FROM ({clusters}) WHERE doc_id = keeper_id)"
    dedup = f"(SELECT d.* FROM documents d JOIN {keepers} k USING (doc_id))"
    train = f"(SELECT * FROM {dedup} WHERE doc_id % 20 <> 7)"
    clean = D.decontaminate_sql(
        train, "SELECT * FROM documents WHERE doc_id % 20 = 7",
        min_shared=1, min_shared_frac=0.9, select="*",
    )
    sampled = stratified_sample_sql(
        f"({clean})", "lang", _MIX_FRACTIONS, "doc_id",
        default=_MIX_DEFAULT, select="*",
    )
    return pack_sequences_sql(
        f"({sampled})", "doc_id", TX.token_count_sql("text"),
        max_tokens=512, n_shards=8,
    )


def q_simhash_groups(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return D.simhash_dup_groups(d, "doc_id")


def _sql_simhash_groups():
    sh = D.shingles_sql("documents", "doc_id", size=6, stride=8)
    sums = ", ".join(
        f"SUM(CASE WHEN substr(md5(shingle), {j + 1}, 1) IN "
        f"('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END) AS s{j}"
        for j in range(16)
    )
    bits = " + ".join(f"CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(16))
    return (
        f"WITH sh AS ({sh}), agg AS (SELECT doc_id, {sums} FROM sh GROUP BY doc_id), "
        f"sim AS (SELECT doc_id, CAST({bits} AS BIGINT) AS simhash16 FROM agg) "
        "SELECT simhash16, COUNT(*) AS n_docs, MIN(doc_id) AS min_id FROM sim "
        "GROUP BY simhash16 HAVING COUNT(*) > 1"
    )


_EMB_DIMS = 64


def q_cosine_topk(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return S.cosine_topk_brute(e, F.col("vec_id") % 50 == 0, k=5)


SQL_cosine_topk = (
    "SELECT probe_id, neighbor_id, rank FROM ("
    "SELECT p.vec_id probe_id, c.vec_id neighbor_id, row_number() OVER ("
    "PARTITION BY p.vec_id ORDER BY list_cosine_similarity(p.embedding, c.embedding) DESC, "
    "c.vec_id ASC) rank FROM embeddings p JOIN embeddings c ON p.vec_id <> c.vec_id "
    "WHERE p.vec_id % 50 = 0) WHERE rank <= 5"
)


def q_lsh_histogram(spark, sf_dir):
    """ANN bucketing parity: LSH bucket histogram."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return (
        e.withColumn("bucket", S.lsh_buckets_udf(_EMB_DIMS, S.N_PLANES, 1)(
            F.col("embedding"))[0])
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )


def _sql_lsh_histogram():
    return (
        f"SELECT {S.lsh_bucket_sql('embedding', _EMB_DIMS)} AS bucket, COUNT(*) AS n_vecs "
        "FROM embeddings GROUP BY 1"
    )


def q_ann_lsh_topk(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return S.lsh_topk(e, F.col("vec_id") % 50 == 0, k=5, dims=_EMB_DIMS)


def _sql_ann_lsh_topk():
    b = S.lsh_bucket_sql("embedding", _EMB_DIMS)
    return (
        f"WITH bk AS (SELECT vec_id, embedding, {b} AS bkt FROM embeddings) "
        "SELECT probe_id, neighbor_id, rank FROM ("
        "SELECT p.vec_id probe_id, c.vec_id neighbor_id, row_number() OVER ("
        "PARTITION BY p.vec_id ORDER BY list_cosine_similarity(p.embedding, c.embedding) DESC, "
        "c.vec_id ASC) rank FROM bk p JOIN bk c ON p.bkt = c.bkt AND p.vec_id <> c.vec_id "
        "WHERE p.vec_id % 50 = 0) WHERE rank <= 5"
    )


# --- skew: adaptive cell split ----------------------------------------------

_SKEW_BASE, _SKEW_MAX, _SKEW_CAP = 4, 8, 300


def _events_geo_city(spark, sf_dir):
    """Derived points with a planted dense city (event_id % 4 == 0 →
    ~0.1° box at (7, 45)) — deterministic, SQL-reproducible skew."""
    geo = _events_geo(spark, sf_dir)
    city = F.col("event_id") % 4 == 0
    return geo.select(
        "event_id",
        F.when(city, F.lit(7.0) + (F.col("event_id") % 1000).cast("double") * F.lit(1e-4))
        .otherwise(F.col("lon")).alias("lon"),
        F.when(city, F.lit(45.0) + ((F.col("event_id") * 7) % 1000).cast("double") * F.lit(1e-4))
        .otherwise(F.col("lat")).alias("lat"),
    )


_GEO_CITY_SQL = (
    "SELECT event_id, "
    "CASE WHEN event_id % 4 = 0 THEN 7.0 + CAST(event_id % 1000 AS DOUBLE) * 0.0001 "
    "ELSE lon END AS lon, "
    "CASE WHEN event_id % 4 = 0 THEN 45.0 + CAST((event_id * 7) % 1000 AS DOUBLE) * 0.0001 "
    "ELSE lat END AS lat "
    f"FROM ({_GEO_SQL})"
)


def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing (MOSS) rolling-hash document fingerprints: per-doc
    distinct window-min k-gram hashes. The oracle re-derives the full
    scheme (gram explode → ordered window min → select) in SQL."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        D.winnow_fingerprints(d, "doc_id", k=8, w=16)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_fingerprints"),
             F.min("fingerprint").alias("min_fp"),
             F.max("fingerprint").alias("max_fp"))
    )


def _sql_winnow_fingerprints():
    return (
        "SELECT doc_id, COUNT(*) AS n_fingerprints, "
        "MIN(fingerprint) AS min_fp, MAX(fingerprint) AS max_fp FROM ("
        + D.winnow_sql("documents", "doc_id", k=8, w=16)
        + ") GROUP BY doc_id"
    )


_PH_K1 = 2654435761          # Knuth multiplicative, fills bits ~32..48
_PH_M1 = 1 << 62
_PH_K2 = 40503
_PH_SHIFT = 1 << 41          # low 21 bits of the K2 mix lifted to bits 41..61
_PH_FLIP = (1 << 59) | (1 << 5)   # 2-bit flip → planted hamming-2 pairs


def q_phash_near_dup(spark, sf_dir):
    """Image near-dup pairs by perceptual-hash Hamming distance
    (``dedup.phash_near_dup_pairs`` — banded pigeonhole equi-join, no
    O(n²) pass). Corpus: an events-derived 62-bit phash stand-in (two
    xored multiplicative mixes so every 8-bit band varies — a hash
    leaving high bands constant would silently degrade the band join
    to all-pairs), plus a hamming-2 variant planted for every 10th
    image. The DuckDB twin is the BRUTE-FORCE all-pairs scan — an
    independent algorithm, equal output exactly because pigeonhole
    (max_hamming=7 ≤ bands-1) makes the banded join lossless."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    ph = (
        ((F.col("event_id") * _PH_K1) % _PH_M1)
        .bitwiseXOR(((F.col("event_id") * _PH_K2) % (1 << 21)) * _PH_SHIFT)
    )
    base = e.select(F.col("event_id").alias("img_id"), ph.alias("phash"))
    variants = (
        base.where(F.col("img_id") % 10 == 0)
        .select((F.col("img_id") + 1000000).alias("img_id"),
                F.col("phash").bitwiseXOR(F.lit(_PH_FLIP)).alias("phash"))
    )
    corpus = base.unionAll(variants)
    return D.phash_near_dup_pairs(corpus, "img_id", "phash",
                                  max_hamming=7, bands=8)


def _sql_phash_near_dup():
    return f"""
WITH base AS (
  SELECT event_id AS img_id,
         xor((event_id * {_PH_K1}) % {_PH_M1},
             ((event_id * {_PH_K2}) % {1 << 21}) * {_PH_SHIFT}) AS phash
  FROM events),
var AS (
  SELECT img_id + 1000000 AS img_id, xor(phash, {_PH_FLIP}) AS phash
  FROM base WHERE img_id % 10 = 0),
c AS (SELECT * FROM base UNION ALL SELECT * FROM var)
SELECT a.img_id AS id_a, b.img_id AS id_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
FROM c a JOIN c b ON a.img_id < b.img_id
WHERE bit_count(xor(a.phash, b.phash)) <= 7
""".strip()


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs through the MULTI-TABLE LSH path
    (2 tables — the 10^12-row shape): the oracle re-derives both bucket
    tables, unions candidates, and scores with its own cosine. The
    synthetic embeddings table has no true near-dups (max pairwise
    cosine ≈ 0.51), so the threshold sits at 35% to produce a
    non-trivial result set; the nearest pair is 3.6e-4 from the
    boundary — 11 orders of magnitude above cross-engine float noise."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return S.embedding_near_dup_pairs(e, dims=_EMB_DIMS, threshold_pct=35,
                                      tables=2)


def _sql_embedding_near_dup():
    b0 = S.lsh_bucket_sql("embedding", _EMB_DIMS)
    b1 = S.lsh_bucket_sql("embedding", _EMB_DIMS, offset=S.N_PLANES)
    return (
        "WITH b AS ("
        f"SELECT vec_id, 0 AS tbl, {b0} AS bkt FROM embeddings "
        f"UNION ALL SELECT vec_id, 1, {b1} FROM embeddings), "
        "pairs AS (SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b "
        "FROM b a JOIN b c ON a.tbl = c.tbl AND a.bkt = c.bkt "
        "AND a.vec_id < c.vec_id) "
        "SELECT id_a, id_b FROM pairs "
        "JOIN embeddings ea ON ea.vec_id = id_a "
        "JOIN embeddings eb ON eb.vec_id = id_b "
        "WHERE list_cosine_similarity(ea.embedding, eb.embedding) >= 0.35"
    )


def q_adaptive_cell_split(spark, sf_dir):
    """North-rule skew handling: stats pass finds hot cells; their rows
    re-encode at finer resolutions until under the cap (or max_res).
    Output: per adaptive cell the row count."""
    from ..operators.skew import adaptive_cells

    pts = _events_geo_city(spark, sf_dir)
    out = adaptive_cells(pts, base_res=_SKEW_BASE,
                         max_rows_per_cell=_SKEW_CAP, max_res=_SKEW_MAX)
    return out.groupBy(F.col("acell")).agg(F.count(F.lit(1)).alias("n"))


def _sql_adaptive_cell_split():
    cells = ", ".join(
        f"{C.cell_sql('lon', 'lat', r)} AS c{r}"
        for r in range(_SKEW_BASE, _SKEW_MAX + 1)
    )
    hots = []
    for r in range(_SKEW_BASE, _SKEW_MAX):
        parent_filter = (
            f" WHERE c{r - 1} IN (SELECT c{r - 1} FROM h{r - 1})"
            if r > _SKEW_BASE else ""
        )
        hots.append(
            f"h{r} AS (SELECT c{r}, ANY_VALUE(c{r - 1}) AS c{r - 1} FROM pts"
            f"{parent_filter} GROUP BY c{r} HAVING COUNT(*) > {_SKEW_CAP})"
            if r > _SKEW_BASE else
            f"h{r} AS (SELECT c{r} FROM pts GROUP BY c{r} HAVING COUNT(*) > {_SKEW_CAP})"
        )
    case = "CASE "
    for r in range(_SKEW_BASE, _SKEW_MAX):
        case += f"WHEN c{r} NOT IN (SELECT c{r} FROM h{r}) THEN c{r} "
    case += f"ELSE c{_SKEW_MAX} END"
    return (
        f"WITH pts AS (SELECT {cells} FROM ({_GEO_CITY_SQL})), "
        + ", ".join(hots)
        + f" SELECT {case} AS acell, COUNT(*) AS n FROM pts GROUP BY 1"
    )


# --- validator layer --------------------------------------------------------


def q_cdc_merge(spark, sf_dir):
    """ST2/ST3 — changeset compaction + MERGE apply, derived from
    events (op from event_type, version from event_id) onto a
    lineitem-derived snapshot. Engine path: streaming/cdc.py."""
    from ..streaming import cdc

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    changes = ev.select(
        F.when(F.col("event_type") == "view", "C")
        .when(F.col("event_type") == "error", "D")
        .otherwise("M").alias("op"),
        F.lit("entity").alias("entity_type"),
        (F.col("event_id") % 500).alias("id"),
        F.col("event_id").cast("int").alias("version"),
        F.struct(
            (F.col("event_id") % 500).alias("id"),
            F.round("value", 4).alias("val"),
        ).alias("payload"),
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    snapshot = (
        li.groupBy((F.col("l_orderkey") % 500).alias("id"))
        .agg(F.round(F.sum("l_quantity"), 2).alias("val"))
    )
    return cdc.apply_changeset(snapshot, cdc.compact_changeset(changes))


SQL_cdc_merge = (
    "WITH changes AS (SELECT CASE WHEN event_type = 'view' THEN 'C' "
    "WHEN event_type = 'error' THEN 'D' ELSE 'M' END AS op, "
    "event_id % 500 AS id, event_id AS version, ROUND(value, 4) AS val FROM events), "
    "compacted AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY id "
    "ORDER BY version DESC, CASE op WHEN 'D' THEN 3 WHEN 'M' THEN 2 ELSE 1 END DESC) rn "
    "FROM changes) WHERE rn = 1), "
    "snapshot AS (SELECT l_orderkey % 500 AS id, ROUND(SUM(l_quantity), 2) AS val "
    "FROM lineitem GROUP BY 1) "
    "SELECT id, val FROM snapshot WHERE id NOT IN (SELECT id FROM compacted) "
    "UNION ALL SELECT id, val FROM compacted WHERE op <> 'D'"
)


def q_admin_diff(spark, sf_dir):
    """T1 — expected-vs-actual diff issues (lost/gained/missing) over
    part-derived synthetic admin sets. Engine path: operators/issues."""
    from ..operators.issues import admin_diff_issues

    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    expected = p.where(F.col("p_size") < 25).select(
        (F.col("p_partkey") % 4).alias("country_id"),
        F.concat(F.lit("C"), (F.col("p_partkey") % 4).cast("string")).alias("country_name"),
        (F.col("p_size") % 3 + 4).alias("admin_level"),
        F.col("p_partkey").alias("admin_id"),
    )
    actual = p.where(F.col("p_retailprice") > 1000).select(
        (F.col("p_partkey") % 4).alias("country_id"),
        (F.col("p_size") % 3 + 4).alias("admin_level"),
        F.col("p_partkey").alias("admin_id"),
    )
    return admin_diff_issues(expected, actual)


SQL_admin_diff = (
    "WITH e AS (SELECT p_partkey % 4 AS country_id, 'C' || CAST(p_partkey % 4 AS VARCHAR) "
    "AS country_name, p_size % 3 + 4 AS admin_level, p_partkey AS admin_id FROM part "
    "WHERE p_size < 25), "
    "a AS (SELECT p_partkey % 4 AS country_id, p_size % 3 + 4 AS admin_level, "
    "p_partkey AS admin_id FROM part WHERE p_retailprice > 1000) "
    "SELECT 'LostAdmin' || CAST(e.admin_level AS VARCHAR) AS issue_type, 'R' AS osm_type, "
    "CAST(e.admin_id AS BIGINT) AS osm_id, 'Lost admin in ' || e.country_name || "
    "' level ' || CAST(e.admin_level AS VARCHAR) AS details "
    "FROM e LEFT JOIN a ON e.country_id = a.country_id AND e.admin_level = a.admin_level "
    "AND e.admin_id = a.admin_id WHERE a.admin_id IS NULL "
    "UNION ALL "
    "SELECT 'GainedAdmin' || CAST(a.admin_level AS VARCHAR), 'R', "
    "CAST(a.admin_id AS BIGINT), 'Gained admin, country ' || "
    "CAST(a.country_id AS VARCHAR) || ' level ' || CAST(a.admin_level AS VARCHAR) "
    "FROM a LEFT JOIN e ON e.country_id = a.country_id AND e.admin_level = a.admin_level "
    "AND e.admin_id = a.admin_id WHERE e.admin_id IS NULL "
    "UNION ALL "
    "SELECT 'MissingCountry', 'R', CAST(country_id AS BIGINT), 'Missing ' || country_name "
    "FROM (SELECT DISTINCT country_id, country_name FROM e) ec "
    "WHERE country_id NOT IN (SELECT DISTINCT country_id FROM a)"
)


def q_important_features(spark, sf_dir):
    """U3/C7/C8 — expected-tag validation: curated spec dimension
    (broadcast) ⋈ entities; wrong/missing values → issues with the
    reference's \"'a', 'b', or 'c'\" detail formatting."""
    from ..operators.important_features import important_feature_issues

    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    entities = p.where(F.col("p_partkey") % 50 == 0).select(
        F.lit("P").alias("osm_type"),
        F.col("p_partkey").alias("osm_id"),
        F.create_map(
            F.lit("brand"), F.col("p_brand"), F.lit("type"), F.col("p_type")
        ).alias("tags"),
    )
    specs = entities.select("osm_type", "osm_id").distinct().select(
        "osm_type", "osm_id",
        F.explode(
            F.array(
                F.struct(F.lit("brand").alias("tag"),
                         F.array(F.lit("Brand#1"), F.lit("Brand#13"),
                                 F.lit("Brand#25")).alias("allowed")),
                F.struct(F.lit("type").alias("tag"),
                         F.array(F.lit("ECONOMY"), F.lit("PROMO")).alias("allowed")),
            )
        ).alias("s"),
    ).select("osm_type", "osm_id", "s.tag", "s.allowed")
    return important_feature_issues(entities, specs)


SQL_important_features = (
    "WITH e AS (SELECT p_partkey AS osm_id, p_brand, p_type FROM part "
    "WHERE p_partkey % 50 = 0) "
    "SELECT 'ImportantFeature' AS issue_type, 'P' AS osm_type, "
    "CAST(osm_id AS BIGINT) AS osm_id, "
    "'Tag ''brand'' is ''' || p_brand || ''', expected ''Brand#1'', ''Brand#13'', "
    "or ''Brand#25''' AS details FROM e "
    "WHERE p_brand NOT IN ('Brand#1', 'Brand#13', 'Brand#25') "
    "UNION ALL "
    "SELECT 'ImportantFeature', 'P', CAST(osm_id AS BIGINT), "
    "'Tag ''type'' is ''' || p_type || ''', expected ''ECONOMY'' or ''PROMO''' "
    "FROM e WHERE p_type NOT IN ('ECONOMY', 'PROMO')"
)


def q_polygon_assembly(spark, sf_dir):
    """A1/A2/U2 — ring assembly over the shared taxonomy corpus
    (``plans/assembly_fixture.py``). The DuckDB twin re-derives every
    failure reason and the success-ring statistics from scratch
    (degree parity, segment-orientation arithmetic, recursive-CTE
    components) — the stitcher is pinned by an independent engine."""
    from ..operators.assembly import assemble_polygons

    n, w, r = AF.spark_frames(spark)
    out = assemble_polygons(r, w, n)
    return out.select("relation_id", "reason", "n_rings", "n_pts")


def q_coastline_issues(spark, sf_dir):
    """A4/C9/C10/J5 — coastline validators over the shared corpus
    (``plans/coastline_fixture.py``). The DuckDB twin re-derives every
    issue from the raw vertex table: signed degree sums, reversed
    endpoint pairs, shoelace orientation, segment-orientation
    arithmetic for self- and cross-way crossings."""
    from ..operators.coastline import all_coastline_issues

    return all_coastline_issues(CF.spark_frame(spark))


# --- flagship pipeline ------------------------------------------------------

_SF_N_IMAGES = 20_000  # images per unit sf-dir for the entry-scale run
_PHASH_TWIN_MULT = 40503  # Knuth 16-bit constant; 1024 buckets → real dups


def flagship_images(spark, sf_dir):
    """The real flagship image pipeline (geotag from pixel phash → PIP
    → tile → counts) over the deterministically generated images table
    sized to the sf tier — the ``entry()`` / bench path. Pixel, caption
    and phash invariants are pinned in pytest (test_codecs /
    test_images_source); the relational trunk is oracle-checked via
    ``q_images_flagship`` below."""
    sf = _sf_of(sf_dir)
    n = max(2000, int(_SF_N_IMAGES * sf * 100))
    from .pipeline import flagship

    return flagship(I.images_df(spark, n, seed=42))


_CORPUS = "/root/reference/ExpectedStateOfAdmins"


def q_expected_admins_corpus(spark, sf_dir):
    """S14 golden corpus — the reference's real 235-country expected
    state (``ExpectedStateOfAdmins/*.json``, schema ``Latvia.json`` /
    ``Country.cs:7-31``) loaded through the engine's source + flatten
    path. The DuckDB twin parses the same files with its own JSON
    reader — a fully independent decode of the reference's only
    continuously-executed correctness pin."""
    from ..sources.expected_state import normalize_expected, read_expected_state

    return normalize_expected(read_expected_state(spark, _CORPUS))


SQL_expected_admins_corpus = f"""
SELECT CAST(RelationId AS BIGINT) AS country_id,
       EnglishName AS country_name,
       CAST(e.key AS INT) AS admin_level,
       CAST(a.a AS BIGINT) AS admin_id
FROM (
  SELECT RelationId, EnglishName, unnest(map_entries(Admins)) AS e
  FROM read_json('{_CORPUS}/*.json',
                 columns={{'RelationId':'BIGINT','EnglishName':'VARCHAR',
                           'Iso2':'VARCHAR','Iso3':'VARCHAR',
                           'Admins':'MAP(VARCHAR, BIGINT[])'}})
), unnest(e.value) AS a(a)
""".strip()


def q_images_flagship(spark, sf_dir):
    """The flagship trunk (PIP-join → tile-assign → rollup,
    ``plans/pipeline.flagship_points`` — the exact code path the image
    pipeline runs) over events-derived geotags, so DuckDB can compute
    an exact twin. The pixel-derived geotag source is swapped for the
    documented events integer-arithmetic geotag and a multiplicative
    phash stand-in; pixels themselves are pinned in pytest (PSNR≥40,
    caption equality — BASELINE.json per-row invariant)."""
    from .pipeline import flagship_points

    pts = _events_geo(spark, sf_dir).select(
        F.col("event_id").alias("image_id"),
        ((F.col("event_id") * _PHASH_TWIN_MULT) % 1024).alias("phash"),
        "lon", "lat",
    )
    return flagship_points(pts)


SQL_images_flagship = (
    f"SELECT polygon_id, {C.cell_sql('lon', 'lat', 8)} AS tile, "
    "COUNT(*) AS n_images, "
    f"COUNT(DISTINCT (event_id * {_PHASH_TWIN_MULT}) % 1024) AS n_distinct_phash "
    "FROM (" + _rect_join_sql(_GEO_SQL) + ") GROUP BY 1, 2"
)


# --- incremental flagship (steady-state loop composed end-to-end) ----------

_GEO_SHIFT = 777001  # modified rows move: geo formula re-evaluated at id+shift


def _pt_payload(idc, geo_idc):
    lon, lat = _geo_lonlat(geo_idc)
    return F.struct(
        idc.alias("id"),
        ((idc * _PHASH_TWIN_MULT) % 1024).alias("phash"),
        lon.alias("lon"), lat.alias("lat"),
    )


def q_incremental_flagship(spark, sf_dir):
    """ST7 / Program.cs:75-117 — the steady-state loop composed as ONE
    query over the images-shaped point table: image-upsert micro-batch
    → CDC compact+MERGE → dirty-tile scope → rollup recompute of dirty
    tiles only, untouched groups carried forward. The DuckDB twin is
    the FULL recompute over the merged snapshot, so a green row proves
    incremental == full.

    Deterministic changeset derived from events: ids ≡0 (mod 10) drive
    the batch — ≡0 (mod 30) deletes id+1 (a base row), ≡0 (mod 20)
    moves id+2 (geo re-derived at id+_GEO_SHIFT), the rest insert
    themselves; inserts also carry a lower-version losing row so
    compaction's last-writer-wins is exercised inside the composition.
    """
    from .incremental import incremental_tile_rollup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id")
    cid = F.col("event_id")
    lon, lat = _geo_lonlat(cid)
    base = ev.where(cid % 10 != 0).select(
        cid.alias("id"),
        ((cid * _PHASH_TWIN_MULT) % 1024).alias("phash"),
        lon.alias("lon"), lat.alias("lat"),
    )
    src = ev.where(cid % 10 == 0)

    def change(rows, op, idc, version, geo_idc):
        return rows.select(
            F.lit(op).alias("op"), F.lit("image").alias("entity_type"),
            idc.alias("id"), version.cast("int").alias("version"),
            _pt_payload(idc, geo_idc).alias("payload"),
        )

    deletes = change(src.where(cid % 30 == 0), "D", cid + 1, cid, cid + 1)
    moves = change(src.where((cid % 30 != 0) & (cid % 20 == 0)), "M",
                   cid + 2, cid, cid + 2 + _GEO_SHIFT)
    ins_src = src.where((cid % 30 != 0) & (cid % 20 != 0))
    inserts = change(ins_src, "C", cid, cid, cid)
    losers = change(ins_src, "M", cid, cid - 1, cid + _GEO_SHIFT)
    changes = deletes.unionByName(moves).unionByName(inserts).unionByName(losers)

    return incremental_tile_rollup(base, changes, tile_res=8,
                                   prepared=_prep_rect())


def _sql_incremental_flagship() -> str:
    lon_b, lat_b = _geo_lonlat_sql("id")
    lon_m, lat_m = _geo_lonlat_sql(f"id + {_GEO_SHIFT}")
    phash = f"(id * {_PHASH_TWIN_MULT}) % 1024"
    merged = f"""
WITH ids AS (SELECT event_id FROM events),
base_ids AS (SELECT event_id AS id FROM ids WHERE event_id % 10 <> 0),
del_ids AS (SELECT event_id + 1 AS id FROM ids
            WHERE event_id % 10 = 0 AND event_id % 30 = 0),
mod_ids AS (SELECT event_id + 2 AS id FROM ids
            WHERE event_id % 10 = 0 AND event_id % 30 <> 0 AND event_id % 20 = 0),
ins_ids AS (SELECT event_id AS id FROM ids
            WHERE event_id % 10 = 0 AND event_id % 30 <> 0 AND event_id % 20 <> 0),
merged AS (
  SELECT id, {phash} AS phash, {lon_b} AS lon, {lat_b} AS lat FROM base_ids
  WHERE id NOT IN (SELECT id FROM del_ids UNION ALL SELECT id FROM mod_ids)
  UNION ALL
  SELECT id, {phash} AS phash, {lon_m} AS lon, {lat_m} AS lat FROM mod_ids
  UNION ALL
  SELECT id, {phash} AS phash, {lon_b} AS lon, {lat_b} AS lat FROM ins_ids)
SELECT * FROM merged
""".strip()
    return (
        f"SELECT polygon_id, {C.cell_sql('lon', 'lat', 8)} AS tile, "
        "COUNT(*) AS n_images, COUNT(DISTINCT phash) AS n_distinct_phash "
        "FROM (" + _rect_join_sql(merged) + ") GROUP BY 1, 2"
    )


def _sf_of(sf_dir: str) -> float:
    import re

    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.001


# ---------------------------------------------------------------------------
# registry
def q_range_join_events(spark, sf_dir):
    """ST_DWithin-style distance join: every (probe, event) pair at
    planar degree distance <= 2.0 — exact via ring-1 cell covering at
    the radius-derived resolution, one equi-shuffle, no refine pass.
    Reference analog: BrokenCoastlineAnalyzer.cs:140-166 bbox fetch
    with a fixed radius instead of a fixed count."""
    from ..operators.range_join import range_join

    geo = _events_geo(spark, sf_dir)
    probes = geo.where(F.col("event_id") % 50 == 0).withColumnRenamed(
        "event_id", "probe_id")
    return range_join(probes, geo, radius=2.0,
                      left_id="probe_id", right_id="event_id")


def _sql_range_join_events() -> str:
    from ..operators.range_join import range_join_sql

    probes = (f"SELECT event_id AS probe_id, lon, lat FROM ({_GEO_SQL}) "
              "WHERE event_id % 50 = 0")
    return range_join_sql(probes, _GEO_SQL, radius=2.0,
                          left_id="probe_id", right_id="event_id")


def q_dbscan_events(spark, sf_dir):
    """Distributed DBSCAN (eps=2.0 deg, min_pts=4) over event points:
    eps-neighbor counting via the self range join, core-core connected
    components via star-contraction CC, min-core-neighbor
    border attachment (deterministic where textbook DBSCAN is
    scan-order-dependent), NULL cluster = noise."""
    from ..operators.range_join import dbscan

    return dbscan(_events_geo(spark, sf_dir), eps=2.0, min_pts=4,
                  id_col="event_id")


def _sql_dbscan_events() -> str:
    from ..operators.range_join import dbscan_sql

    return dbscan_sql(_GEO_SQL, eps=2.0, min_pts=4, id_col="event_id")


def q_idw_surface(spark, sf_dir):
    """IDW (power-2) field interpolation at probe points from in-radius
    event values — quantize-then-sum makes the weighted sums exact
    bigints, so the distributed agg hash-matches the brute twin."""
    from ..operators.geo_stats import idw_surface

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    lon, lat = _geo_lonlat(F.col("event_id"))
    pts = ev.select(F.col("event_id").alias("point_id"),
                    lon.alias("lon"), lat.alias("lat"), "value")
    probes = _events_geo(spark, sf_dir).where(
        F.col("event_id") % 100 == 0).withColumnRenamed(
        "event_id", "probe_id")
    return idw_surface(probes, pts, radius=3.0)


def _sql_idw_surface() -> str:
    from ..operators.geo_stats import idw_surface_sql

    points = (f"SELECT event_id AS point_id, {_GEO_LON_SQL} AS lon, "
              f"{_GEO_LAT_SQL} AS lat, value FROM events")
    probes = (f"SELECT event_id AS probe_id, lon, lat FROM ({_GEO_SQL}) "
              "WHERE event_id % 100 = 0")
    return idw_surface_sql(probes, points, radius=3.0)


def q_path_length(spark, sf_dir):
    """Per-user great-circle trajectory length over (ts, event_id)-
    ordered event fixes, hops floor-quantized to integer millimetres
    so the per-user sums are order-free exact integers."""
    from ..operators.geo_stats import path_length

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    lon, lat = _geo_lonlat(F.col("event_id"))
    pts = ev.select("user_id", "ts", "event_id",
                    lon.alias("lon"), lat.alias("lat"))
    return path_length(pts)


def _sql_path_length() -> str:
    from ..operators.geo_stats import path_length_sql

    points = (f"SELECT user_id, ts, event_id, {_GEO_LON_SQL} AS lon, "
              f"{_GEO_LAT_SQL} AS lat FROM events")
    return path_length_sql(points)


def q_triangle_count(spark, sf_dir):
    """Exact triangle count of the MinHash near-dup pair graph via
    degree-ordered orientation (each triangle counted at its min-order
    vertex; out-degree bounded O(sqrt m) so a hub doc can't inflate
    the wedge join). Near-dup band buckets are cliques, so this graph
    is triangle-rich — the clique-mass diagnostic a dedup pipeline
    reads before choosing cluster-collapse policy. (The synthetic
    events point lattice has zero triangles at radius 2 — structured
    coordinates, not a bug — so the spatial graph is the wrong
    demo input; covered instead by the random-graph pytest.)"""
    from ..operators.graph import triangle_count

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = D.minhash_lsh_pairs(d, "doc_id", bands=8)
    return triangle_count(pairs.select("id_a", "id_b"))


def _sql_triangle_count() -> str:
    from ..operators.graph import triangle_count_sql

    return triangle_count_sql(
        f"SELECT id_a, id_b FROM ({_sql_minhash_pairs()})")


def q_weighted_sample(spark, sf_dir):
    """A-ES weighted sampling without replacement: 100 documents drawn
    proportional to n_chars (token-budget-weighted corpus draw),
    deterministic in doc_id alone."""
    from ..operators.sampling import weighted_sample

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return weighted_sample(
        d.select("doc_id", "source", "n_chars"), n=100,
        weight_col="n_chars")


def _sql_weighted_sample() -> str:
    from ..operators.sampling import weighted_sample_sql

    return weighted_sample_sql(
        "(SELECT doc_id, source, n_chars FROM documents)", n=100,
        weight_col="n_chars")


def q_bm25(spark, sf_dir):
    """BM25 top-20 for a fixed 3-term query over the documents corpus
    (Lucene idf variant; exact-integer corpus stats, sorted-term
    expression order — see operators/retrieval.py)."""
    from ..operators.retrieval import bm25_topk

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bm25_topk(d, "hash join customer", k=20)


def _sql_bm25() -> str:
    from ..operators.retrieval import bm25_topk_sql

    return bm25_topk_sql("documents", "hash join customer", k=20)


def q_hll_sketch(spark, sf_dir):
    """HyperLogLog register table for distinct user_id (p=10) — the
    mergeable one-pass distinct sketch; the register table itself is
    the deterministic, engine-comparable artifact (estimate is a pure
    function of it, see operators/sketches.hll_estimate)."""
    from ..operators.sketches import hll_registers

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return hll_registers(ev, "user_id", p=10)


def _sql_hll_sketch() -> str:
    from ..operators.sketches import hll_registers_sql

    return hll_registers_sql("events", "user_id", p=10)


def q_corpus_cube(spark, sf_dir):
    """Multi-dimensional rollup: GROUP BY CUBE(source, lang) — all four
    aggregation granularities (source×lang, source, lang, grand total)
    in ONE pass with partial-agg reuse; Catalyst expands the cube with
    a single Expand node, not four scans. NULL dimension = subtotal
    row, mirrored exactly by DuckDB's CUBE."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        d.cube("source", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_chars").alias("sum_chars"))
    )


# CAST(SUM(...) AS BIGINT): DuckDB SUM(BIGINT) → HUGEINT → pandas
# float64, diverging from Spark int64 under the driver's string hash.
SQL_corpus_cube = (
    "SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs, "
    "CAST(SUM(n_chars) AS BIGINT) AS sum_chars "
    "FROM documents GROUP BY CUBE(source, lang)"
)


def q_snap_simplify(spark, sf_dir):
    """Grid-snap polyline simplification (slippy-map zoom reduction)
    of per-user event tracks at res 5: snap to cell centers, collapse
    consecutive same-cell vertices, re-sequence. One window pass."""
    from ..operators.simplify import snap_simplify

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    lon, lat = _geo_lonlat(F.col("event_id"))
    pts = ev.select(F.col("user_id").alias("way_id"),
                    F.col("event_id").alias("seq"),
                    lon.alias("lon"), lat.alias("lat"))
    return snap_simplify(pts, res=5)


def _sql_snap_simplify() -> str:
    from ..operators.simplify import snap_simplify_sql

    pts = (f"SELECT user_id AS way_id, event_id AS seq, "
           f"{_GEO_LON_SQL} AS lon, {_GEO_LAT_SQL} AS lat FROM events")
    return snap_simplify_sql(pts, res=5)


_DP_EPS = 30.0     # planar degrees — keeps the split depth shallow
_DP_ROUNDS = 28    # unrolled BFS rounds; fixpoint asserted by pytest


def q_dp_simplify(spark, sf_dir):
    """Douglas-Peucker simplification (max deviation <= 30 planar
    degrees) of per-user event tracks. Spark side is the iterative
    numpy stack kernel per way (applyInPandas); the oracle is the
    BFS-unrolled SQL fixpoint — DP's keep set is confluent, so the
    two traversal orders provably agree (same doubles, same
    first-index argmax tie)."""
    from ..operators.simplify import dp_simplify

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    lon, lat = _geo_lonlat(F.col("event_id"))
    pts = ev.select(F.col("user_id").alias("way_id"),
                    F.col("event_id").alias("seq"),
                    lon.alias("lon"), lat.alias("lat"))
    return dp_simplify(pts, epsilon=_DP_EPS)


def _sql_dp_simplify() -> str:
    from ..operators.simplify import dp_simplify_sql

    pts = (f"SELECT user_id AS way_id, event_id AS seq, "
           f"{_GEO_LON_SQL} AS lon, {_GEO_LAT_SQL} AS lat FROM events")
    return dp_simplify_sql(pts, epsilon=_DP_EPS, rounds=_DP_ROUNDS)


_CATCHUP_TO_SEQ = 26           # ladder covers (0, 26]
_CATCHUP_GRANS = (12, 3, 1)    # "day"/"hour"/"minute" analog blocks


def q_catchup_ladder(spark, sf_dir):
    """S7/ST1 driver row — the multi-granularity catch-up ladder
    (``streaming/catchup.py``, mirroring
    ``CatchupReplicationDiffEnumerator.cs:31-187``): 26 event-derived
    minute batches written to a scratch dir, the aligned (12..23) and
    (24..26) blocks pre-consolidated (the published coarse-diff path),
    the rest compacted on the fly; the ladder unions its segments,
    compacts once, and applies ONE merge to a lineitem-derived
    snapshot. Oracle: DuckDB FULL recompute over the same formulas —
    equal because last-writer-wins by (version, op-rank) is
    associative over the batches' union."""
    import tempfile

    from ..streaming import catchup as cu

    import duckdb

    tmp = tempfile.mkdtemp(prefix="catchup_ladder_")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW ev AS SELECT * FROM '{sf_dir}/events.parquet'")
    con.execute(f"""
CREATE VIEW ch AS
SELECT event_id % {_CATCHUP_TO_SEQ + 1} AS seq,
       CASE WHEN event_type = 'view' THEN 'C'
            WHEN event_type = 'error' THEN 'D' ELSE 'M' END AS op,
       'entity' AS entity_type,
       event_id % 400 AS id,
       event_id AS version,
       {{'id': event_id % 400, 'val': ROUND(value, 4)}} AS payload
FROM ev""")
    import os as _os
    _os.makedirs(_os.path.join(tmp, "minute"), exist_ok=True)
    for s in range(1, _CATCHUP_TO_SEQ + 1):
        con.execute(
            f"COPY (SELECT op, entity_type, id, version, payload "
            f"FROM ch WHERE seq = {s} ORDER BY version) "
            f"TO '{cu.minute_path(tmp, s)}' (FORMAT PARQUET)")
    con.close()
    # publish the two aligned coarse blocks the plan will pick up
    cu.consolidate_range(spark, tmp, 12, 12)
    cu.consolidate_range(spark, tmp, 24, 3)

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    snapshot = (
        li.groupBy((F.col("l_orderkey") % 400).alias("id"))
        .agg(F.round(F.sum("l_quantity"), 2).alias("val"))
    )
    out, segs = cu.catchup(spark, snapshot, tmp, 0, _CATCHUP_TO_SEQ,
                           granularities=_CATCHUP_GRANS)
    # the ladder must actually ladder: coarse blocks in the plan
    assert any(g > 1 for _, _, g in segs), segs
    return out


def _sql_catchup_ladder() -> str:
    return f"""
WITH ch AS (
  SELECT event_id % {_CATCHUP_TO_SEQ + 1} AS seq,
         CASE WHEN event_type = 'view' THEN 'C'
              WHEN event_type = 'error' THEN 'D' ELSE 'M' END AS op,
         event_id % 400 AS id, event_id AS version,
         ROUND(value, 4) AS val
  FROM events),
pending AS (SELECT * FROM ch WHERE seq >= 1),
compacted AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY id ORDER BY version DESC,
      CASE op WHEN 'D' THEN 3 WHEN 'M' THEN 2 ELSE 1 END DESC) AS rn
    FROM pending) WHERE rn = 1),
snapshot AS (
  SELECT l_orderkey % 400 AS id, ROUND(SUM(l_quantity), 2) AS val
  FROM lineitem GROUP BY 1)
SELECT id, val FROM snapshot WHERE id NOT IN (SELECT id FROM compacted)
UNION ALL SELECT id, val FROM compacted WHERE op <> 'D'
""".strip()


def q_dsir_sample(spark, sf_dir):
    """DSIR importance resampling (``operators/dsir.py``, Xie et al.
    2023): hashed unigram+bigram bucket models of a TARGET slice
    (lang='en' docs) vs the RAW pool (all docs), integer-quantized
    log-importance per doc, deterministic Gumbel-top-150 resample.
    The oracle re-derives training, scoring and the Gumbel key from
    scratch in SQL."""
    from ..operators.dsir import dsir_sample

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dsir_sample(d, d.where(F.col("lang") == "en"), m=150)


def _sql_dsir_sample() -> str:
    from ..operators.dsir import dsir_sample_sql

    return dsir_sample_sql(
        "SELECT * FROM documents",
        "SELECT * FROM documents WHERE lang = 'en'", m=150)


def _rects_df(spark, sf_dir, mod, idc, half_w_base, half_h_base):
    """Deterministic rectangle set from the events geotag: box centered
    at the geotag with id-derived half-extents, lon clamped at ±180
    (no wrap — the covering convention); ONE formula shared with
    :func:`_rects_sql`."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").where(
        F.col("event_id") % mod == 0)
    lon, lat = _geo_lonlat(F.col("event_id"))
    hw = F.lit(half_w_base) + (F.col("event_id") % 7).cast("double") / 2.0
    hh = F.lit(half_h_base) + (F.col("event_id") % 5).cast("double") / 4.0
    return ev.select(
        F.col("event_id").alias(idc),
        F.greatest(F.lit(-180.0), lon - hw).alias("lon0"),
        F.least(F.lit(180.0), lon + hw).alias("lon1"),
        (lat - hh).alias("lat0"), (lat + hh).alias("lat1"),
    )


def _rects_sql(mod, idc, half_w_base, half_h_base):
    return (
        f"SELECT event_id AS {idc}, "
        f"GREATEST(-180.0, {_GEO_LON_SQL} - ({half_w_base!r} "
        f"+ CAST(event_id % 7 AS DOUBLE) / 2.0)) AS lon0, "
        f"LEAST(180.0, {_GEO_LON_SQL} + ({half_w_base!r} "
        f"+ CAST(event_id % 7 AS DOUBLE) / 2.0)) AS lon1, "
        f"{_GEO_LAT_SQL} - ({half_h_base!r} "
        f"+ CAST(event_id % 5 AS DOUBLE) / 4.0) AS lat0, "
        f"{_GEO_LAT_SQL} + ({half_h_base!r} "
        f"+ CAST(event_id % 5 AS DOUBLE) / 4.0) AS lat1 "
        f"FROM events WHERE event_id % {mod} = 0"
    )


def q_rect_overlay(spark, sf_dir):
    """Vector×vector overlay join (``operators/overlay.py``): all
    positively-intersecting pairs between two event-derived rectangle
    sets with the intersection box + planar area. Engine path is the
    cell-cover equi-join with owner-cell dedup (no distinct); oracle
    is the brute cross join with identical predicate/arithmetic."""
    from ..operators.overlay import rect_overlay_join

    a = _rects_df(spark, sf_dir, 20, "a_id", 0.5, 0.25)
    b = _rects_df(spark, sf_dir, 7, "b_id", 0.25, 0.125)
    return rect_overlay_join(a, b, res=4)


def _sql_rect_overlay() -> str:
    from ..operators.overlay import rect_overlay_join_sql

    return rect_overlay_join_sql(
        _rects_sql(20, "a_id", 0.5, 0.25),
        _rects_sql(7, "b_id", 0.25, 0.125))


def q_geo_balanced(spark, sf_dir):
    """Geo-balanced sampling (``sampling.geo_balanced_sample``): cap
    every res-4 cell at 5 events by deterministic md5 rank — the
    geographic de-biasing draw a planet-scale image corpus needs
    (megacity cells dominate otherwise). One cell shuffle + one
    bounded window."""
    from ..operators.sampling import geo_balanced_sample

    pts = _events_geo(spark, sf_dir).withColumnRenamed("event_id", "image_id")
    return geo_balanced_sample(pts, res=4, per_cell=5)


def _sql_geo_balanced() -> str:
    from ..operators.sampling import geo_balanced_sample_sql

    pts = (f"SELECT event_id AS image_id, {_GEO_LON_SQL} AS lon, "
           f"{_GEO_LAT_SQL} AS lat FROM events")
    return geo_balanced_sample_sql(pts, res=4, per_cell=5)


def q_colocation(spark, sf_dir):
    """Spatiotemporal co-location join (``operators/colocation.py``):
    unordered user pairs sharing a res-6 cell within the same daily
    window, with bucket/sighting evidence counts. Track model: user
    groups (user_id mod 5) share a per-day location, so co-travelers
    exist by construction (the raw geotag hash-spread never
    collides)."""
    from ..operators.colocation import colocation_pairs

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    loc = (F.col("user_id") % 5) * F.lit(1000003) + F.floor(
        F.unix_timestamp("ts") / F.lit(86400))
    lon, lat = _geo_lonlat(loc)
    pts = ev.select("user_id", "ts", lon.alias("lon"), lat.alias("lat"))
    return colocation_pairs(pts, res=6, window_s=86400)


def _sql_colocation() -> str:
    from ..operators.colocation import colocation_pairs_sql

    loc = ("((user_id % 5) * 1000003 + "
           "CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 86400) AS BIGINT))")
    lon_sql, lat_sql = _geo_lonlat_sql(loc)
    pts = (f"SELECT user_id, ts, {lon_sql} AS lon, {lat_sql} AS lat "
           f"FROM events")
    return colocation_pairs_sql(pts, res=6, window_s=86400)


def q_speed_filter(spark, sf_dir):
    """GPS-trace cleaning (``geo_stats.with_speed``): per-fix inbound
    speed + impossible-speed flag over the slow per-(user, day) track
    — day-boundary relocations exceed 70 m/s and flag as anomalies,
    intra-day fixes are stationary. One entity window."""
    from ..operators.geo_stats import with_speed

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    loc = F.col("user_id") * F.lit(1000003) + F.floor(
        F.unix_timestamp("ts") / F.lit(86400))
    lon, lat = _geo_lonlat(loc)
    pts = ev.select("user_id", "ts", "event_id",
                    lon.alias("lon"), lat.alias("lat"))
    return with_speed(pts, vmax_mps=70.0)


def _sql_speed_filter() -> str:
    from ..operators.geo_stats import with_speed_sql

    loc = ("(user_id * 1000003 + "
           "CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 86400) AS BIGINT))")
    lon, lat = _geo_lonlat_sql(loc)
    pts = (f"SELECT user_id, ts, event_id, {lon} AS lon, "
           f"{lat} AS lat FROM events")
    return with_speed_sql(pts, vmax_mps=70.0)


def q_hausdorff(spark, sf_dir):
    """Trajectory similarity (``operators/trajectory.track_hausdorff``):
    discrete Hausdorff distance between consecutive users' slow
    tracks (pairs (u, u+1) for even u) — the trajectory near-dup
    measure; Arrow distance-matrix kernel per pair vs a joins+two-level
    -agg SQL twin over the identical squared-distance doubles."""
    from ..operators.trajectory import track_hausdorff

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    loc = F.col("user_id") * F.lit(1000003) + F.floor(
        F.unix_timestamp("ts") / F.lit(86400))
    lon, lat = _geo_lonlat(loc)
    pts = ev.select("user_id", lon.alias("lon"), lat.alias("lat"))
    users = ev.select("user_id").distinct()
    pairs = users.where(F.col("user_id") % 2 == 0).select(
        F.col("user_id").alias("a"),
        (F.col("user_id") + 1).alias("b"))
    return track_hausdorff(pts, pairs)


def _sql_hausdorff() -> str:
    from ..operators.trajectory import track_hausdorff_sql

    loc = ("(user_id * 1000003 + "
           "CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 86400) AS BIGINT))")
    lon, lat = _geo_lonlat_sql(loc)
    pts = (f"SELECT user_id, {lon} AS lon, {lat} AS lat FROM events")
    pairs = ("SELECT user_id AS a, user_id + 1 AS b "
             "FROM (SELECT DISTINCT user_id FROM events) "
             "WHERE user_id % 2 = 0")
    return track_hausdorff_sql(pts, pairs)


def q_stay_points(spark, sf_dir):
    """Stay-point detection over per-user event tracks: same-cell
    (res 6) consecutive fixes with <= 1h gaps form a visit; visits
    >= 30 min are stay points. Pure window pipeline (lag flags +
    running-sum visit ids), identical on both engines."""
    from ..operators.geo_stats import stay_points

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # slow-moving track: location is a pure function of (user, day) --
    # users sit somewhere for a day then move (the raw event_id spread
    # never revisits a cell, which would make stay points vacuous)
    loc = F.col("user_id") * F.lit(1000003) + F.floor(
        F.unix_timestamp("ts") / F.lit(86400))
    lon, lat = _geo_lonlat(loc)
    pts = ev.select("user_id", "ts", "event_id",
                    lon.alias("lon"), lat.alias("lat"))
    return stay_points(pts, gap_s=43200, min_stay_s=14400)


def _sql_stay_points() -> str:
    from ..operators.geo_stats import stay_points_sql

    loc = ("(user_id * 1000003 + "
           "CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 86400) AS BIGINT))")
    lon, lat = _geo_lonlat_sql(loc)
    pts = (f"SELECT user_id, ts, event_id, {lon} AS lon, "
           f"{lat} AS lat FROM events")
    return stay_points_sql(pts, gap_s=43200, min_stay_s=14400)


def q_od_matrix(spark, sf_dir):
    """Origin-destination flows between consecutive stay points of the
    slow-moving per-user tracks (the standard mobility rollup)."""
    from ..operators.geo_stats import od_matrix

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    loc = F.col("user_id") * F.lit(1000003) + F.floor(
        F.unix_timestamp("ts") / F.lit(86400))
    lon, lat = _geo_lonlat(loc)
    pts = ev.select("user_id", "ts", "event_id",
                    lon.alias("lon"), lat.alias("lat"))
    return od_matrix(pts, gap_s=43200, min_stay_s=14400)


def _sql_od_matrix() -> str:
    from ..operators.geo_stats import od_matrix_sql

    loc = ("(user_id * 1000003 + "
           "CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 86400) AS BIGINT))")
    lon, lat = _geo_lonlat_sql(loc)
    pts = (f"SELECT user_id, ts, event_id, {lon} AS lon, "
           f"{lat} AS lat FROM events")
    return od_matrix_sql(pts, gap_s=43200, min_stay_s=14400)


def q_hotspots(spark, sf_dir):
    """Getis-Ord Gi* hotspot z-scores per res-4 cell over event points
    (ring-1 binary weights, full-grid stats from exact integer sums)."""
    from ..operators.geo_stats import hotspots

    return hotspots(_events_geo(spark, sf_dir), res=4)


def _sql_hotspots() -> str:
    from ..operators.geo_stats import hotspots_sql

    return hotspots_sql(_GEO_SQL, res=4)


def q_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): deterministic quantized spherical
    k-means (integer centroid sums — order-free, bit-reproducible)
    + within-cluster cosine pruning keeping the centroid-farthest
    member of each near-dup pair. Oracle re-runs the identical
    integer-arithmetic scheme as unrolled CTEs. dims=16 is the
    standard dimensionality truncation for the dedup pass (the
    unrolled quantize SQL is O(dims^2) text; 16 keeps both engines'
    expression trees small while preserving pair discrimination)."""
    from ..operators.semdedup import semdedup

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return semdedup(e, k=8, iters=2, dims=16, tau=0.3)


def _sql_semdedup() -> str:
    from ..operators.semdedup import semdedup_sql

    return semdedup_sql("embeddings", k=8, iters=2, dims=16, tau=0.3)


def q_cell_compact(spark, sf_dir):
    """Hierarchical covering compaction (``tiling.compact_cells``):
    the distinct res-6 cells touched by events collapse into the
    minimal mixed-resolution covering (full 4-sibling sets promoted to
    their parent, recursively). Oracle: one CTE pair per ladder level
    over the same bit arithmetic."""
    from ..operators.tiling import compact_cells

    pts = _events_geo(spark, sf_dir)
    cells = C.attach_cell(pts, 6).select("cell")
    return compact_cells(cells, min_res=2, max_res=6)


def _sql_cell_compact() -> str:
    from ..operators.tiling import compact_cells_sql

    inner = (f"SELECT {C.cell_sql(_GEO_LON_SQL, _GEO_LAT_SQL, 6)} AS cell "
             "FROM events")
    return compact_cells_sql(inner, min_res=2, max_res=6)


def q_asof_join(spark, sf_dir):
    """Point-in-time join (``operators/asof.asof_join``): every probe
    event (id % 10 == 0) matched to the latest other event by the same
    user-group at-or-before its timestamp. Spark side is the
    union+window rewrite (one shuffle); the oracle is DuckDB's NATIVE
    ``ASOF LEFT JOIN`` — a genuinely independent engine path."""
    from ..operators.asof import asof_join

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select(
            "event_id",
            (F.col("user_id") % 50).alias("k"),
            F.unix_timestamp("ts").alias("te"),
            F.round("value", 6).alias("val"),
        )
    )
    probes = ev.where(F.col("event_id") % 10 == 0).drop("val")
    refs = ev.where(F.col("event_id") % 10 != 0)
    # tiebreak pins which ref wins among duplicate (k, te) rows —
    # max event_id, mirrored by the twin's QUALIFY dedupe.
    return asof_join(probes, refs, key="k", t="te",
                     payload=["event_id", "val"], tiebreak="event_id")


def q_asof_bucketed(spark, sf_dir):
    """Hot-key-safe as-of join (``operators/asof.asof_join_bucketed``):
    identical output contract to ``asof_join`` but partitioned by
    ``(key, daily time slice)`` with one carry-in boundary ref per
    probed slice — the 100 TB execution shape for a key holding half
    the corpus. Oracle: the SAME native DuckDB ``ASOF LEFT JOIN`` twin
    (bucketing is an execution detail, not a semantics change)."""
    from ..operators.asof import asof_join_bucketed

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select(
            "event_id",
            (F.col("user_id") % 50).alias("k"),
            F.unix_timestamp("ts").alias("te"),
            F.round("value", 6).alias("val"),
        )
    )
    probes = ev.where(F.col("event_id") % 10 == 0).drop("val")
    refs = ev.where(F.col("event_id") % 10 != 0)
    return asof_join_bucketed(probes, refs, key="k", t="te",
                              payload=["event_id", "val"],
                              slice_width=86400, tiebreak="event_id")


def _sql_asof_join() -> str:
    from ..operators.asof import asof_join_sql

    # FLOOR before CAST: DuckDB epoch(ts) is DOUBLE with fractional
    # seconds and CAST-to-BIGINT ROUNDS, while Spark's unix_timestamp
    # floors — bare CAST is off by one on .5+ fractions, bare epoch is
    # a float under the string hash ("148.0" vs "148").
    base = ("SELECT event_id, user_id % 50 AS k, "
            "CAST(FLOOR(epoch(ts)) AS BIGINT) AS te, "
            "ROUND(value, 6) AS val FROM events")
    return asof_join_sql(
        f"SELECT event_id, k, te FROM ({base}) WHERE event_id % 10 = 0",
        f"SELECT * FROM ({base}) WHERE event_id % 10 <> 0",
        key="k", t="te", payload=["event_id", "val"],
        probe_select="p.event_id, p.k, p.te", tiebreak="event_id",
    )


def q_tile_pyramid(spark, sf_dir):
    """Full tile-pyramid build (``tiling.tile_pyramid``): counts at
    every resolution 2..6 in ONE aggregate pass + one pre-combined
    parent-ladder explode; oracle is 5 independent per-level
    encode+counts."""
    from ..operators.tiling import tile_pyramid

    return tile_pyramid(_events_geo(spark, sf_dir), min_res=2, max_res=6)


def _sql_tile_pyramid() -> str:
    from ..operators.tiling import tile_pyramid_sql

    return tile_pyramid_sql(_GEO_SQL, min_res=2, max_res=6)


def _segs_df(spark, sf_dir, mod):
    """Deterministic SHORT segment set from the events geotag: start
    at the geotag, end displaced by an id-derived delta ≤ 1.25°
    (bounded extent = bounded cell-cover explode), clamped into the
    grid; ONE formula shared with :func:`_segs_sql`."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").where(
        F.col("event_id") % mod == 0)
    lon, lat = _geo_lonlat(F.col("event_id"))
    dx = (F.col("event_id") % 11 - 5).cast("double") / 4.0
    dy = (F.col("event_id") % 7 - 3).cast("double") / 8.0
    return ev.select(
        F.col("event_id").alias("seg_id"),
        lon.alias("x1"), lat.alias("y1"),
        F.greatest(F.lit(-180.0), F.least(F.lit(180.0), lon + dx)).alias("x2"),
        F.greatest(F.lit(-90.0), F.least(F.lit(90.0), lat + dy)).alias("y2"),
    )


def _segs_sql(mod):
    return (
        f"SELECT event_id AS seg_id, {_GEO_LON_SQL} AS x1, "
        f"{_GEO_LAT_SQL} AS y1, "
        f"GREATEST(-180.0, LEAST(180.0, {_GEO_LON_SQL} "
        f"+ CAST(event_id % 11 - 5 AS DOUBLE) / 4.0)) AS x2, "
        f"GREATEST(-90.0, LEAST(90.0, {_GEO_LAT_SQL} "
        f"+ CAST(event_id % 7 - 3 AS DOUBLE) / 8.0)) AS y2 "
        f"FROM events WHERE event_id % {mod} = 0"
    )


def q_clip_tiles(spark, sf_dir):
    """Vector tiling (``clip.clip_segments_to_tiles``): Liang–Barsky
    clip of event-derived segments to every res-6 tile positively
    crossed. Engine explodes only the segment's bbox cells; oracle is
    the brute full-grid clip with identical arithmetic."""
    from ..operators.clip import clip_segments_to_tiles

    return clip_segments_to_tiles(_segs_df(spark, sf_dir, 5), res=6)


def _sql_clip_tiles() -> str:
    from ..operators.clip import clip_segments_to_tiles_sql

    return clip_segments_to_tiles_sql(_segs_sql(5), res=6)


def q_map_match(spark, sf_dir):
    """Map matching (``map_match.map_match``): snap every 3rd event
    fix to its nearest event-derived road segment within 0.5°,
    deterministic ``(d2, seg_id)`` pick. Engine is the radius-expanded
    cell-bucketed candidate join; oracle is the brute cross join."""
    from ..operators.map_match import map_match

    pts = _events_geo(spark, sf_dir).where(F.col("event_id") % 3 == 0) \
        .withColumnRenamed("event_id", "point_id")
    return map_match(pts, _segs_df(spark, sf_dir, 10), radius=0.5)


def _sql_map_match() -> str:
    from ..operators.map_match import map_match_sql

    pts = (f"SELECT event_id AS point_id, {_GEO_LON_SQL} AS lon, "
           f"{_GEO_LAT_SQL} AS lat FROM events WHERE event_id % 3 = 0")
    return map_match_sql(pts, _segs_sql(10), radius=0.5)


def q_geofence(spark, sf_dir):
    """Geofence transitions (``geofence.geofence_transitions``):
    enter/exit stream of the slow per-(user, day) track against 1-in-50
    event-derived fence rects — daily relocations cross fences by
    construction. Engine is sightings-only gaps-and-islands; oracle is
    the brute membership matrix + LAG."""
    from ..operators.geofence import geofence_transitions

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    loc = F.col("user_id") * F.lit(1000003) + F.floor(
        F.unix_timestamp("ts") / F.lit(86400))
    lon, lat = _geo_lonlat(loc)
    pts = ev.select(F.col("user_id").alias("entity"),
                    F.unix_timestamp("ts").alias("te"),
                    F.col("event_id").alias("tb"),
                    lon.alias("lon"), lat.alias("lat"))
    fences = _rects_df(spark, sf_dir, 50, "fence_id", 2.0, 1.0)
    return geofence_transitions(pts, fences, res=5)


def _sql_geofence() -> str:
    from ..operators.geofence import geofence_transitions_sql

    loc = ("(user_id * 1000003 + "
           "CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 86400) AS BIGINT))")
    lon, lat = _geo_lonlat_sql(loc)
    pts = (f"SELECT user_id AS entity, "
           f"CAST(FLOOR(epoch(ts)) AS BIGINT) AS te, event_id AS tb, "
           f"{lon} AS lon, {lat} AS lat FROM events")
    return geofence_transitions_sql(pts, _rects_sql(50, "fence_id", 2.0, 1.0))


def q_ring_stats(spark, sf_dir):
    """Ring shoelace metrics (``ring_metrics.ring_shoelace``): exact
    int64 signed area ×2 + centroid numerators per per-user ring
    (vertices on a 2^16 grid ordered by event_id; 2^16 keeps every
    term and the ≤100-vertex running sums far inside int64)."""
    from ..operators.ring_metrics import ring_shoelace

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    verts = ev.select(
        F.col("user_id").alias("ring_id"),
        F.col("event_id").alias("seq"),
        ((F.col("event_id") * F.lit(_LON_MULT)) % F.lit(65536)).alias("x"),
        ((F.col("event_id") * F.lit(_LAT_MULT) + F.lit(_LAT_OFF))
         % F.lit(65536)).alias("y"),
    )
    return ring_shoelace(verts)


def _sql_ring_stats() -> str:
    from ..operators.ring_metrics import ring_shoelace_sql

    verts = (f"SELECT user_id AS ring_id, event_id AS seq, "
             f"event_id * {_LON_MULT} % 65536 AS x, "
             f"(event_id * {_LAT_MULT} + {_LAT_OFF}) % 65536 AS y "
             f"FROM events")
    return ring_shoelace_sql(verts)


def q_convex_hull(spark, sf_dir):
    """Per-user convex hull (``hull.convex_hull``): minimal hull
    vertex set of each user's distinct (user, day) locations on a
    2^16 grid. Engine is one distinct + one Arrow monotone-chain
    kernel; oracle is the O(n³) supporting-edge characterization."""
    from ..operators.hull import convex_hull

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    loc = F.col("user_id") * F.lit(1000003) + F.floor(
        F.unix_timestamp("ts") / F.lit(86400))
    pts = ev.select(
        F.col("user_id").alias("entity"),
        ((loc * F.lit(_LON_MULT)) % F.lit(65536)).alias("x"),
        ((loc * F.lit(_LAT_MULT) + F.lit(_LAT_OFF))
         % F.lit(65536)).alias("y"),
    )
    return convex_hull(pts)


def _sql_convex_hull() -> str:
    from ..operators.hull import convex_hull_sql

    loc = ("(user_id * 1000003 + "
           "CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 86400) AS BIGINT))")
    pts = (f"SELECT user_id AS entity, "
           f"{loc} * {_LON_MULT} % 65536 AS x, "
           f"({loc} * {_LAT_MULT} + {_LAT_OFF}) % 65536 AS y "
           f"FROM events")
    return convex_hull_sql(pts)


def q_track_resample(spark, sf_dir):
    """Uniform-grid track resampling (``trajectory.track_resample``):
    the slow per-(user, day) tracks interpolated onto a 6-hour grid —
    the cadence normalization before co-location / OD / Hausdorff."""
    from ..operators.trajectory import track_resample

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    loc = F.col("user_id") * F.lit(1000003) + F.floor(
        F.unix_timestamp("ts") / F.lit(86400))
    lon, lat = _geo_lonlat(loc)
    pts = ev.select("user_id", F.unix_timestamp("ts").alias("te"),
                    lon.alias("lon"), lat.alias("lat"))
    return track_resample(pts, step_s=21600)


def _sql_track_resample() -> str:
    from ..operators.trajectory import track_resample_sql

    loc = ("(user_id * 1000003 + "
           "CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 86400) AS BIGINT))")
    lon, lat = _geo_lonlat_sql(loc)
    pts = (f"SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS te, "
           f"{lon} AS lon, {lat} AS lat FROM events")
    return track_resample_sql(pts, step_s=21600)


def q_density_grid(spark, sf_dir):
    """Raster density grid (``raster.density_grid``): per res-4 tile,
    event counts on the 16×16 pixel grid (= the res-8 Morton subcells)
    — ONE fine-res aggregate + bit arithmetic, the oracle-checkable
    half of the tile renderer (``raster.render_density_tiles`` turns
    these rows into real PPM image rows, pytest-verified)."""
    from ..operators.raster import density_grid

    return density_grid(_events_geo(spark, sf_dir), res=4, depth=4)


def _sql_density_grid() -> str:
    from ..operators.raster import density_grid_sql

    return density_grid_sql(_GEO_SQL, res=4, depth=4,
                            lon="lon", lat="lat")


_QSKETCH_QS = [0.1, 0.25, 0.5, 0.9, 0.99]


def q_quantile_sketch(spark, sf_dir):
    """Mergeable quantile sketch (``qsketch``): per-lang doc-length
    quantiles from HDR-style integer log buckets (sub_bits=3 → <12.5%
    relative error, exact bucket lower bounds — the corpus profiler
    that merges without re-scanning)."""
    from ..operators.qsketch import qsketch, qsketch_quantiles

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sk = qsketch(docs, "n_chars", group="lang")
    return qsketch_quantiles(sk, _QSKETCH_QS, group="lang")


def _sql_quantile_sketch() -> str:
    from ..operators.qsketch import qsketch_quantiles_sql, qsketch_sql

    return qsketch_quantiles_sql(
        qsketch_sql("SELECT * FROM documents", "n_chars", group="lang"),
        _QSKETCH_QS, group="lang")


def q_cms_counts(spark, sf_dir):
    """Count-min sketch (``sketches.cms_sketch``/``cms_estimate``):
    point-frequency estimates for every vocabulary token from a fixed
    512×4 sketch of ALL document tokens — the bounded-memory counter
    table (estimates ≥ truth, overshoot ≤ e·N/width)."""
    from ..operators.sketches import cms_estimate, cms_sketch

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = d.select(F.explode(F.split("text", " ")).alias("tok"))
    sketch = cms_sketch(toks, "tok", width=512, depth=4)
    # the synthetic vocab is small, so probe ALL of it; at corpus
    # scale the probe set is bounded the same way upstream (an
    # md5-prefix slice or a candidate list), never the raw token
    # stream
    probes = toks.distinct()
    return cms_estimate(sketch, probes, "tok", width=512, depth=4)


def _sql_cms_counts() -> str:
    from ..operators.sketches import cms_estimate_sql, cms_sketch_sql

    toks = ("SELECT unnest(string_split(text, ' ')) AS tok "
            "FROM documents")
    probes = f"SELECT DISTINCT tok FROM ({toks})"
    return cms_estimate_sql(cms_sketch_sql(toks, "tok", 512, 4),
                            probes, "tok", 512, 4)


# ---------------------------------------------------------------------------

# Ordering contract: the driver checks the FIRST 50 entries each
# round. r6 rotation (VERDICT r5 item #1): the 42 queries whose
# last driver row was r4 move INTO the window, joined by 8
# r5-green queries whose operators this optimization round
# touched most (pip/cells trunk, similarity scoring, minhash) —
# maximum-signal slots 1-50. The tail is the multiply-green r5
# window (STATUS.md "registry rotation"). Keep QUERIES and
# ORACLES in the SAME order.
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "id_semi_join_scan": q_id_semi_join_scan,
    "semdedup": q_semdedup,
    "knn_events": q_knn_events,
    "tag_filter_project": q_tag_filter_project,
    "endpoint_degree": q_endpoint_degree,
    "topk_per_group": q_topk_per_group,
    "knn_haversine": q_knn_haversine,
    "coverage_observed": q_coverage_observed,
    "pip_rect_join": q_pip_rect_join,
    "pip_rect_counts": q_pip_rect_counts,
    "dbscan_events": q_dbscan_events,
    "cell_compact": q_cell_compact,
    "range_join_events": q_range_join_events,
    "version_compaction": q_version_compaction,
    "first_seen": q_first_seen,
    "sessionize": q_sessionize,
    "stay_points": q_stay_points,
    "triangle_count": q_triangle_count,
    "weighted_sample": q_weighted_sample,
    "hll_sketch": q_hll_sketch,
    "cell_encode_counts": q_cell_encode_counts,
    "tile_rollup_parent": q_tile_rollup_parent,
    "issue_counts": q_issue_counts,
    "scalar_pipeline": q_scalar_pipeline,
    "dedup_exact": q_dedup_exact,
    "token_quality": q_token_quality,
    "lang_guess": q_lang_guess,
    "lm_score": q_lm_score,
    "repetition": q_repetition,
    "corpus_profile": q_corpus_profile,
    "fingerprint": q_fingerprint,
    "pii_scrub": q_pii_scrub,
    "jaccard_topk": q_jaccard_topk,
    "dedup_substrings": q_dedup_substrings,
    "source_filter": q_source_filter,
    "ngram_topk": q_ngram_topk,
    "epoch_shard": q_epoch_shard,
    "agg_pricing": q_agg_pricing,
    "join_revenue": q_join_revenue,
    "broadcast_dims": q_broadcast_dims,
    "anti_join_missing": q_anti_join_missing,
    "full_outer_diff": q_full_outer_diff,
    "images_flagship": q_images_flagship,
    "cosine_topk": q_cosine_topk,
    "ann_lsh_topk": q_ann_lsh_topk,
    "embedding_near_dup": q_embedding_near_dup,
    "minhash_pairs": q_minhash_pairs,
    "dedup_clusters": q_dedup_clusters,
    "density_grid": q_density_grid,
    "tile_pyramid": q_tile_pyramid,
    # ---- tail: multiply-green r5 window (rotation rule) ----
    "substring_cut": q_substring_cut,
    "corpus_build": q_corpus_build,
    "phash_near_dup": q_phash_near_dup,
    "incremental_flagship": q_incremental_flagship,
    "asof_bucketed": q_asof_bucketed,
    "dp_simplify": q_dp_simplify,
    "catchup_ladder": q_catchup_ladder,
    "dsir_sample": q_dsir_sample,
    "rect_overlay": q_rect_overlay,
    "geo_balanced": q_geo_balanced,
    "colocation": q_colocation,
    "speed_filter": q_speed_filter,
    "hausdorff": q_hausdorff,
    "clip_tiles": q_clip_tiles,
    "map_match": q_map_match,
    "geofence": q_geofence,
    "ring_stats": q_ring_stats,
    "convex_hull": q_convex_hull,
    "track_resample": q_track_resample,
    "quantile_sketch": q_quantile_sketch,
    "cms_counts": q_cms_counts,
    "polygon_assembly": q_polygon_assembly,
    "cdc_merge": q_cdc_merge,
    "admin_diff": q_admin_diff,
    "coastline_issues": q_coastline_issues,
    "expected_admins_corpus": q_expected_admins_corpus,
    "important_features": q_important_features,
    "asof_join": q_asof_join,
    "idw_surface": q_idw_surface,
    "path_length": q_path_length,
    "corpus_cube": q_corpus_cube,
    "hotspots": q_hotspots,
    "od_matrix": q_od_matrix,
    "snap_simplify": q_snap_simplify,
    "bm25_topk": q_bm25,
    "stratified_sample": q_stratified_sample,
    "pack_sequences": q_pack_sequences,
    "decontaminate": q_decontaminate,
    "simhash_groups": q_simhash_groups,
    "lsh_histogram": q_lsh_histogram,
    "winnow_fingerprints": q_winnow_fingerprints,
    "adaptive_cell_split": q_adaptive_cell_split,
}

ORACLES: dict[str, str] = {
    "id_semi_join_scan": SQL_id_semi_join_scan,
    "semdedup": _sql_semdedup(),
    "knn_events": SQL_knn_events,
    "tag_filter_project": SQL_tag_filter_project,
    "endpoint_degree": SQL_endpoint_degree,
    "topk_per_group": SQL_topk_per_group,
    "knn_haversine": _sql_knn_haversine(),
    "coverage_observed": SQL_coverage_observed,
    "pip_rect_join": SQL_pip_rect_join,
    "pip_rect_counts": SQL_pip_rect_counts,
    "dbscan_events": _sql_dbscan_events(),
    "cell_compact": _sql_cell_compact(),
    "range_join_events": _sql_range_join_events(),
    "version_compaction": SQL_version_compaction,
    "first_seen": SQL_first_seen,
    "sessionize": SQL_sessionize,
    "stay_points": _sql_stay_points(),
    "triangle_count": _sql_triangle_count(),
    "weighted_sample": _sql_weighted_sample(),
    "hll_sketch": _sql_hll_sketch(),
    "cell_encode_counts": SQL_cell_encode_counts,
    "tile_rollup_parent": SQL_tile_rollup_parent,
    "issue_counts": SQL_issue_counts,
    "scalar_pipeline": SQL_scalar_pipeline,
    "dedup_exact": SQL_dedup_exact,
    "token_quality": _sql_token_quality(),
    "lang_guess": SQL_lang_guess,
    "lm_score": SQL_lm_score,
    "repetition": SQL_repetition,
    "corpus_profile": SQL_corpus_profile,
    "fingerprint": SQL_fingerprint,
    "pii_scrub": _sql_pii_scrub(),
    "jaccard_topk": _sql_jaccard_topk(),
    "dedup_substrings": _sql_dedup_substrings(),
    "source_filter": _sql_source_filter(),
    "ngram_topk": _sql_ngram_topk(),
    "epoch_shard": _sql_epoch_shard(),
    "agg_pricing": SQL_agg_pricing,
    "join_revenue": SQL_join_revenue,
    "broadcast_dims": SQL_broadcast_dims,
    "anti_join_missing": SQL_anti_join_missing,
    "full_outer_diff": SQL_full_outer_diff,
    "images_flagship": SQL_images_flagship,
    "cosine_topk": SQL_cosine_topk,
    "ann_lsh_topk": _sql_ann_lsh_topk(),
    "embedding_near_dup": _sql_embedding_near_dup(),
    "minhash_pairs": _sql_minhash_pairs(),
    "dedup_clusters": _sql_dedup_clusters(),
    "density_grid": _sql_density_grid(),
    "tile_pyramid": _sql_tile_pyramid(),
    # ---- tail: multiply-green r5 window (rotation rule) ----
    "substring_cut": _sql_substring_cut(),
    "corpus_build": _sql_corpus_build(),
    "phash_near_dup": _sql_phash_near_dup(),
    "incremental_flagship": _sql_incremental_flagship(),
    "asof_bucketed": _sql_asof_join(),
    "dp_simplify": _sql_dp_simplify(),
    "catchup_ladder": _sql_catchup_ladder(),
    "dsir_sample": _sql_dsir_sample(),
    "rect_overlay": _sql_rect_overlay(),
    "geo_balanced": _sql_geo_balanced(),
    "colocation": _sql_colocation(),
    "speed_filter": _sql_speed_filter(),
    "hausdorff": _sql_hausdorff(),
    "clip_tiles": _sql_clip_tiles(),
    "map_match": _sql_map_match(),
    "geofence": _sql_geofence(),
    "ring_stats": _sql_ring_stats(),
    "convex_hull": _sql_convex_hull(),
    "track_resample": _sql_track_resample(),
    "quantile_sketch": _sql_quantile_sketch(),
    "cms_counts": _sql_cms_counts(),
    "polygon_assembly": AF.oracle_sql(),
    "cdc_merge": SQL_cdc_merge,
    "admin_diff": SQL_admin_diff,
    "coastline_issues": CF.oracle_sql(),
    "expected_admins_corpus": SQL_expected_admins_corpus,
    "important_features": SQL_important_features,
    "asof_join": _sql_asof_join(),
    "idw_surface": _sql_idw_surface(),
    "path_length": _sql_path_length(),
    "corpus_cube": SQL_corpus_cube,
    "hotspots": _sql_hotspots(),
    "od_matrix": _sql_od_matrix(),
    "snap_simplify": _sql_snap_simplify(),
    "bm25_topk": _sql_bm25(),
    "stratified_sample": _sql_stratified_sample(),
    "pack_sequences": _sql_pack_sequences(),
    "decontaminate": _sql_decontaminate(),
    "simhash_groups": _sql_simhash_groups(),
    "lsh_histogram": _sql_lsh_histogram(),
    "winnow_fingerprints": _sql_winnow_fingerprints(),
    "adaptive_cell_split": _sql_adaptive_cell_split(),
}
