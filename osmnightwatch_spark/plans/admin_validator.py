"""End-to-end admin-boundary validator — the reference's flagship
analyzer (``AdminCountPerCountryAnalyzer``) as one composed Spark plan.

Pipeline (mirrors ProcessPbf, SURVEY.md §3.1, stages 4-6):

1. filter admin relations (boundary=administrative ∧ type=boundary ∧
   admin_level ∈ 2..9 — FilterSettings, :93-103);
2. assemble polygons per relation (operators/assembly) → geometry or
   failure reason; failures become OpenAdminPolygon issues;
3. admin_centre structural checks (:263-294);
4. state construction: country (admin_level=2) polygons become the
   prepared PIP set (``PreparedPolygons.build``: memoized, so a
   streaming re-run over the same countries covers them once, and
   covered on executors once the countries hold enough vertices);
   every admin's representative point joins against it →
   per-(country, level) sorted admin sets (A5) and the reverse
   admin→country map (A6);
5. expected-vs-actual diff (operators/issues.admin_diff_issues) →
   lost/gained/missing issues.

Everything but the pandas kernels (ring stitch, representative point,
and the covering when the country set is large) is native DataFrame
ops; the PIP refine is a native SQL ray cast.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import geometry as G
from ..operators.assembly import assemble_polygons
from ..operators.issues import admin_diff_issues, broken_polygon_issues
from ..operators.pip_join import PreparedPolygons, pip_join


def admin_relations(relations: DataFrame) -> DataFrame:
    """FilterSettings analog (AdminCountPerCountryAnalyzer.cs:93-103)."""
    tags = F.col("tags")
    return relations.where(
        (F.element_at(tags, "boundary") == "administrative")
        & (F.element_at(tags, "type") == "boundary")
        & F.element_at(tags, "admin_level").cast("int").between(2, 9)
    ).withColumn("admin_level", F.element_at(tags, "admin_level").cast("int")) \
        .withColumn(
            "name",
            F.coalesce(
                F.element_at(tags, "name:en"), F.element_at(tags, "name"), F.lit("")
            ),
        )


def admin_centre_issues(relations: DataFrame, nodes: DataFrame) -> DataFrame:
    """admin_centre member checks (:263-294): >1 admin_centre member,
    non-node admin_centre member, or admin_centre node lacking a
    ``place`` tag."""
    ac = relations.select(
        F.col("id").alias("relation_id"), F.explode("members").alias("m")
    ).where(F.col("m.role") == "admin_centre")
    counts = ac.groupBy("relation_id").agg(F.count(F.lit(1)).alias("n"))
    multi = counts.where(F.col("n") > 1).select(
        F.lit("AdminCentre").alias("issue_type"), F.lit("R").alias("osm_type"),
        F.col("relation_id").cast("long").alias("osm_id"),
        F.lit("More than one admin_centre member").alias("details"),
    )
    non_node = ac.where(F.col("m.member_type") != "node").select(
        F.lit("AdminCentre").alias("issue_type"), F.lit("R").alias("osm_type"),
        F.col("relation_id").cast("long").alias("osm_id"),
        F.lit("admin_centre member is not a node").alias("details"),
    )
    node_side = ac.where(F.col("m.member_type") == "node").join(
        nodes.select(F.col("id").alias("node_id"), "tags"),
        F.col("m.member_id") == F.col("node_id"), "left",
    )
    no_place = node_side.where(
        F.col("tags").isNull() | ~F.map_contains_key("tags", "place")
    ).select(
        F.lit("AdminCentre").alias("issue_type"), F.lit("R").alias("osm_type"),
        F.col("relation_id").cast("long").alias("osm_id"),
        F.lit("admin_centre node has no place tag").alias("details"),
    )
    return multi.unionByName(non_node).unionByName(no_place)


@F.pandas_udf(T.ArrayType(T.DoubleType()))
def _rep_point(wkb: pd.Series) -> pd.Series:
    """Representative point: first shell's vertex centroid (always
    deterministic; used only to assign an admin to a country)."""
    out = []
    for buf in wkb:
        if buf is None:
            out.append(None)
            continue
        shell = G.wkb_to_polygons(bytes(buf))[0][0]
        out.append([float(shell[:-1, 0].mean()), float(shell[:-1, 1].mean())])
    return pd.Series(out)


def build_state(assembled: DataFrame, admin_meta: DataFrame,
                cover_res: int = 7) -> DataFrame:
    """Actual state: (country_id, country_name, admin_level, admin_id).

    Countries = assembled level-2 polygons, collected and prepared by
    ``PreparedPolygons.build`` (the reference's in-memory STRtree,
    :470-490; the builder picks driver or executors for the covering
    itself); admins join by representative point (J3/J4).
    """
    meta = admin_meta.select("relation_id", "admin_level", "name")
    geoms = assembled.where(F.col("reason").isNull()).join(meta, "relation_id")
    countries = geoms.where(F.col("admin_level") == 2).select(
        "relation_id", "name", "geom_wkb").collect()
    polys = [(int(r.relation_id), bytes(r.geom_wkb)) for r in countries]
    prepared = PreparedPolygons.build(polys, res=cover_res)
    names = {int(r.relation_id): r.name for r in countries}
    admins = geoms.where(F.col("admin_level") > 2).withColumn(
        "rp", _rep_point(F.col("geom_wkb"))
    ).select(
        F.col("relation_id").alias("admin_id"), "admin_level",
        F.element_at("rp", 1).alias("lon"), F.element_at("rp", 2).alias("lat"),
    )
    hits = pip_join(admins, prepared)
    name_expr = F.create_map(
        *[x for k, v in names.items() for x in (F.lit(k), F.lit(v))]
    ) if names else F.create_map()
    return hits.select(
        F.col("polygon_id").alias("country_id"),
        name_expr[F.col("polygon_id")].alias("country_name"),
        "admin_level", "admin_id",
    )


def country_admin_sets(state: DataFrame) -> DataFrame:
    """A5: per (country, level) sorted admin list + count."""
    return state.groupBy("country_id", "admin_level").agg(
        F.sort_array(F.collect_set("admin_id")).alias("admin_ids"),
        F.countDistinct("admin_id").alias("n_admins"),
    )


def admins_to_country(state: DataFrame) -> DataFrame:
    """A6: reverse map admin → [(country, level)]."""
    return state.groupBy("admin_id").agg(
        F.sort_array(
            F.collect_set(F.struct("country_id", "admin_level"))
        ).alias("memberships")
    )


def validate(relations: DataFrame, ways: DataFrame, nodes: DataFrame,
             expected: DataFrame) -> DataFrame:
    """The full analyzer: returns the issues DataFrame."""
    admins = admin_relations(relations)
    assembled = assemble_polygons(
        admins.select("id", "members", "tags"), ways, nodes
    )
    broken = broken_polygon_issues(assembled)
    centre = admin_centre_issues(admins, nodes)
    state = build_state(assembled, admins.select(
        F.col("id").alias("relation_id"), "admin_level", "name"))
    diff = admin_diff_issues(expected, state)
    return broken.unionByName(centre).unionByName(diff)
