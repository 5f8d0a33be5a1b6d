"""Expected-state JSON source + important-features analyzer + J6
incremental crossing join."""

import json
import os

import pytest

import pandas as pd
from pyspark.sql import functions as F

from osmnightwatch_spark.operators.coastline import (
    crossing_issues, crossing_issues_incremental,
)
from osmnightwatch_spark.operators.important_features import (
    format_allowed, important_feature_issues,
)
from osmnightwatch_spark.sources.expected_state import (
    normalize_expected, read_expected_state,
)

from tests.test_validators_cdc import COAST_SCHEMA, v


def test_expected_state_json_roundtrip(spark, tmp_path):
    docs = [
        {"RelationId": 100, "EnglishName": "Alpha", "Iso2": "AA", "Iso3": "AAA",
         "Admins": {"4": [11, 12], "6": [21]}},
        {"RelationId": 200, "EnglishName": "Beta", "Iso2": "BB", "Iso3": "BBB",
         "Admins": {"4": [31]}},
    ]
    # one pretty-printed object per file, like the reference corpus
    for d in docs:
        (tmp_path / f"{d['EnglishName']}.json").write_text(json.dumps(d, indent=2))
    nested = read_expected_state(spark, str(tmp_path))
    assert nested.count() == 2
    flat = normalize_expected(nested).toPandas()
    assert len(flat) == 4
    row = flat[(flat.country_id == 100) & (flat.admin_level == 6)]
    assert list(row.admin_id) == [21] and row.iloc[0].country_name == "Alpha"


def test_format_allowed_variants(spark):
    df = spark.createDataFrame(pd.DataFrame({"i": [1]}))
    out = df.select(
        format_allowed(F.array(F.lit("a"))).alias("one"),
        format_allowed(F.array(F.lit("a"), F.lit("b"))).alias("two"),
        format_allowed(F.array(F.lit("a"), F.lit("b"), F.lit("c"))).alias("three"),
    ).collect()[0]
    assert out.one == "'a'"
    assert out.two == "'a' or 'b'"
    assert out.three == "'a', 'b', or 'c'"


def test_important_feature_issues(spark):
    entities = spark.createDataFrame(
        [("N", 1, {"place": "city"}), ("N", 2, {"place": "hamlet"}), ("N", 3, {})],
        "osm_type string, osm_id long, tags map<string,string>")
    specs = spark.createDataFrame(
        [("N", 1, "place", ["city", "town"]),
         ("N", 2, "place", ["city", "town"]),
         ("N", 3, "place", ["city"])],
        "osm_type string, osm_id long, tag string, allowed array<string>")
    out = important_feature_issues(entities, specs).toPandas().set_index("osm_id")
    assert 1 not in out.index                       # compliant
    assert out.loc[2].details == "Tag 'place' is 'hamlet', expected 'city' or 'town'"
    assert out.loc[3].details == "Tag 'place' is missing, expected 'city'"


def test_crossing_incremental_subset(spark):
    rows = [
        (1, 10, 11, v((0, 0), (4, 4))),
        (2, 12, 13, v((0, 4), (4, 0))),     # crosses 1
        (3, 20, 21, v((10, 0), (14, 4))),
        (4, 22, 23, v((10, 4), (14, 0))),   # crosses 3
    ]
    ways = spark.createDataFrame(rows, COAST_SCHEMA)
    full = crossing_issues(ways).toPandas()
    assert set(full.osm_id) == {1, 2, 3, 4}
    # only way 1 changed → only the (1,2) pair re-checked
    changed = spark.createDataFrame(pd.DataFrame({"id": [1]}))
    inc = crossing_issues_incremental(ways, changed).toPandas()
    assert set(inc.osm_id) == {1, 2}


# ---------------------------------------------------------------------------
# golden corpus: the reference's real 235-country expected state
# ---------------------------------------------------------------------------

CORPUS = "/root/reference/ExpectedStateOfAdmins"


@pytest.mark.skipif(not os.path.isdir(CORPUS), reason="reference corpus absent")
def test_golden_corpus_loads_all_235(spark):
    """Every file in ExpectedStateOfAdmins parses through the S14
    source; spot values pinned against the raw JSON (Latvia.json)."""
    nested = read_expected_state(spark, CORPUS)
    rows = nested.collect()
    assert len(rows) == len(os.listdir(CORPUS)) == 235
    assert all(r.RelationId is not None for r in rows)
    flat = normalize_expected(nested)
    lv = flat.where("country_id = 72594").toPandas()
    assert set(lv.admin_level) == {5} and len(lv) == 42
    assert 1797378 in set(lv.admin_id)
    assert lv.country_name.iloc[0] == "Latvia"


@pytest.mark.skipif(not os.path.isdir(CORPUS), reason="reference corpus absent")
def test_golden_corpus_admin_diff_end_to_end(spark):
    """admin_diff over the real corpus vs an independent pandas diff:
    perturb the actual state deterministically (drop every 7th admin,
    inject a synthetic gained admin per country%11) and check the
    issue sets match exactly."""
    from osmnightwatch_spark.operators.issues import admin_diff_issues

    expected = normalize_expected(read_expected_state(spark, CORPUS))
    exp_pdf = expected.toPandas()

    actual_pdf = exp_pdf[exp_pdf.admin_id % 7 != 0][
        ["country_id", "admin_level", "admin_id"]].copy()
    gained = exp_pdf[["country_id", "admin_level"]].drop_duplicates()
    gained = gained[gained.country_id % 11 == 0].copy()
    gained["admin_id"] = gained.country_id * 1000 + gained.admin_level
    actual_pdf = pd.concat([actual_pdf, gained], ignore_index=True)

    actual = spark.createDataFrame(actual_pdf)
    issues = admin_diff_issues(expected, actual).toPandas()

    lost = exp_pdf[exp_pdf.admin_id % 7 == 0]
    got_lost = issues[issues.issue_type.str.startswith("LostAdmin")]
    assert set(got_lost.osm_id) == set(lost.admin_id)
    got_gained = issues[issues.issue_type.str.startswith("GainedAdmin")]
    assert set(got_gained.osm_id) == set(gained.admin_id)
    # no country disappears entirely in this perturbation
    assert not (issues.issue_type == "MissingCountry").any()
