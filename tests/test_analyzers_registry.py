"""Analyzer registry composition + JSON sink round-trip."""

import pandas as pd
from pyspark.sql import functions as F

from osmnightwatch_spark.plans.analyzers import (
    default_registry, names_issues, write_issues_json,
)

from tests.test_validator_plan_streaming import admin_world  # noqa: F401
from tests.test_validators_cdc import COAST_SCHEMA, v


def test_registry_runs_both_analyzers(spark, admin_world, tmp_path):  # noqa: F811
    rel_df, ways_df, nodes_df, expected = admin_world
    coast = spark.createDataFrame(
        [(2, 20, 20, v((5, 0), (5, 2), (7, 2), (7, 0), (5, 0)))], COAST_SCHEMA)
    entities = {
        "relations": rel_df, "ways": ways_df, "nodes": nodes_df,
        "expected": expected, "coastline_ways": coast,
    }
    reg = default_registry()
    issues = reg.run(entities, old_issues=None, batch_ts="2024-05-01 00:00:00")
    pdf = issues.toPandas()
    assert set(pdf.analyzer) == {"AdminCountPerCountry", "BrokenCoastline"}
    assert (pdf.first_time_seen.astype(str).str.startswith("2024-05-01")).all()

    # second batch: carry-forward keeps old timestamps for persisting issues
    issues2 = reg.run(entities, old_issues=issues, batch_ts="2024-06-01 00:00:00")
    pdf2 = issues2.toPandas()
    assert (pdf2.first_time_seen.astype(str).str.startswith("2024-05-01")).all()

    out = str(tmp_path / "issues_json")
    write_issues_json(issues2, out)
    back = spark.read.json(out)
    assert back.count() == len(pdf2)
    assert {"issue_type", "osm_type", "osm_id", "details", "analyzer"} <= set(back.columns)


def test_publish_freshness_gate(spark, tmp_path):
    """Reference Program.cs:176-192: stale batches with no newer data
    than the published copy are skipped; fresh batches (or batches
    newer than what's published) go out."""
    issues = spark.createDataFrame(pd.DataFrame({"issue_type": ["x"], "osm_id": [1]}))
    out = str(tmp_path / "issues_json")

    # fresh batch (within 5 min of 'now') → publishes
    assert write_issues_json(issues, out, batch_ts="2024-05-01 00:03:00",
                             now_ts="2024-05-01 00:05:00")
    # stale batch, and the published copy is NEWER → skipped
    assert not write_issues_json(issues, out, batch_ts="2024-04-30 23:00:00",
                                 now_ts="2024-05-01 01:00:00")
    # stale batch but newer than the published copy → publishes
    # (the reference's existingData.DateTime < new.DateTime arm)
    assert write_issues_json(issues, out, batch_ts="2024-05-01 00:10:00",
                             now_ts="2024-05-01 01:00:00")
    # stale batch, nothing published yet at a fresh path → skipped
    out2 = str(tmp_path / "issues_json2")
    assert not write_issues_json(issues, out2, batch_ts="2024-05-01 00:00:00",
                                 now_ts="2024-05-01 01:00:00")
    # no batch_ts → unconditional legacy write
    assert write_issues_json(issues, out2)


def test_publish_failure_keeps_last_good(spark, tmp_path):
    """A mid-write failure must leave the previously published copy
    (and its meta) intact — reference parity with UploadIssues'
    try/catch keep-last-good behavior (Program.cs:176-192)."""
    good = spark.createDataFrame(pd.DataFrame({"issue_type": ["x"], "osm_id": [1]}))
    out = str(tmp_path / "issues_json")
    assert write_issues_json(good, out, batch_ts="2024-05-01 00:03:00",
                             now_ts="2024-05-01 00:05:00")
    before = spark.read.json(out).toPandas()

    @F.udf("long")
    def boom(x):
        raise ValueError("synthetic write failure")

    bad = good.withColumn("osm_id", boom(F.col("osm_id")))
    try:
        write_issues_json(bad, out, batch_ts="2024-05-01 00:06:00",
                          now_ts="2024-05-01 00:07:00")
        raised = False
    except Exception:
        raised = True
    assert raised
    after = spark.read.json(out).toPandas()
    assert after.equals(before)
    # meta still points at the ORIGINAL publish: a batch newer than it
    # (but older than the failed one) must still publish
    assert write_issues_json(good, out, batch_ts="2024-05-01 00:04:00",
                             now_ts="2024-05-01 01:00:00")


def test_dedup_clusters_nonconvergence_raises(spark):
    """Exhausting max_iters without convergence must raise, not return
    silently-partial labels (a partial labeling under-deduplicates)."""
    import pytest

    from osmnightwatch_spark.operators.dedup import dedup_clusters

    n = 64  # long chain: min-label needs several rounds even with jumping
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": list(range(1, n)), "id_b": list(range(2, n + 1))})
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(pairs, max_iters=1)
    # enough rounds → converges to one cluster labeled by the min id
    out = dedup_clusters(pairs).toPandas()
    assert set(out.keeper_id) == {1}


def test_names_analyzer(spark):
    nodes = spark.createDataFrame(
        [(1, 0.0, 0.0, {"name": "*"}), (2, 1.0, 1.0, {"name": "Riga"}),
         (3, 2.0, 2.0, None)],
        "id long, lon double, lat double, tags map<string,string>")
    ways = spark.createDataFrame(
        [(10, [1, 2], {"name": "*"})],
        "id long, nodes array<long>, tags map<string,string>")
    out = names_issues({"nodes": nodes, "ways": ways}).toPandas()
    assert set(zip(out.osm_type, out.osm_id)) == {("N", 1), ("W", 10)}
    assert (out.issue_type == "Invalid characters").all()
    assert (out.details == "*").all()
