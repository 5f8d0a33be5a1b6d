"""Analyzer plugin surface — the engine's ``IOsmAnalyzer`` parity.

The reference defines a plugin contract
(``Analyzers/IOsmAnalyzer.cs:6-15``: AnalyzerName, declarative
FilterSettings, ProcessPbf cold-batch, ProcessChangeset incremental)
and a registry (``Program.cs:43-47``). The Spark-native equivalent is
a protocol of DataFrame transforms:

* ``name`` — analyzer id (issue rows carry it);
* ``relevant(entities)`` — the declarative filter (Catalyst predicate,
  pushdown-friendly) selecting what the analyzer consumes;
* ``analyze(entities)`` — cold batch: returns the issues DataFrame;
* ``analyze_incremental(entities, dirty)`` — re-analyze only the
  dirty scope (defaults to full ``analyze`` over a semi-joined
  subset).

``run_analyzers`` composes registered analyzers into one issues table
with FirstTimeSeen carry-forward (operators/issues), and
``write_issues_json`` is the reference's JSON publish sink
(``IssuesUploader.cs:9-21``) — a distributed JSON write, no driver
collect.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.issues import carry_first_seen


@dataclass
class Analyzer:
    name: str
    relevant: Callable[[dict], DataFrame]
    analyze: Callable[[dict], DataFrame]
    analyze_incremental: Callable[[dict, DataFrame], DataFrame] | None = None


class Registry:
    def __init__(self):
        self._analyzers: list[Analyzer] = []

    def register(self, analyzer: Analyzer) -> "Registry":
        self._analyzers.append(analyzer)
        return self

    def run(self, entities: dict, old_issues: DataFrame | None,
            batch_ts: str, dirty: DataFrame | None = None) -> DataFrame:
        """Cold batch (dirty=None) or incremental; one issues table."""
        outs = []
        for a in self._analyzers:
            if dirty is not None and a.analyze_incremental is not None:
                out = a.analyze_incremental(entities, dirty)
            else:
                out = a.analyze(entities)
            outs.append(out.withColumn("analyzer", F.lit(a.name)))
        issues = outs[0]
        for o in outs[1:]:
            issues = issues.unionByName(o)
        return carry_first_seen(issues, old_issues, batch_ts)


def names_issues(entities: dict) -> DataFrame:
    """NamesAnalyzer parity (``Analyzers/NamesAnalyzer/NamesAnalyzer.cs:
    18-34``): entities carrying a ``name`` tag whose value is ``"*"``
    → "Invalid characters". Not registered in the reference's own
    analyzer array (Program.cs:42-46) so not in :func:`default_registry`
    either; provided for U3 per-row-validator surface completeness —
    pure native expressions, filter is pushdown-friendly."""
    outs = []
    for kind, code in (("nodes", "N"), ("ways", "W"), ("relations", "R")):
        if kind not in entities:
            continue
        df = entities[kind]
        named = df.where(F.map_contains_key(F.col("tags"), F.lit("name")))
        bad = named.where(F.element_at(F.col("tags"), F.lit("name")) == "*")
        outs.append(bad.select(
            F.lit("Invalid characters").alias("issue_type"),
            F.lit(code).alias("osm_type"),
            F.col("id").cast("long").alias("osm_id"),
            F.element_at(F.col("tags"), F.lit("name")).alias("details"),
        ))
    issues = outs[0]
    for o in outs[1:]:
        issues = issues.unionByName(o)
    return issues


def default_registry() -> Registry:
    """The reference's two flagship analyzers, pre-wired."""
    from ..operators.coastline import all_coastline_issues
    from .admin_validator import validate

    admin = Analyzer(
        name="AdminCountPerCountry",
        relevant=lambda e: e["relations"],
        analyze=lambda e: validate(
            e["relations"], e["ways"], e["nodes"], e["expected"]
        ),
    )
    coastline = Analyzer(
        name="BrokenCoastline",
        relevant=lambda e: e["coastline_ways"],
        analyze=lambda e: all_coastline_issues(e["coastline_ways"]),
    )
    return Registry().register(admin).register(coastline)


def write_issues_json(issues: DataFrame, path: str,
                      batch_ts: str | None = None,
                      now_ts: str | None = None,
                      max_staleness_min: int = 5) -> bool:
    """S12 sink: distributed JSON write of the issues relation, behind
    the reference's publish-freshness gate (``Program.cs:176-192``,
    UploadIssues): publish only when the batch is fresh — its
    replication end timestamp within ``max_staleness_min`` of now — OR
    an already-published copy exists and is older than this batch.
    During catch-up over a backlog this skips publishing every stale
    intermediate batch (the final, fresh one publishes); a skipped
    publish does NOT skip the commit — callers checkpoint state
    regardless, exactly like the reference.

    Returns True when published. ``batch_ts=None`` keeps the
    unconditional round-1 behavior. Timestamps are ``YYYY-MM-DD
    HH:MM:SS`` strings; ``now_ts`` is injectable for tests.
    """
    import json
    import os
    from datetime import datetime, timedelta, timezone

    meta_file = os.path.join(path, "_publish_meta.json")
    if batch_ts is not None:
        fmt = "%Y-%m-%d %H:%M:%S"
        batch = datetime.strptime(batch_ts, fmt)
        now = (datetime.strptime(now_ts, fmt) if now_ts is not None
               else datetime.now(timezone.utc).replace(tzinfo=None))
        fresh = batch + timedelta(minutes=max_staleness_min) > now
        existing_older = False
        if os.path.exists(meta_file):
            with open(meta_file) as f:
                existing_older = json.load(f)["batch_ts"] < batch_ts
        if not (fresh or existing_older):
            return False
    # failure-safe publish (reference parity: UploadIssues wraps the
    # upload in try/catch and keeps the existing upload intact on
    # failure — Program.cs:176-192): write the new copy to a sibling
    # temp dir first, then swap via renames, so a mid-write failure
    # leaves the previously published copy (and its meta) untouched
    import shutil

    tmp = path.rstrip("/") + ".__publishing__"
    old = path.rstrip("/") + ".__replaced__"
    shutil.rmtree(tmp, ignore_errors=True)
    issues.write.mode("overwrite").json(tmp)  # failure here: old copy intact
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if batch_ts is not None:
        with open(meta_file, "w") as f:
            json.dump({"batch_ts": batch_ts}, f)
    shutil.rmtree(old, ignore_errors=True)
    return True
