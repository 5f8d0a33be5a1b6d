"""Co-location join invariants: planted co-travelers, evidence
counts, bucket cap, twin equality."""
import duckdb
import pandas as pd
from pyspark.sql import functions as F

from osmnightwatch_spark.operators.colocation import (colocation_pairs,
                                                      colocation_pairs_sql)


def _fixes(spark):
    # users 1,2 together at (10,10) for two daily windows; user 2
    # sighted twice in the second window; user 3 same cell but a
    # week later; user 4 far away
    rows = [
        (1, "2024-01-01 10:00:00", 10.0, 10.0),
        (2, "2024-01-01 11:00:00", 10.0, 10.0),
        (1, "2024-01-02 10:00:00", 10.0, 10.0),
        (2, "2024-01-02 09:00:00", 10.0, 10.0),
        (2, "2024-01-02 12:00:00", 10.0, 10.0),
        (3, "2024-01-09 10:00:00", 10.0, 10.0),
        (4, "2024-01-01 10:00:00", -120.0, -40.0),
    ]
    return rows, spark.createDataFrame(
        rows, "user_id long, ts string, lon double, lat double"
    ).select("user_id", F.to_timestamp("ts").alias("ts"), "lon", "lat")


def test_colocation_planted_pairs_and_evidence(spark):
    rows, pts = _fixes(spark)
    got = {(r.a, r.b): (r.n_buckets, r.n_sightings)
           for r in colocation_pairs(pts, res=6, window_s=86400).collect()}
    # only (1,2) co-locate: 2 shared windows; sightings 1*1 + 1*2 = 3
    assert got == {(1, 2): (2, 3)}

    con = duckdb.connect()
    con.execute("CREATE TABLE p (user_id BIGINT, ts TIMESTAMP, "
                "lon DOUBLE, lat DOUBLE)")
    con.executemany("INSERT INTO p VALUES (?, ?, ?, ?)", rows)
    exp = con.execute(colocation_pairs_sql(
        "SELECT * FROM p", res=6, window_s=86400)).fetchall()
    assert {(a, b): (nb, ns) for a, b, nb, ns in exp} == got


def test_colocation_bucket_cap_and_hot_report(spark):
    # a 5-entity stadium bucket + a 2-entity normal bucket
    rows = [(i, "2024-01-01 10:00:00", 10.0, 10.0) for i in range(5)]
    rows += [(10, "2024-01-01 10:00:00", -120.0, -40.0),
             (11, "2024-01-01 11:00:00", -120.0, -40.0)]
    pts = spark.createDataFrame(
        rows, "user_id long, ts string, lon double, lat double"
    ).select("user_id", F.to_timestamp("ts").alias("ts"), "lon", "lat")

    capped = colocation_pairs(pts, res=6, window_s=86400,
                              max_per_bucket=4).collect()
    assert {(r.a, r.b) for r in capped} == {(10, 11)}  # stadium dropped
    full = colocation_pairs(pts, res=6, window_s=86400).collect()
    assert len(full) == 10 + 1  # C(5,2) + the pair

    # SQL twin honors the cap identically
    con = duckdb.connect()
    con.execute("CREATE TABLE p (user_id BIGINT, ts TIMESTAMP, "
                "lon DOUBLE, lat DOUBLE)")
    con.executemany("INSERT INTO p VALUES (?, ?, ?, ?)", rows)
    exp = con.execute(colocation_pairs_sql(
        "SELECT * FROM p", res=6, window_s=86400,
        max_per_bucket=4)).fetchall()
    assert {(a, b) for a, b, *_ in exp} == {(10, 11)}


def test_colocation_unordered_and_no_self_pairs(spark):
    rows, pts = _fixes(spark)
    out = colocation_pairs(pts, res=6, window_s=86400).toPandas()
    assert (out.a < out.b).all()
