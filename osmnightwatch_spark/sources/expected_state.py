"""Expected-state golden table source (S14).

The reference ships 235 curated country JSONs
(``ExpectedStateOfAdmins/*.json``, schema per ``Latvia.json:1-12`` /
``Country.cs:7-31``: RelationId, names, ISO codes, ``Admins``: a map
admin_level → [relation ids]) fetched with ETag caching
(``AdminCountPerCountryAnalyzer.cs:296-316``). Here: a local JSON
directory read with an explicit schema (no inference, no network) and
normalized to the flat diff shape the validator consumes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EXPECTED_SCHEMA = T.StructType([
    T.StructField("RelationId", T.LongType(), False),
    T.StructField("EnglishName", T.StringType(), True),
    T.StructField("Iso2", T.StringType(), True),
    T.StructField("Iso3", T.StringType(), True),
    T.StructField("Admins", T.MapType(T.StringType(), T.ArrayType(T.LongType())), True),
])


def read_expected_state(spark: SparkSession, path: str,
                        multiline: bool = True) -> DataFrame:
    """JSON dir/file → nested golden table (one row per country).

    The reference corpus is one pretty-printed JSON object per country
    file (``Latvia.json``), hence ``multiLine`` by default; pass
    ``multiline=False`` for JSON-lines inputs."""
    return (
        spark.read.schema(EXPECTED_SCHEMA)
        .option("multiLine", "true" if multiline else "false")
        .json(path)
    )


def normalize_expected(expected: DataFrame) -> DataFrame:
    """Nested map-of-arrays → flat (country_id, country_name,
    admin_level, admin_id) rows for operators/issues.admin_diff_issues
    (the reference diffs per level, :240-257)."""
    lvl = expected.select(
        F.col("RelationId").alias("country_id"),
        F.col("EnglishName").alias("country_name"),
        F.explode("Admins").alias("level_str", "admin_ids"),
    )
    return lvl.select(
        "country_id", "country_name",
        F.col("level_str").cast("int").alias("admin_level"),
        F.explode("admin_ids").alias("admin_id"),
    )
