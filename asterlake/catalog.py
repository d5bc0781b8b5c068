"""Spark SQL catalog over the gold layer — replaces the reference's DuckDB
serving stack (``src/gold_catalog.py``) with the same engine that built the
data: one system, no second optimizer, no per-file view binding.

Reference quirks fixed:
- ``src/gold_catalog.py:39-61`` globs ``gold/*/*.parquet`` and binds each view
  to a SINGLE parquet file; with multiple batch files per table the last one
  discovered wins. Spark reads the table *directory*, so views always see
  every batch.
- ``SHOW TABLES`` / ``DESCRIBE`` / ad-hoc SQL (:66-84) map 1:1 onto Spark SQL.

Views bind with the declared gold schemas (``schemas.GOLD_SCHEMAS``), so
registering launches no Spark job. A directory written with other columns
reads through the declared schema: missing columns read as null.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from asterlake.schemas import GOLD_SCHEMAS, GOLD_TABLES


def register_gold(spark: SparkSession, gold_root: str, tables=GOLD_TABLES) -> list[str]:
    """CREATE OR REPLACE TEMP VIEW per gold table directory
    (reference src/gold_catalog.py:52-61)."""
    registered = []
    for name in tables:
        path = os.path.join(gold_root, name)
        if not _exists(spark, path):
            continue
        spark.read.schema(GOLD_SCHEMAS[name]).parquet(path).createOrReplaceTempView(name)
        registered.append(name)
    return registered


def row_counts(spark: SparkSession, views) -> dict[str, int]:
    """Row count of each registered view, from one query (a grouped union)
    instead of one count action per view."""
    union = " UNION ALL ".join(f"SELECT '{v}' AS name FROM `{v}`" for v in views)
    rows = spark.sql(f"SELECT name, count(*) AS n FROM ({union}) GROUP BY name").collect()
    got = {r.name: r.n for r in rows}
    return {v: got.get(v, 0) for v in views}


def _exists(spark: SparkSession, path: str) -> bool:
    if "://" not in path:
        return os.path.isdir(path) or os.path.isfile(path)
    # object-store paths: let Hadoop answer
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf).exists(p)


def show_tables(spark: SparkSession) -> DataFrame:
    """Reference src/gold_catalog.py:68 (`SHOW TABLES`)."""
    return spark.sql("SHOW TABLES")


def describe(spark: SparkSession, table: str) -> DataFrame:
    """Reference src/gold_catalog.py:75 (`DESCRIBE <table>`)."""
    return spark.sql(f"DESCRIBE {table}")


def sql(spark: SparkSession, query: str) -> DataFrame:
    """Ad-hoc SQL over the registered views (reference :80-84)."""
    return spark.sql(query)
