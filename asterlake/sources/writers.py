"""Parquet writers with sane lakehouse semantics.

Reference behaviors and their fixes (SURVEY.md §4, §7):

- Silver: the reference writes ``mode("overwrite").partitionBy(...)``
  (``src/etl/bronze_to_silver.py:94-98``) which with static overwrite wipes
  EVERY partition, i.e. each daily run destroys all history. We write with
  ``partitionOverwriteMode=dynamic`` so only the partitions present in the
  batch are replaced — idempotent re-runs of one day, history intact.
- Gold: the reference appends blindly (``src/etl/silver_to_gold.py:82-96``)
  so dims accumulate duplicate natural keys across days. ``write_gold``
  keeps append as the parity default; ``merge_dimension`` provides the
  fixed upsert (anti-join + union rewrite — Delta MERGE semantics without
  needing the Delta jars, which aren't in this image).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from asterlake.schemas import SILVER_SCHEMA


def write_silver(df: DataFrame, path: str) -> None:
    """Partitioned silver write; replaces only the partitions in this batch."""
    (
        df.write.format("parquet")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_processing_date")
        .save(path)
    )


def read_silver(spark: SparkSession, path: str, processing_date=None) -> DataFrame:
    """Read silver; optional filter on the partition column.

    The reference reads the partition by literal path
    (``.../_processing_date={today}/``, src/etl/silver_to_gold.py:32) which
    silently drops the partition column from the schema. Filtering on the
    column instead gets identical I/O via Catalyst partition pruning and
    keeps the schema complete. The schema is declared, so the read launches
    no footer-reading job.
    """
    df = spark.read.schema(SILVER_SCHEMA).parquet(path)
    if processing_date is not None:
        from pyspark.sql import functions as F

        df = df.filter(F.col("_processing_date") == F.lit(processing_date))
    return df


def write_gold(tables: dict[str, DataFrame], root: str, mode: str = "append") -> None:
    """Write the four gold tables (parity default: append, like reference
    src/etl/silver_to_gold.py:82-96).

    The writes are submitted together, one thread each: a day's gold is a
    few hundred rows, so each write is mostly serial driver round trips,
    and overlapping them costs about one write instead of four. Each thread
    inherits the caller's local properties (job group, scheduler pool), so
    its jobs are attributed as if the caller had run them. If a write
    fails, the others still finish and the first failure is raised.
    """
    if not tables:
        return
    spark = next(iter(tables.values())).sparkSession

    def write(name: str, df: DataFrame) -> None:
        df.write.mode(mode).parquet(os.path.join(root, name))

    target = inheritable_thread_target(spark)(write)
    with ThreadPoolExecutor(max_workers=len(tables)) as pool:
        futures = [pool.submit(target, name, df) for name, df in tables.items()]
    for future in futures:
        future.result()


def merge_dimension(
    spark: SparkSession, incoming: DataFrame, path: str, natural_key: str
) -> None:
    """Idempotent dim upsert without Delta: existing-if-absent + incoming.

    Keeps the existing row on key conflict (dims are slowly changing type 1
    "ignore updates" here — same survivor semantics as the reference's
    first-write-wins read patterns). Rewrite is atomic-enough for a local
    lakehouse: write to a temp dir then swap would be the production move;
    at 100 TB the real answer is Delta/Iceberg MERGE (jars not in this
    image — gated out, SURVEY §7.4).
    """
    import shutil
    import tempfile

    try:
        existing = spark.read.parquet(path)
        merged = existing.unionByName(
            incoming.join(existing, on=natural_key, how="left_anti")
        )
    except Exception:
        merged = incoming
    tmp = tempfile.mkdtemp(prefix="asterlake_merge_")
    out = os.path.join(tmp, "data")
    merged.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    back.write.mode("overwrite").parquet(path)
    shutil.rmtree(tmp, ignore_errors=True)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (optionally sort-within-bucket) catalog table.

    Bucketing pre-shuffles the data ONCE at write time: two tables bucketed
    the same way on the join key then join with ZERO exchanges (verified in
    tests/test_skew_bucketing.py), and aggregations on the bucket key skip
    their shuffle too. This is the physical design lever for a fact table
    that joins on the same key in every query — at 100 TB it converts every
    downstream join from "shuffle 100 TB" to "local merge".

    Parquet + native catalog (no Hive needed); Spark records bucket spec in
    the table metadata, so readers must go through ``spark.table(...)``.
    """
    writer = df.write.format("parquet").mode(mode).bucketBy(
        n_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)
