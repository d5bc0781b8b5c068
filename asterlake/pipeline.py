"""End-to-end medallion pipeline: bronze JSON -> silver parquet -> gold star.

Replaces the reference's three separately-orchestrated scripts
(``src/etl/bronze_ingest.py`` -> ``bronze_to_silver.py`` -> ``silver_to_gold.py``,
wired by the Airflow DAG ``airflow/dags/nasa_asteroids_pipeline_venv.py:36-51``)
with one callable; orchestration stays external (cron/Airflow calls ``run``).

Performance notes vs the reference:
- The silver DataFrame is persisted once before the four gold writes; the
  reference recomputes the full silver scan + joins per write (four actions,
  SURVEY §3.1 note 3).
- The fact derives its dim keys from its own row (operators/star.py): no
  join, no shuffle, and no write waits on another, so the four gold writes
  run concurrently (sources/writers.py).
- At 80 rows a day the run is bound by serial driver round trips, not data,
  so it spends no action on what is already known: silver and gold read
  with declared schemas, and the returned counts come from the writes
  themselves plus one query.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from asterlake.catalog import register_gold, row_counts
from asterlake.operators.flatten import flatten_feed
from asterlake.operators.star import build_star
from asterlake.sources.bronze import read_bronze
from asterlake.sources.writers import read_silver, write_gold, write_silver


def run(
    spark: SparkSession,
    bronze_path: str,
    silver_path: str,
    gold_root: str,
    *,
    all_approaches: bool = False,
    batch_id: int | None = None,
    processing_time: datetime | None = None,
    register_views: bool = True,
) -> dict[str, int]:
    """Run bronze -> silver -> gold for every document under `bronze_path`.

    Returns row counts: ``silver`` is this batch's silver rows, observed
    while the fact is written (the fact has one row per silver row); with
    ``register_views``, each gold table's cumulative rows (gold is
    append-only) come from one grouped query over the registered views.
    """
    bronze = read_bronze(spark, bronze_path)
    silver = flatten_feed(
        bronze,
        all_approaches=all_approaches,
        batch_id=batch_id,
        processing_time=processing_time,
    )
    write_silver(silver, silver_path)

    # Read the written silver back (column-pruned parquet scans beat
    # re-flattening JSON), pruned to THIS batch's partition — the reference
    # builds gold from today's partition only (src/etl/silver_to_gold.py:32,
    # by literal path; here via a partition-pruned filter) — and persist
    # across the four gold actions.
    # The partition filter must use the SAME clock that stamped
    # _processing_date: flatten_feed uses the session's current_date()
    # (UTC-pinned) when no processing_time is injected, so a driver-local
    # datetime.now() on a non-UTC host (or across midnight) would prune to
    # a partition that was never written (ADVICE r1).
    if processing_time is not None:
        batch_date = processing_time.date()
    else:
        batch_date = spark.sql("SELECT current_date() AS d").collect()[0].d
    silver_back = read_silver(spark, silver_path, processing_date=batch_date).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        tables = build_star(silver_back)
        fact_rows = Observation()
        fact = tables["fact_asteroid_approach"].observe(fact_rows, F.count(F.lit(1)).alias("n"))
        write_gold({**tables, "fact_asteroid_approach": fact}, gold_root)
        counts = {"silver": fact_rows.get["n"]}
        if register_views:
            register_gold(spark, gold_root)
            counts.update(row_counts(spark, tables))
    finally:
        silver_back.unpersist()
    return counts
