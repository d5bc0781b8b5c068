"""End-to-end pipeline + catalog tests (reference parity for the full DAG
bronze_ingest >> bronze_to_silver >> silver_to_gold + gold_catalog serving)."""

from __future__ import annotations

import datetime as dt

import pytest

from asterlake import catalog, pipeline
from asterlake.schemas import GOLD_TABLES
from asterlake.sources.bronze import write_bronze_document
from asterlake.sources.neows import date_windows, fetch_feed, ingest_range
from tests.fixtures_neows import N_ASTEROID_ROWS, N_DISTINCT_ASTEROIDS, feed_document

BATCH_ID = 1760000000
PROC_TIME = dt.datetime(2025, 10, 10, 1, 30, 0)


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("lake")
    bronze = root / "bronze"
    write_bronze_document(str(bronze), "2025-10-10", feed_document())
    counts = pipeline.run(
        spark,
        str(bronze),
        str(root / "silver"),
        str(root / "gold"),
        batch_id=BATCH_ID,
        processing_time=PROC_TIME,
    )
    return root, counts


def test_counts(lake):
    _, counts = lake
    assert counts["silver"] == N_ASTEROID_ROWS
    assert counts["fact_asteroid_approach"] == N_ASTEROID_ROWS
    assert counts["dim_asteroid"] == N_DISTINCT_ASTEROIDS


def test_silver_partitioned_layout(lake):
    root, _ = lake
    parts = [p.name for p in (root / "silver").iterdir() if p.is_dir()]
    assert parts == ["_processing_date=2025-10-10"]


def test_catalog_serving_query(lake, spark):
    # the reference's demo query (src/gold_catalog.py:80-84)
    df = catalog.sql(
        spark,
        "SELECT asteroid_id, velocity_km_s, miss_distance_km "
        "FROM fact_asteroid_approach LIMIT 5",
    )
    rows = df.collect()
    assert len(rows) == 5
    assert df.columns == ["asteroid_id", "velocity_km_s", "miss_distance_km"]


def test_catalog_introspection(lake, spark):
    tables = {r.tableName for r in catalog.show_tables(spark).collect()}
    assert {
        "dim_asteroid",
        "dim_date",
        "dim_celestial_body",
        "fact_asteroid_approach",
    } <= tables
    desc = catalog.describe(spark, "fact_asteroid_approach").collect()
    cols = {r.col_name for r in desc}
    assert "approach_event_id" in cols and "velocity_km_s" in cols


def test_rerun_same_day_does_not_duplicate_silver(lake, spark):
    # dynamic partition overwrite: re-running a day replaces that day only
    root, _ = lake
    pipeline.run(
        spark,
        str(root / "bronze"),
        str(root / "silver"),
        str(root / "gold2"),
        batch_id=BATCH_ID,
        processing_time=PROC_TIME,
    )
    silver = spark.read.parquet(str(root / "silver"))
    assert silver.count() == N_ASTEROID_ROWS


def test_neows_date_windows():
    w = date_windows(dt.date(2025, 1, 1), dt.date(2025, 1, 20))
    assert w[0] == (dt.date(2025, 1, 1), dt.date(2025, 1, 7))
    assert w[-1] == (dt.date(2025, 1, 15), dt.date(2025, 1, 20))
    assert sum((e - s).days + 1 for s, e in w) == 20


def test_neows_ingest_with_fake_fetcher(tmp_path):
    urls = []

    def fake(url):
        urls.append(url)
        return feed_document()

    paths = ingest_range(
        dt.date(2025, 10, 1), dt.date(2025, 10, 10), "KEY", str(tmp_path), fetcher=fake
    )
    assert len(paths) == 2  # two 7-day windows
    assert "api_key=KEY" in urls[0] and "start_date=2025-10-01" in urls[0]


def test_neows_window_limit():
    with pytest.raises(ValueError):
        fetch_feed(dt.date(2025, 1, 1), dt.date(2025, 1, 9), "K", fetcher=lambda u: {})


def test_neows_python_datasource_offline(spark, tmp_path):
    """Drive the PySpark 4 Python Data Source end-to-end offline: window
    partitioning -> executor-side read (fixture_dir hook) -> from_json with
    the bronze schema -> flatten; row grain matches the batch path."""
    from pyspark.sql import functions as F

    from asterlake.operators.flatten import flatten_feed
    from asterlake.schemas import BRONZE_FEED_SCHEMA
    from asterlake.sources.bronze import write_bronze_document
    from asterlake.sources.neows import register_neows_source

    assert register_neows_source(spark)  # pyspark 4 in this image

    fixtures = str(tmp_path / "bronze")
    # 10-day range -> two 7-day-window partitions starting 10-10 and 10-17
    write_bronze_document(fixtures, "2025-10-10", feed_document())
    write_bronze_document(fixtures, "2025-10-17", feed_document())

    raw = (
        spark.read.format("neows")
        .option("start_date", "2025-10-10")
        .option("end_date", "2025-10-19")
        .option("fixture_dir", fixtures)
        .load()
    )
    assert raw.count() == 2  # one row per window partition

    bronze = raw.select(
        F.from_json("document", BRONZE_FEED_SCHEMA).alias("doc")
    ).select("doc.*")
    silver = flatten_feed(bronze, batch_id=1)
    assert silver.count() == 2 * N_ASTEROID_ROWS


def test_gold_builds_read_silver_from_cache_not_parquet(lake, spark):
    """Round-4 verdict #5: the four gold writes must share ONE silver
    materialization. pipeline.run persists the silver read-back; this
    pins that every gold table's plan over a persisted silver reads the
    InMemoryTableScan, never a second parquet scan of the silver files."""
    from pyspark.storagelevel import StorageLevel

    from asterlake.operators.star import build_star
    from asterlake.plans.inspect import plan_string
    from asterlake.sources.writers import read_silver

    root, _ = lake
    silver_back = read_silver(
        spark, str(root / "silver"), processing_date=PROC_TIME.date()
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        tables = build_star(silver_back)
        assert len(tables) == 4
        for name, df in tables.items():
            # tree section of the formatted plan (before the node details)
            tree = plan_string(df).split("\n\n")[0].splitlines()
            im_scans = [i for i, l in enumerate(tree) if "InMemoryTableScan" in l]
            relations = [i for i, l in enumerate(tree) if "InMemoryRelation" in l]
            pq_scans = [i for i, l in enumerate(tree) if "Scan parquet" in l]
            assert im_scans, name
            # every parquet scan in the tree is the cache-BUILD child of
            # an InMemoryRelation (rendered directly beneath it), never a
            # live re-scan of the silver files by a gold branch
            assert len(pq_scans) == len(relations), (name, tree)
            for p in pq_scans:
                assert any(r < p for r in relations), (name, tree)
    finally:
        silver_back.unpersist()


def test_neows_streaming_datasource_offline(spark, tmp_path):
    """Drive the Spark 4 SimpleDataSourceStreamReader variant offline:
    date-cursor offsets, availableNow catch-up, and exactly-once advance
    across a checkpoint restart (new days only on the second run)."""
    from asterlake.sources.bronze import write_bronze_document
    from asterlake.sources.neows import register_neows_source

    assert register_neows_source(spark)
    fixtures = str(tmp_path / "bronze")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    for d in ("2025-10-10", "2025-10-11", "2025-10-12"):
        write_bronze_document(fixtures, d, feed_document())

    def run(end_date: str) -> None:
        (
            spark.readStream.format("neows")
            .option("start_date", "2025-10-10")
            .option("end_date", end_date)
            .option("fixture_dir", fixtures)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination(120)
        )

    run("2025-10-11")  # days 10-10 and 10-11
    assert spark.read.parquet(out).count() == 2

    run("2025-10-12")  # restart from checkpoint: only 10-12 is new
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 3
    # each row is the verbatim document for its day
    import json as _json

    docs = [_json.loads(r.document) for r in rows]
    assert all(d == feed_document() for d in docs)


def _empty_document() -> dict:
    return {
        "element_count": 0,
        "links": {"next": "n", "prev": "p", "self": "s"},
        "near_earth_objects": {},
    }


def _jobs_in_group(spark, group: str, fn) -> tuple[object, set[int]]:
    """Run fn under a fresh job group; return its result and the ids of
    every job the group owns, failing if fn launched any job outside it."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup())
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the tracker retains a bounded job list, so look only for new ids
    escaped = set(tracker.getJobIdsForGroup()) - ungrouped
    assert not escaped, f"jobs {escaped} ran outside the job group"
    return result, set(tracker.getJobIdsForGroup(group))


def test_counts_over_appended_days_and_an_empty_day(spark, tmp_path):
    """Each day's dict: that day's silver rows, and every gold table's
    cumulative rows as read back from its directory. A day with no
    asteroids returns silver 0 instead of blocking on the observed count."""
    import threading

    silver, gold = str(tmp_path / "silver"), str(tmp_path / "gold")
    days = [
        ("2025-10-10", feed_document(), N_ASTEROID_ROWS),
        ("2025-10-11", feed_document(), N_ASTEROID_ROWS),
        ("2025-10-12", _empty_document(), 0),
    ]
    for i, (day, doc, silver_rows) in enumerate(days):
        bronze = str(tmp_path / f"bronze{i}")
        write_bronze_document(bronze, day, doc)
        when = dt.datetime.fromisoformat(day).replace(hour=1, minute=30)
        result = {}
        worker = threading.Thread(
            target=lambda: result.update(
                pipeline.run(spark, bronze, silver, gold, batch_id=i, processing_time=when)
            ),
            daemon=True,
        )
        worker.start()
        worker.join(300)
        assert not worker.is_alive(), f"pipeline.run blocked on {day}"
        want = {"silver": silver_rows}
        for t in GOLD_TABLES:
            want[t] = spark.read.parquet(str(tmp_path / "gold" / t)).count()
        assert result == want, day
    assert result["fact_asteroid_approach"] == 2 * N_ASTEROID_ROWS


def test_read_silver_schema_is_unchanged(lake, spark):
    # the declared read keeps the names, types and order an inferring read
    # of the same files gives (the partition column last)
    from asterlake.sources.writers import read_silver

    root, _ = lake
    path = str(root / "silver")
    got = [(f.name, f.dataType) for f in read_silver(spark, path).schema.fields]
    want = [(f.name, f.dataType) for f in spark.read.parquet(path).schema.fields]
    assert got == want


def test_register_gold_launches_no_job(lake, spark):
    root, _ = lake
    registered, jobs = _jobs_in_group(
        spark, "register-gold", lambda: catalog.register_gold(spark, str(root / "gold"))
    )
    assert registered == list(GOLD_TABLES)
    assert jobs == set()


def test_write_gold_jobs_inherit_the_callers_job_group(spark, tmp_path):
    from asterlake.sources.writers import write_gold

    tables = {
        "a": spark.range(10),
        "b": spark.range(20).selectExpr("id % 3 AS k").distinct(),
        "c": spark.range(5),
    }
    _, jobs = _jobs_in_group(spark, "g", lambda: write_gold(tables, str(tmp_path)))
    assert len(jobs) >= len(tables)
    for name, df in tables.items():
        assert spark.read.parquet(str(tmp_path / name)).count() == df.count()


def test_write_gold_raises_when_one_write_fails(spark, tmp_path):
    from asterlake.sources.writers import write_gold

    (tmp_path / "b").write_text("a regular file where a table directory goes")
    with pytest.raises(Exception):
        write_gold({"a": spark.range(3), "b": spark.range(3)}, str(tmp_path))
