"""Golden tests for the gold star builder (reference parity:
src/etl/silver_to_gold.py:136-180; FIXTURES.md A3 + invariants)."""

from __future__ import annotations

import datetime as dt

import pytest

from asterlake.operators.flatten import flatten_feed
from asterlake.operators.star import build_star
from asterlake.schemas import GOLD_SCHEMAS, GOLD_TABLES
from asterlake.sources.bronze import read_bronze, write_bronze_document
from tests.fixtures_neows import N_ASTEROID_ROWS, N_DISTINCT_ASTEROIDS, feed_document

BATCH_ID = 1760000000
PROC_TIME = dt.datetime(2025, 10, 10, 1, 30, 0)


@pytest.fixture(scope="module")
def star(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("bronze_star")
    write_bronze_document(str(root), "2025-10-10", feed_document())
    silver = flatten_feed(
        read_bronze(spark, str(root)), batch_id=BATCH_ID, processing_time=PROC_TIME
    ).cache()
    tables = build_star(silver)
    return {"silver": silver, **{k: v.cache() for k, v in tables.items()}}


def test_dim_asteroid_unique_natural_key(star):
    dim = star["dim_asteroid"]
    assert dim.count() == N_DISTINCT_ASTEROIDS
    assert dim.select("asteroid_id").distinct().count() == N_DISTINCT_ASTEROIDS


def test_dim_asteroid_is_deterministic(star, spark):
    a = sorted(map(tuple, star["dim_asteroid"].collect()))
    b = sorted(map(tuple, star["dim_asteroid"].repartition(7).collect()))
    assert a == b  # reference's dropDuplicates survivor is partition-dependent


def test_dim_date_smart_key_and_parts(star):
    rows = {r.date_id: r for r in star["dim_date"].collect()}
    # parity grain keeps only each asteroid's FIRST approach, so the
    # 2025-12-01 second approach of 54016476 is absent
    assert set(rows) == {20251010, 20251011, None}
    r = rows[20251010]
    assert (r.year, r.month, r.day, r.weekday) == (2025, 10, 10, "Fri")
    assert rows[None].approach_date is None  # null-date group preserved


def test_dim_celestial_body(star):
    rows = {r.approaching_body: r.celestial_body_id for r in star["dim_celestial_body"].collect()}
    assert set(rows) == {"Earth", "Merc", None}
    ids = [v for v in rows.values() if v is not None]
    assert len(set(ids)) == len(ids)  # hash ids distinct


def test_fact_preserves_every_silver_row(star):
    # left joins never drop (FIXTURES.md invariant)
    assert star["fact_asteroid_approach"].count() == N_ASTEROID_ROWS


def test_fact_fk_integrity(star):
    fact = star["fact_asteroid_approach"]
    dim_date_ids = {r.date_id for r in star["dim_date"].collect()}
    for r in fact.collect():
        assert r.date_id in dim_date_ids  # includes the None group
    # rows with null approach date get null FKs, not dropped
    nulls = fact.filter("date_id IS NULL").count()
    assert nulls == 2  # empty-approach asteroid + null-date asteroid


def test_fact_event_ids_unique_and_deterministic(star):
    fact = star["fact_asteroid_approach"]
    n = fact.count()
    assert fact.select("approach_event_id").distinct().count() == n
    again = build_star(star["silver"])["fact_asteroid_approach"]
    assert sorted(r.approach_event_id for r in again.collect()) == sorted(
        r.approach_event_id for r in fact.collect()
    )


def test_fact_plan_has_no_exchange_or_join(star):
    # the fact derives its dim keys from its own row: a projection of
    # silver, with nothing to shuffle, broadcast or join
    plan = star["fact_asteroid_approach"]._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_fact_keys_equal_the_dim_joins(star):
    # the keys the reference's left joins to the dims would return
    fact, silver = star["fact_asteroid_approach"], star["silver"]
    joined = (
        silver.join(star["dim_date"].select("approach_date", "date_id"), "approach_date", "left")
        .join(star["dim_celestial_body"], "approaching_body", "left")
    )
    cols = ["asteroid_id", "approach_datetime", "date_id", "celestial_body_id"]
    assert sorted(map(tuple, fact.select(cols).collect()), key=repr) == sorted(
        map(tuple, joined.select(cols).collect()), key=repr
    )


@pytest.mark.parametrize("name", GOLD_TABLES)
def test_gold_schema_matches_declared(star, name):
    # names + types of each built table equal its declared gold schema,
    # which the catalog binds the written directory with
    got = [(f.name, f.dataType) for f in star[name].schema.fields]
    want = [(f.name, f.dataType) for f in GOLD_SCHEMAS[name].fields]
    assert got == want
