"""Silver -> gold star schema (Kimball: 3 dims + 1 fact).

Re-expresses reference ``src/etl/silver_to_gold.py:35-79`` with the fixes
SURVEY.md §7 calls for, preserving the shapes in FIXTURES.md A3:

- **dim_asteroid** — 11 descriptive columns, one row per ``asteroid_id``.
  Reference dedups with ``dropDuplicates(["asteroid_id"])`` (:148), an
  *arbitrary*-survivor hash aggregate; we pick the survivor deterministically
  (max over the full ordering) so results are stable run-to-run — same
  contract (one arbitrary-but-valid row per key), reproducible outcome.
- **dim_date** — smart key ``date_id = int(yyyyMMdd)`` (:151) + calendar
  parts (:154-157). Deduping on date_id is inherently deterministic (all
  survivors identical).
- **dim_celestial_body** — reference assigns ``monotonically_increasing_id``
  *before* deduping (:159-162), keeping an arbitrary id per body; we use
  ``xxhash64(approaching_body)`` — deterministic, no window, no shuffle.
- **fact_asteroid_approach** — the reference left joins dim_date and
  dim_celestial_body (:164-166; nulls preserved for unknown dates/bodies).
  Both dim keys are pure functions of the row (``date_id`` of
  ``approach_date``, ``celestial_body_id`` of ``approaching_body``), so the
  fact computes them in place: the same keys the joins returned, a null
  date or body still gets a null key, and every silver row survives.
  Surrogate ``approach_event_id`` is a hash of the event's natural identity
  instead of ``monotonically_increasing_id`` (:168).

Scale: the fact is a **projection** of silver — no join, no exchange, and
no dependency on the dims, so all four writes can run at once. The dim
aggregations shuffle only the dim projections (partial aggregation
map-side first). Callers building all four tables should ``.persist()`` the
silver DataFrame before the fan-out (see pipeline.py) — the reference
recomputes the silver scan and joins four times, once per write (SURVEY
§3.1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from asterlake.functions.keys import surrogate_key
from asterlake.schemas import DIM_ASTEROID_SCHEMA


def _date_id() -> Column:
    """Smart date key ``date_id = int(yyyyMMdd)`` (reference :151); null for
    a null date. One date maps to one key, so dim_date and the fact agree."""
    return F.date_format("approach_date", "yyyyMMdd").cast("int").alias("date_id")


def build_dim_asteroid(silver: DataFrame) -> DataFrame:
    """One row per asteroid_id (reference src/etl/silver_to_gold.py:35-47).

    Deterministic survivor: max_by over the remaining columns packed as a
    struct — a single hash aggregate (same physical shape as dropDuplicates'
    first-per-key), no window, no sort.
    """
    rest = [c for c in DIM_ASTEROID_SCHEMA.fieldNames() if c != "asteroid_id"]
    packed = F.struct(*[F.col(c) for c in rest])
    agg = silver.groupBy("asteroid_id").agg(F.max(packed).alias("_row"))
    return agg.select("asteroid_id", *[F.col(f"_row.{c}").alias(c) for c in rest])


def build_dim_date(silver: DataFrame) -> DataFrame:
    """date_id smart key + calendar parts (reference :150-157).

    The reference keeps the null-date row (date_id null) produced by silver
    rows whose close_approach_date failed to parse; we preserve that.
    """
    return (
        silver.select(_date_id(), "approach_date")
        .dropDuplicates(["date_id"])
        .withColumn("year", F.year("approach_date"))
        .withColumn("month", F.month("approach_date"))
        .withColumn("day", F.dayofmonth("approach_date"))
        .withColumn("weekday", F.date_format("approach_date", "E"))
    )


def build_dim_celestial_body(silver: DataFrame) -> DataFrame:
    """One row per approaching_body with a deterministic hash id
    (reference :159-162 uses monotonically_increasing_id pre-dedup)."""
    return silver.select("approaching_body").distinct().select(
        surrogate_key("approaching_body").alias("celestial_body_id"),
        "approaching_body",
    )


def build_fact(silver: DataFrame) -> DataFrame:
    """Fact at (asteroid, approach-event) grain (reference :164-180).

    One row per silver row. The dim keys are derived from the row itself:
    ``date_id`` with dim_date's expression, ``celestial_body_id`` with
    dim_celestial_body's hash when the body is known. That is what the
    reference's left joins return (a null date or body matches no dim row
    and gets a null key), with no join: the fact is a projection of silver.
    """
    body = F.col("approaching_body")
    return silver.select(
        # full natural identity of the event: byte-identical duplicate
        # reports hash to the same id (idempotent), distinct events never
        # collide in practice (64-bit space)
        surrogate_key(
            "asteroid_id",
            "approach_datetime",
            "approaching_body",
            "velocity_km_s",
            "miss_distance_km",
            "_etl_batch_id",
        ).alias("approach_event_id"),
        "asteroid_id",
        _date_id(),
        F.when(body.isNotNull(), surrogate_key(body)).alias("celestial_body_id"),
        "approach_datetime",
        "velocity_km_s",
        "velocity_km_h",
        "miss_distance_km",
        "miss_distance_au",
        "miss_distance_lunar",
        "_etl_batch_id",
        "_processing_timestamp",
    )


def build_star(silver: DataFrame) -> dict[str, DataFrame]:
    """All four gold tables from one silver DataFrame.

    Caller owns persisting `silver` across the four downstream actions
    (pipeline.py does); building the plans is lazy and free.
    """
    return {
        "dim_asteroid": build_dim_asteroid(silver),
        "dim_date": build_dim_date(silver),
        "dim_celestial_body": build_dim_celestial_body(silver),
        "fact_asteroid_approach": build_fact(silver),
    }
