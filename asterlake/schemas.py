"""Explicit schemas for the medallion layers.

The reference infers the bronze schema at read time
(``spark.read.option("multiline","true").json``, reference
``src/etl/bronze_to_silver.py:34``), which makes ``near_earth_objects`` a
struct whose field names are the feed's dates — forcing the date-interpolated
column path ``near_earth_objects.{today_str}`` (``bronze_to_silver.py:39``).

Here the schema is explicit and ``near_earth_objects`` is a
``MapType(date-string -> array<asteroid struct>)``, so one plan handles any
date range, schema inference (an eager driver-side scan — bad at 100 TB) is
eliminated, and the JSON reader can prune to exactly the fields the silver
projection needs.
"""

from __future__ import annotations

from pyspark.sql import types as T


def _diameter_range() -> T.StructType:
    return T.StructType(
        [
            T.StructField("estimated_diameter_min", T.DoubleType()),
            T.StructField("estimated_diameter_max", T.DoubleType()),
        ]
    )


# Velocities and miss distances arrive as JSON *strings* in the NeoWs feed
# (see reference src/etl/bronze_to_silver.py:70-76, which casts them).
CLOSE_APPROACH_SCHEMA = T.StructType(
    [
        T.StructField("close_approach_date", T.StringType()),          # yyyy-MM-dd
        T.StructField("close_approach_date_full", T.StringType()),     # yyyy-MMM-dd HH:mm
        T.StructField("epoch_date_close_approach", T.LongType()),
        T.StructField("orbiting_body", T.StringType()),
        T.StructField(
            "relative_velocity",
            T.StructType(
                [
                    T.StructField("kilometers_per_second", T.StringType()),
                    T.StructField("kilometers_per_hour", T.StringType()),
                    T.StructField("miles_per_hour", T.StringType()),
                ]
            ),
        ),
        T.StructField(
            "miss_distance",
            T.StructType(
                [
                    T.StructField("astronomical", T.StringType()),
                    T.StructField("lunar", T.StringType()),
                    T.StructField("kilometers", T.StringType()),
                    T.StructField("miles", T.StringType()),
                ]
            ),
        ),
    ]
)

ASTEROID_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("neo_reference_id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("nasa_jpl_url", T.StringType()),
        T.StructField("absolute_magnitude_h", T.DoubleType()),
        T.StructField(
            "estimated_diameter",
            T.StructType(
                [
                    T.StructField("kilometers", _diameter_range()),
                    T.StructField("meters", _diameter_range()),
                    T.StructField("miles", _diameter_range()),
                    T.StructField("feet", _diameter_range()),
                ]
            ),
        ),
        T.StructField("is_potentially_hazardous_asteroid", T.BooleanType()),
        T.StructField("is_sentry_object", T.BooleanType()),
        T.StructField("close_approach_data", T.ArrayType(CLOSE_APPROACH_SCHEMA)),
    ]
)

# The feed document. `near_earth_objects` as a MAP (not a date-named struct)
# is the one deliberate divergence from the inferred shape — see module doc.
BRONZE_FEED_SCHEMA = T.StructType(
    [
        T.StructField("element_count", T.LongType()),
        T.StructField(
            "links",
            T.StructType(
                [
                    T.StructField("next", T.StringType()),
                    T.StructField("prev", T.StringType()),
                    T.StructField("self", T.StringType()),
                ]
            ),
        ),
        T.StructField(
            "near_earth_objects",
            T.MapType(T.StringType(), T.ArrayType(ASTEROID_SCHEMA)),
        ),
    ]
)

# Silver: flat, typed, hive-partitioned by _processing_date
# (reference src/etl/bronze_to_silver.py:38-98; FIXTURES.md A2).
SILVER_SCHEMA = T.StructType(
    [
        T.StructField("asteroid_id", T.StringType()),
        T.StructField("neo_id", T.StringType()),
        T.StructField("asteroid_name", T.StringType()),
        T.StructField("magnitude", T.DoubleType()),
        T.StructField("is_hazardous", T.BooleanType()),
        T.StructField("is_sentry", T.BooleanType()),
        T.StructField("diameter_min_km", T.DoubleType()),
        T.StructField("diameter_max_km", T.DoubleType()),
        T.StructField("diameter_min_m", T.DoubleType()),
        T.StructField("diameter_max_m", T.DoubleType()),
        T.StructField("jpl_url", T.StringType()),
        T.StructField("approach_date", T.DateType()),
        T.StructField("approach_datetime", T.TimestampType()),
        T.StructField("approaching_body", T.StringType()),
        T.StructField("velocity_km_s", T.DoubleType()),
        T.StructField("velocity_km_h", T.DoubleType()),
        T.StructField("miss_distance_km", T.DoubleType()),
        T.StructField("miss_distance_au", T.DoubleType()),
        T.StructField("miss_distance_lunar", T.DoubleType()),
        T.StructField("_processing_timestamp", T.TimestampType()),
        T.StructField("_processing_date", T.DateType()),
        T.StructField("_source_system", T.StringType()),
        T.StructField("_etl_batch_id", T.LongType()),
    ]
)

# Gold star (operators/star.py; FIXTURES.md A3). Declared so the catalog
# binds each table directory without a footer-reading job.
# dim_asteroid carries silver's 11 descriptive asteroid columns unchanged.
DIM_ASTEROID_SCHEMA = T.StructType(SILVER_SCHEMA.fields[:11])

DIM_DATE_SCHEMA = T.StructType(
    [
        T.StructField("date_id", T.IntegerType()),  # yyyyMMdd smart key
        T.StructField("approach_date", T.DateType()),
        T.StructField("year", T.IntegerType()),
        T.StructField("month", T.IntegerType()),
        T.StructField("day", T.IntegerType()),
        T.StructField("weekday", T.StringType()),
    ]
)

DIM_CELESTIAL_BODY_SCHEMA = T.StructType(
    [
        T.StructField("celestial_body_id", T.LongType()),
        T.StructField("approaching_body", T.StringType()),
    ]
)

FACT_ASTEROID_APPROACH_SCHEMA = T.StructType(
    [
        T.StructField("approach_event_id", T.LongType()),
        T.StructField("asteroid_id", T.StringType()),
        T.StructField("date_id", T.IntegerType()),
        T.StructField("celestial_body_id", T.LongType()),
        T.StructField("approach_datetime", T.TimestampType()),
        T.StructField("velocity_km_s", T.DoubleType()),
        T.StructField("velocity_km_h", T.DoubleType()),
        T.StructField("miss_distance_km", T.DoubleType()),
        T.StructField("miss_distance_au", T.DoubleType()),
        T.StructField("miss_distance_lunar", T.DoubleType()),
        T.StructField("_etl_batch_id", T.LongType()),
        T.StructField("_processing_timestamp", T.TimestampType()),
    ]
)

GOLD_SCHEMAS = {
    "dim_asteroid": DIM_ASTEROID_SCHEMA,
    "dim_date": DIM_DATE_SCHEMA,
    "dim_celestial_body": DIM_CELESTIAL_BODY_SCHEMA,
    "fact_asteroid_approach": FACT_ASTEROID_APPROACH_SCHEMA,
}

GOLD_TABLES = tuple(GOLD_SCHEMAS)
