"""The lake workloads: the paper's medallion pipeline on a seeded NeoWs feed.

lake_daily is the paper's own traffic (the Airflow cron ``30 1 * * *``): per
simulated day one 80-asteroid document lands, ``pipeline.run`` appends it to
the same gold, ``stream_bronze_to_silver`` drains it through a persistent
checkpoint, and a fixed set of serving queries runs through the catalog.
lake_backfill is the throughput case: one ``pipeline.run`` over a year of
daily documents into fresh silver and gold per pass.

Every operation is checked against the generator's exact counts, and every
serving query against DuckDB over the same gold parquet (the reference's
own serving engine).
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
from datetime import datetime, time as clock, timedelta, timezone

import duckdb
import pandas as pd

from common import Workload, children, median, tail
from feed import START_DATE, Expected, FeedGenerator, expected_counts
from spans import progress_totals
from tests.oracle_utils import canonical

GOLD = ("dim_asteroid", "dim_date", "dim_celestial_body", "fact_asteroid_approach")

# Names asterlake.pipeline imports, and the span each call is recorded as.
PIPELINE_CALLS = {
    "read_bronze": "bronze_read",
    "flatten_feed": "flatten.construct",
    "write_silver": "silver_write",
    "read_silver": "silver_read",
    "build_star": "star.construct",
    "write_gold": "gold_write",
    "register_gold": "catalog_register",
}

# Serving queries over the registered gold views, in SQL both Spark and
# DuckDB run unchanged. The dims are appended to daily (the reference's
# parity default), so joins read them through DISTINCT.
SERVE = {
    # the reference gold_catalog demo, made deterministic by its order
    "catalog_demo": (
        "SELECT asteroid_id, velocity_km_s, miss_distance_km "
        "FROM fact_asteroid_approach ORDER BY approach_event_id LIMIT 5",
        ("fact_asteroid_approach",),
    ),
    "closest_approaches": (
        "SELECT a.asteroid_name, f.approach_datetime, f.miss_distance_km "
        "FROM fact_asteroid_approach f "
        "JOIN (SELECT DISTINCT asteroid_id, asteroid_name FROM dim_asteroid) a "
        "ON f.asteroid_id = a.asteroid_id "
        "WHERE f.miss_distance_km IS NOT NULL "
        "ORDER BY f.miss_distance_km, a.asteroid_name LIMIT 10",
        ("fact_asteroid_approach", "dim_asteroid"),
    ),
    "hazardous_per_month": (
        "SELECT d.year, d.month, COUNT(*) AS n_approaches "
        "FROM fact_asteroid_approach f "
        "JOIN (SELECT DISTINCT date_id, year, month FROM dim_date) d ON f.date_id = d.date_id "
        "JOIN (SELECT DISTINCT asteroid_id, is_hazardous FROM dim_asteroid) a "
        "ON f.asteroid_id = a.asteroid_id "
        "WHERE a.is_hazardous GROUP BY d.year, d.month",
        ("fact_asteroid_approach", "dim_date", "dim_asteroid"),
    ),
    "approaches_per_body": (
        "SELECT b.approaching_body, COUNT(*) AS n_approaches "
        "FROM fact_asteroid_approach f "
        "JOIN (SELECT DISTINCT celestial_body_id, approaching_body FROM dim_celestial_body) b "
        "ON f.celestial_body_id = b.celestial_body_id GROUP BY b.approaching_body",
        ("fact_asteroid_approach", "dim_celestial_body"),
    ),
}

# Span name of each pipeline child call -> its per-layer seconds metric.
CALL_SECONDS = {
    "bronze_read": "bronze_read.construct_s",
    "flatten.construct": "flatten.construct_s",
    "silver_write": "silver_write.s",
    "silver_read": "silver_read.s",
    "star.construct": "star.construct_s",
    "gold_write": "gold_write.s",
    "catalog_register": "catalog_register.s",
}

ASTEROIDS_PER_DAY = 80


def _parquet_files(path: str) -> list[str]:
    return glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)


def _check_equal(got, want, what: str) -> None:
    if got != want:
        raise AssertionError(f"{what}: got {got}, expected {want}")


class _Lake(Workload):
    def __init__(self, *args):
        super().__init__(*args)
        self.duck = duckdb.connect()
        # op id -> gold files that pipeline.run wrote / a serving query read
        self.files_written: dict[int, int] = {}
        self.files_scanned: dict[int, int] = {}

    def installed(self):
        if not self.tracer.enabled:
            return contextlib.nullcontext()
        from asterlake import pipeline

        return self.tracer.rebind(pipeline, PIPELINE_CALLS)

    def _check_silver(self, files: list[str], exp: Expected, what: str) -> None:
        """Row and tolerant-cast null counts of written silver files."""
        if not files:
            raise AssertionError(f"{what}: no parquet files written")
        rows, null_v, null_d = self.duck.execute(
            "SELECT count(*), count(*) FILTER (WHERE velocity_km_s IS NULL), "
            "count(*) FILTER (WHERE approach_date IS NULL) FROM read_parquet(?)",
            [files],
        ).fetchone()
        _check_equal(
            (rows, null_v, null_d),
            (exp.silver, exp.null_velocity, exp.null_approach_date),
            f"{what} (rows, null velocity_km_s, null approach_date)",
        )

    def _run_pipeline(self, spark, bronze, silver, gold, measured, want_counts, silver_exp,
                      silver_glob, **kwargs):
        from asterlake import pipeline

        before = len(_parquet_files(gold))
        op = self.log.attempted

        def check(counts):
            self.files_written[op] = len(_parquet_files(gold)) - before
            _check_equal(counts, want_counts, "pipeline.run counts")
            self._check_silver(glob.glob(silver_glob), silver_exp, "silver")

        return self.log.run(
            "pipeline.run",
            lambda: pipeline.run(spark, bronze, silver, gold, **kwargs),
            check, measured, span="pipeline",
        )

    def layer_metrics(self, tracer, costs) -> dict[str, float]:
        rows: dict[str, list[float]] = {}

        def add(name, value):
            rows.setdefault(name, []).append(value)

        for p in self.measured_spans(tracer, "pipeline"):
            add("pipeline.self_s", tracer.self_seconds(p))
            add("pipeline.self_jobs", costs[p.id].jobs)
            add("gold_write.files_written", self.files_written.get(p.op, 0))
            cost = {}
            for call, metric in CALL_SECONDS.items():
                spans = children(tracer, p, call)
                add(metric, sum(c.seconds for c in spans))
                cost[call] = [costs[c.id] for c in spans]
            silver, gold = cost["silver_write"], cost["gold_write"]
            add("silver_write.jobs", sum(c.jobs for c in silver))
            add("silver_write.tasks", sum(c.tasks for c in silver))
            add("silver_write.cpu_s", sum(c.cpu_s for c in silver))
            add("silver_write.bytes_written", sum(c.bytes_written for c in silver))
            add("gold_write.jobs", sum(c.jobs for c in gold))
            add("gold_write.shuffle_write_bytes", sum(c.shuffle_write_bytes for c in gold))
            rows_written = sum(c.records_written for c in gold)
            add("gold.bytes_per_row", sum(c.bytes_written for c in gold) / max(rows_written, 1))
        for name in SERVE:
            for s in self.measured_spans(tracer, f"serve.{name}"):
                add(f"serve.s.{name}", s.seconds)
                add("serve.jobs", costs[s.id].jobs)
                add("serve.files_scanned", self.files_scanned.get(s.op, 0))
        for s in self.measured_spans(tracer, "stream_ingest"):
            add("stream_ingest.s", s.seconds)
            totals = progress_totals(costs[s.id].progress)
            for key in ("add_batch_ms", "query_planning_ms", "wal_commit_ms", "input_rows"):
                add(f"stream_ingest.{key}", totals[key])
        return {name: median(values) for name, values in rows.items()}


class LakeDaily(_Lake):
    # a day is ~6 s of mostly Spark job overhead; three of them, with the
    # median taken, ride out a slow day
    MIN_PASSES = 3
    NAMED_UNITS = {
        "daily_run_p50_s": "s",
        "daily_run_tail_s": "s",
        "stream_ingest_p50_s": "s",
        "serve_p50_ms": "ms",
        "serve_tail_ms": "ms",
    }

    def __init__(self, *args):
        super().__init__(*args)
        self.warm_days = 1  # the first day compiles most of what later days run
        self.gen = FeedGenerator(self.seed, ASTEROIDS_PER_DAY, pool_size=ASTEROIDS_PER_DAY * 40)
        self.next_date = START_DATE
        self.cumulative = {t: 0 for t in GOLD}
        for sub in ("bronze", "silver", "gold", "stream_silver", "stream_ckpt"):
            setattr(self, sub, str(self.data / sub))

    def generate(self) -> dict:
        # one document per simulated day, made when the day comes (not timed)
        return {"asteroids_per_day": ASTEROIDS_PER_DAY, "start_date": str(START_DATE),
                "warm_up_days": self.warm_days, "asteroid_pool": len(self.gen.pool)}

    def warm_up(self, spark) -> None:
        for _ in range(self.warm_days):
            self.step(spark, measured=False)

    def step(self, spark, measured: bool) -> None:
        from asterlake import catalog
        from asterlake.sources.bronze import write_bronze_document
        from asterlake.streaming.pipeline import stream_bronze_to_silver

        day = self.gen.day(self.next_date)
        self.next_date += timedelta(days=1)
        path = write_bronze_document(self.bronze, day.feed_date, day.document)
        exp = day.expected
        for t, n in exp.gold_counts().items():
            self.cumulative[t] += n
        when = datetime.combine(day.feed_date, clock(1, 30))
        batch = int(when.replace(tzinfo=timezone.utc).timestamp())
        partition = f"_processing_date={day.feed_date}"

        self.log.begin_pass()
        self._run_pipeline(
            spark, path, self.silver, self.gold, measured,
            {"silver": exp.silver, **self.cumulative}, exp,
            os.path.join(self.silver, partition, "*.parquet"),
            batch_id=batch, processing_time=when,
        )
        self.log.run(
            "stream_bronze_to_silver",
            lambda: stream_bronze_to_silver(
                spark, self.bronze, self.stream_silver, self.stream_ckpt,
                batch_id=batch, processing_time=when,
            ),
            lambda _: self._check_silver(
                glob.glob(os.path.join(self.stream_silver, partition, "*.parquet")), exp,
                "streamed silver",
            ),
            measured, span="stream_ingest",
        )
        for t in GOLD:
            self.duck.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(self.gold, t, '*.parquet')}')"
            )
        for name, (sql, tables) in SERVE.items():
            op = self.log.attempted
            self.files_scanned[op] = sum(len(_parquet_files(os.path.join(self.gold, t))) for t in tables)
            self.log.run(
                f"serve:{name}",
                lambda sql=sql: catalog.sql(spark, sql).collect(),
                lambda rows, sql=sql, name=name: self._check_serve(rows, sql, name),
                measured, span=f"serve.{name}",
            )
        self.log.end_pass(measured)

    def _check_serve(self, rows, sql: str, name: str) -> None:
        want = canonical(self.duck.execute(sql).df())
        got = canonical(pd.DataFrame.from_records([r.asDict() for r in rows], columns=list(want.columns)))
        if got.empty and want.empty:
            return
        pd.testing.assert_frame_equal(got, want, check_dtype=False, obj=name)

    def named_metrics(self) -> dict[str, float]:
        lat = self.log.latency
        runs = lat["pipeline.run"]
        serves = [v for k, vs in lat.items() if k.startswith("serve:") for v in vs]
        run_tail, self.tails["daily_run_tail_s"] = tail(runs)
        serve_tail, self.tails["serve_tail_ms"] = tail(serves)
        return {
            "daily_run_p50_s": median(runs),
            "daily_run_tail_s": run_tail,
            "stream_ingest_p50_s": median(lat["stream_bronze_to_silver"]),
            "serve_p50_ms": 1000 * median(serves),
            "serve_tail_ms": 1000 * serve_tail,
        }


class LakeBackfill(_Lake):
    NAMED_UNITS = {"backfill_rows_per_s": "rows/s", "backfill_run_p50_s": "s"}

    def __init__(self, *args):
        super().__init__(*args)
        self.days = 7 if self.smoke else 365
        self.warm_reps = 0 if self.smoke else 3
        self.bronze = str(self.data / "bronze")
        self.reps = 0
        self.expected: Expected | None = None

    def generate(self) -> dict:
        from asterlake.sources.bronze import write_bronze_document

        gen = FeedGenerator(self.seed, ASTEROIDS_PER_DAY, pool_size=ASTEROIDS_PER_DAY * self.days // 4)
        days = gen.days(self.days)
        for d in days:
            write_bronze_document(self.bronze, d.feed_date, d.document)
        self.expected = expected_counts([d.document for d in days])
        return {"days": self.days, "asteroids_per_day": ASTEROIDS_PER_DAY,
                "silver_rows": self.expected.silver, "warm_up_reps": self.warm_reps}

    def warm_up(self, spark) -> None:
        for _ in range(self.warm_reps):
            self.step(spark, measured=False)

    def step(self, spark, measured: bool) -> None:
        rep = self.data / f"rep{self.reps}"
        self.reps += 1
        silver, gold = str(rep / "silver"), str(rep / "gold")
        exp = self.expected
        self.log.begin_pass()
        self._run_pipeline(
            spark, self.bronze, silver, gold, measured,
            {"silver": exp.silver, **exp.gold_counts()}, exp,
            os.path.join(silver, "*", "*.parquet"),
        )
        self.log.end_pass(measured)
        shutil.rmtree(rep, ignore_errors=True)

    def named_metrics(self) -> dict[str, float]:
        run = median(self.log.latency["pipeline.run"])
        return {
            "backfill_rows_per_s": self.expected.silver / run if run else 0.0,
            "backfill_run_p50_s": run,
        }
