"""The engine workload: a fixed query list through the ``noop`` sink.

Three families stress different layers. The relational rows are
execution-bound; the iterative graph rows launch most of their jobs while
the query is being constructed (their ``localCheckpoint`` loops), so they are
construction- and job-bound; the streaming rows drain a file stream with
state inside construction. The lake workloads run none of this code, and
this workload runs none of the pipeline.

Each pass constructs every query (``QueryDef.spark``) and executes it into
the ``noop`` sink, as ``bench.py`` does; after the clock stops, the result is
compared with the query's DuckDB oracle under ``tests/oracle_utils.py``'s
canonicalization.
"""

from __future__ import annotations

import duckdb

from common import Workload, median
from engine_data import TABLES, write_tables
from spans import progress_totals
from tests.oracle_utils import assert_matches_oracle

FAMILIES = {
    "relational": [
        "flagship_revenue_by_nation",
        "q_fact_star_join",
        "q_correlated_subqueries",
    ],
    # a fixed iteration count (5): the same work on every seed, unlike the
    # convergence-driven kcore loops
    "iterative": [
        "q_pagerank_copurchase",
    ],
    "streaming": [
        "q_stream_windowed_counts",
    ],
}
FAMILY_OF = {q: fam for fam, qs in FAMILIES.items() for q in qs}

# Queries also reported on their own, as per-layer q.<short>.* metrics.
NAMED_QUERIES = {
    "flagship": "flagship_revenue_by_nation",
    "pagerank": "q_pagerank_copurchase",
}

# Scale factor in TESTDATA.md's units (sf 0.01: 60k lineitem rows).
SF = 0.001
SMOKE_SF = 0.0005


class EngineMix(Workload):
    # one pass right after the compiling one moves by ~14% between runs;
    # the median of two by ~5%
    MIN_PASSES = 2
    NAMED_UNITS = {"relational_s": "s", "iterative_s": "s", "streaming_s": "s"}

    def __init__(self, *args):
        super().__init__(*args)
        self.sf_dir = str(self.data / "tables")
        self.queries = (
            [qs[0] for qs in FAMILIES.values()] if self.smoke else list(FAMILY_OF)
        )
        # the first pass compiles most of what the later ones run
        self.warm_passes = 1
        self.family_seconds: dict[str, list[float]] = {f: [] for f in FAMILIES}
        self.duck = duckdb.connect()

    def generate(self) -> dict:
        sf = SMOKE_SF if self.smoke else SF
        rows = write_tables(self.sf_dir, self.seed, sf)
        for t in TABLES:
            self.duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
            )
        return {"sf": sf, "rows": rows, "queries": self.queries, "warm_up_passes": self.warm_passes}

    def warm_up(self, spark) -> None:
        for _ in range(self.warm_passes):
            self.step(spark, measured=False)

    def step(self, spark, measured: bool) -> None:
        from asterlake.queries import QUERIES

        self.log.begin_pass()
        family_pass = {f: 0.0 for f in FAMILIES}
        for name in self.queries:
            qd = QUERIES[name]

            def op(qd=qd, name=name):
                with self.tracer.span(f"q.{name}.construct"):
                    df = qd.spark(spark, self.sf_dir)
                with self.tracer.span(f"q.{name}.execute"):
                    df.write.format("noop").mode("overwrite").save()
                return df

            self.log.run(
                name, op,
                lambda df, qd=qd, name=name: assert_matches_oracle(df, self.duck, qd.oracle, name),
                measured,
            )
            family_pass[FAMILY_OF[name]] += self.log.last_seconds
        self.log.end_pass(measured)
        if measured:
            for fam, seconds in family_pass.items():
                self.family_seconds[fam].append(seconds)

    def named_metrics(self) -> dict[str, float]:
        return {f"{fam}_s": median(v) for fam, v in self.family_seconds.items()}

    def layer_metrics(self, tracer, costs) -> dict[str, float]:
        # summed over each measured pass, then the median over passes
        rows: dict[str, dict[int, float]] = {}

        def add(name, k, value):
            rows.setdefault(name, {}).setdefault(k, 0.0)
            rows[name][k] += value

        for s in tracer.spans:
            k = self.log.op_pass.get(s.op)
            if k is None:
                continue
            query, phase = s.name[len("q."):].rsplit(".", 1)
            fam, c = FAMILY_OF[query], costs[s.id]
            if phase == "construct":
                add(f"{fam}.construct_s", k, s.seconds)
                add(f"{fam}.construct_jobs", k, c.jobs)
                if fam == "streaming":
                    totals = progress_totals(c.progress)
                    for key in ("add_batch_ms", "state_rows_total", "state_commit_ms", "state_memory_bytes"):
                        add(f"streaming.{key}", k, totals[key])
            else:
                add(f"{fam}.execute_s", k, s.seconds)
                add(f"{fam}.jobs", k, c.jobs)
                add(f"{fam}.tasks", k, c.tasks)
                add(f"{fam}.cpu_s", k, c.cpu_s)
                add(f"{fam}.shuffle_write_bytes", k, c.shuffle_write_bytes)
                add(f"{fam}.spill_bytes", k, c.spill_bytes)
            for short, full in NAMED_QUERIES.items():
                if full == query:
                    add(f"q.{short}.{phase}_s", k, s.seconds)
                    add(f"q.{short}.jobs", k, c.jobs)
        return {name: median(by_pass.values()) for name, by_pass in rows.items()}
