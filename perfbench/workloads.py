"""The workload registry and the per-layer metric catalog.

Every traced run reports every per-layer metric below, whatever the
workload: a layer a workload does not run reads 0 there, which is the
"little work in" half of each layer's pairing.
"""

from __future__ import annotations

from engine import FAMILIES, NAMED_QUERIES, EngineMix
from lake import SERVE, LakeBackfill, LakeDaily

WORKLOADS = {
    "lake_daily": LakeDaily,
    "engine_mix": EngineMix,
    "lake_backfill": LakeBackfill,
}

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
}

# Reported by every workload beside its own named metrics, on the line
# before the result. peak_rss_mb (the driver JVM's VmHWM) moves by a
# quarter between runs of the same inputs, as the heap grows with GC
# timing, so it is recorded but not gated.
COMMON_UNITS = {"setup_s": "s", "ops_failed_ratio": "ratio", "peak_rss_mb": "MB"}

PER_LAYER: dict[str, str] = {
    # sources + flatten execution
    "bronze_read.construct_s": "s",
    "flatten.construct_s": "s",
    "silver_write.s": "s",
    "silver_write.jobs": "count",
    "silver_write.tasks": "count",
    "silver_write.cpu_s": "s",
    "silver_write.bytes_written": "bytes",
    "silver_read.s": "s",
    # star construction and the gold writes that execute it
    "star.construct_s": "s",
    "gold_write.s": "s",
    "gold_write.jobs": "count",
    "gold_write.shuffle_write_bytes": "bytes",
    "gold_write.files_written": "count",
    "gold.bytes_per_row": "bytes/row",
    # pipeline.run's own work: the post-write count actions (and the
    # current_date probe when no processing time is injected)
    "pipeline.self_s": "s",
    "pipeline.self_jobs": "count",
    # catalog
    "catalog_register.s": "s",
    **{f"serve.s.{q}": "s" for q in SERVE},
    "serve.jobs": "count",
    "serve.files_scanned": "count",
    # streaming ingest (stream_bronze_to_silver)
    "stream_ingest.s": "s",
    "stream_ingest.add_batch_ms": "ms",
    "stream_ingest.query_planning_ms": "ms",
    "stream_ingest.wal_commit_ms": "ms",
    "stream_ingest.input_rows": "count",
    # queries (construction) and operators (execution through noop)
    **{
        f"{fam}.{m}": unit
        for fam in FAMILIES
        for m, unit in (
            ("construct_s", "s"),
            ("construct_jobs", "count"),
            ("execute_s", "s"),
            ("jobs", "count"),
            ("tasks", "count"),
            ("cpu_s", "s"),
            ("shuffle_write_bytes", "bytes"),
            ("spill_bytes", "bytes"),
        )
    },
    # stateful drains of the streaming family
    "streaming.add_batch_ms": "ms",
    "streaming.state_rows_total": "count",
    "streaming.state_commit_ms": "ms",
    "streaming.state_memory_bytes": "bytes",
    **{
        f"q.{q}.{m}": unit
        for q in NAMED_QUERIES
        for m, unit in (("construct_s", "s"), ("execute_s", "s"), ("jobs", "count"))
    },
    # session
    "session.build_s": "s",
    "session.peak_rss_mb": "MB",
    "warmup_s": "s",
    # the end-to-end metrics measured with tracing on; minus the untraced
    # run's figure, the tracing overhead
    **{f"trace.{k}": unit for k, unit in END_TO_END.items()},
}
