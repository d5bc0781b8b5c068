"""asterlake benchmark: one command, one workload, one JSON result line.

    python3 perfbench/run.py --workload lake_daily --seed 1 --seconds 4 --trace 0

Run it from the root of a checkout; it imports ``asterlake`` from there and
exits with code 2 when the package is missing. Inputs are made from the seed
under ``.perfbench_work/`` in the checkout, which also receives every file
Spark writes and is removed when the run ends (only ``results/`` is kept).

Each run: generate inputs (not timed) -> set up the Spark session three
times, each in a fresh JVM, keeping the last -> warm up -> run the
workload's closed loop (one client, each operation waits for the previous)
for ``--seconds`` and at least the workload's ``min_passes`` passes, so
every run measures the same passes whatever the machine's speed -> stop
every process started. Every operation's output
is checked outside the timed region; an operation that raises or fails its
check is counted in ``failed`` and the run goes on.

With ``--trace 0`` the last stdout line carries the end-to-end metrics, with
``--trace 1`` the per-layer metrics of ``spans.py``'s spans and the Spark
event log. The line before it names every workload-specific metric with its
unit; ``.perfbench_work/results/`` keeps the full result and, when traced,
the span file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUPS = 3


def driver_memory() -> str:
    """A quarter of the machine's RAM, capped at 4 GiB: the session default
    (16g) is larger than a small machine, and the JVM shares it with the
    Python driver and the Python workers."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{max(1024, min(4096, total_kb // 4096))}m"


def configure_process(work: Path) -> dict[str, str]:
    """Environment every Spark session of the run is built under."""
    for sub in ("tmp", "local", "warehouse", "eventlog"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["ASTERLAKE_DRIVER_MEMORY"] = driver_memory()
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = str(work / "tmp")
    # no hsperfdata files under /tmp from the launcher or the driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    return {
        "cpus": os.environ["SPARK_GRAFT_CPUS"],
        "driver_memory": os.environ["ASTERLAKE_DRIVER_MEMORY"],
    }


def session_conf(work: Path, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # JVM logging goes to stderr so stdout carries only the result
        "spark.driver.extraJavaOptions": f"-Xlog:all=warning:stderr -Djava.io.tmpdir={work / 'tmp'}",
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return conf


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    try:
        gateway.shutdown()
    finally:
        proc.stdin.close()
        proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in the JVM's /proc status")


def set_up(conf: dict[str, str], n: int):
    """Build the session `n` times, each in a fresh JVM; keep the last."""
    from asterlake.session import build_session

    samples, spark = [], None
    for i in range(n):
        if spark is not None:
            stop_spark(spark)
        t = time.perf_counter()
        spark = build_session(app_name="perfbench", extra_conf=conf)
        samples.append(time.perf_counter() - t)
    return spark, samples


def run(args, work: Path) -> dict:
    from common import median
    from spans import NullTracer, Tracer
    from workloads import PER_LAYER, WORKLOADS

    sizing = configure_process(work)
    tracer = Tracer() if args.trace else NullTracer()
    workload = WORKLOADS[args.workload](work / "data", args.seed, args.smoke, tracer)
    sizes = workload.generate()

    conf = session_conf(work, bool(args.trace))
    spark, build_samples = set_up(conf, 1 if args.smoke else SETUPS)
    setup_s = median(build_samples)
    if args.trace:
        tracer.sc = spark.sparkContext

    try:
        with workload.installed():
            t = time.perf_counter()
            workload.warm_up(spark)
            warmup_s = time.perf_counter() - t
            t0 = time.perf_counter()
            while True:
                workload.step(spark, measured=True)
                if (time.perf_counter() - t0 >= args.seconds
                        and len(workload.log.pass_seconds) >= workload.min_passes):
                    break
            measured_s = time.perf_counter() - t0
        peak_rss = jvm_peak_rss_mb()
    finally:
        stop_spark(spark)

    log = workload.log
    end_to_end = {
        "setup_s": setup_s,
        "pass_s": median(log.pass_seconds),
    }
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "smoke": args.smoke,
        "sizes": sizes,
        "session": {
            **sizing,
            "setup_samples_s": build_samples,
            "warmup_s": warmup_s,
            "measured_s": measured_s,
            "passes": len(log.pass_seconds),
        },
        "end_to_end": end_to_end,
        "named": {
            "setup_s": setup_s,
            **workload.named_metrics(),
            "ops_failed_ratio": log.failed / max(log.attempted, 1),
            "peak_rss_mb": peak_rss,
        },
        "tails": workload.tails,
        "latency_s": dict(log.latency),
        "attempted": log.attempted,
        "failed": log.failed,
        "failing": sorted(log.failing),
        "command": [
            "python3", "perfbench/run.py", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), *(["--smoke"] if args.smoke else []),
        ],
    }
    if args.trace:
        costs = tracer.costs(str(work / "eventlog"))
        layers = {name: 0.0 for name in PER_LAYER}
        layers.update(workload.layer_metrics(tracer, costs))
        layers.update({
            "session.build_s": setup_s,
            "session.peak_rss_mb": peak_rss,
            "warmup_s": warmup_s,
            **{f"trace.{k}": v for k, v in end_to_end.items()},
        })
        unknown = set(layers) - set(PER_LAYER)
        if unknown:
            raise RuntimeError(f"per-layer metrics missing from the catalog: {sorted(unknown)}")
        result["per_layer"] = layers
        result["spans"] = [
            {**vars(s), "group": s.group, "seconds": s.seconds} for s in tracer.spans
        ]
    return result


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--smoke", action="store_true",
                        help="tiny inputs and one set-up, for the benchmark's own tests")
    args = parser.parse_args(argv)
    # a SIGTERM unwinds like an exception, so the JVM is stopped and the
    # work directory removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / "asterlake" / "pipeline.py").is_file():
        print(f"perfbench: no asterlake package under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    base = ROOT / ".perfbench_work"
    work = base / f"{args.workload}-seed{args.seed}-pid{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    results = base / "results"
    results.mkdir(parents=True, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    (results / f"{stem}.json").write_text(json.dumps(result, indent=1, default=str))

    from workloads import COMMON_UNITS, END_TO_END, PER_LAYER

    named_units = {**COMMON_UNITS, **WORKLOADS[args.workload].NAMED_UNITS}
    print(json.dumps({
        "workload": args.workload,
        "named": {k: {"value": v, "unit": named_units[k]} for k, v in result["named"].items()},
        "tails": result["tails"],
        "failing": result["failing"],
        "session": result["session"],
    }))
    if args.trace:
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in result["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in result["end_to_end"].items()}
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
