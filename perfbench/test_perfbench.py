"""The benchmark's own tests: each workload end to end at smoke size.

    python3 -m pytest perfbench/test_perfbench.py -q

Each smoke run builds one Spark session (about 30 s); the traced runs also
check that pipeline.run's child spans plus its self time add up to its wall
time.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

from workloads import COMMON_UNITS, END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402

BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text())
SPEC = json.loads((HERE / "spec.json").read_text())


def _run(workload: str, trace: int, cwd: Path = ROOT, seed: int = 5):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result_file(workload: str, trace: int, seed: int = 5) -> dict:
    path = ROOT / ".perfbench_work" / "results" / f"{workload}-seed{seed}-trace{trace}.json"
    return json.loads(path.read_text())


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run(workload, trace):
    proc = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, proc.stderr[-3000:]
    wanted = PER_LAYER if trace else END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == wanted
    named = {**COMMON_UNITS, **SPEC["workloads"][workload]["named"]}
    assert {k: v["unit"] for k, v in detail["named"].items()} == named
    if trace:
        spans = _result_file(workload, 1)["spans"]
        for p in (s for s in spans if s["name"] == "pipeline"):
            kids = sum(s["seconds"] for s in spans if s["parent"] == p["id"])
            self_s = p["seconds"] - kids
            assert kids > 0 and self_s > 0
            assert kids + self_s == pytest.approx(p["seconds"], abs=1e-9)


def test_stray_directory_fails(tmp_path):
    """Without the asterlake package beside it, the benchmark refuses."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("lake_daily", 0, cwd=tmp_path)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_benchmark_json_matches_the_code():
    assert {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]} == PER_LAYER
    assert {w["name"] for w in BENCHMARK["workloads"]} <= set(WORKLOADS)
    assert set(SPEC["workloads"]) == set(WORKLOADS)
    for name, cls in WORKLOADS.items():
        assert SPEC["workloads"][name]["named"] == cls.NAMED_UNITS
    named = {f"{w}:{m}" for w, spec in SPEC["workloads"].items() for m in {**spec["named"], **COMMON_UNITS}}
    named |= {f"{w}:{m}" for w in WORKLOADS for m in END_TO_END}
    for prefix, targets in SPEC["layer_moves"].items():
        assert any(k.startswith(prefix) for k in PER_LAYER), prefix
        assert set(targets) <= named, targets
    assert all(any(k.startswith(p) for p in SPEC["layer_moves"]) for k in PER_LAYER)


def test_feed_counts_match_the_fixture():
    from feed import FeedGenerator, expected_counts
    from tests.fixtures_neows import N_ASTEROID_ROWS, N_DISTINCT_ASTEROIDS, feed_document

    exp = expected_counts([feed_document()])
    assert (exp.silver, exp.dim_asteroid) == (N_ASTEROID_ROWS, N_DISTINCT_ASTEROIDS)
    # one empty approach list and one uncastable velocity; one empty list
    # and one null date; Earth, Merc and the empty list's null body
    assert (exp.null_velocity, exp.null_approach_date, exp.dim_celestial_body) == (2, 2, 3)

    days = FeedGenerator(9, 80, 400).days(30)
    assert [d.document for d in days] == [d.document for d in FeedGenerator(9, 80, 400).days(30)]
    total = expected_counts([d.document for d in days])
    assert total.silver == 30 * 80
    assert total.dim_asteroid < total.silver  # ids repeat across days
    asteroids = [a for d in days for day in d.document["near_earth_objects"].values() for a in day]
    empty = sum(not a["close_approach_data"] for a in asteroids)
    # uncastable velocities and null dates come on top of the empty lists
    assert 0 < empty < total.null_velocity and empty < total.null_approach_date
    assert total.dim_celestial_body > 2
