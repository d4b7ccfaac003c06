"""Self-tests of the benchmark (not part of the engine's tier-1 suite):

    python3 -m pytest e2ebench -q

Each workload runs end to end at a tiny size, untraced and traced, in its own
process as the benchmark command would; both digests must equal DuckDB's.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

TINY = {"flagship_sink": 300, "dedup_minhash": 500}
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_match_the_code():
    spec = _spec()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), names
    assert all(UNIT.match(m["unit"]) for m in spec["end_to_end"] + spec["per_layer"])
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in spec["workloads"])
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.E2E
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == layers.METRICS
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


def test_input_generation_is_deterministic():
    work = os.path.join(run.WORK, "selftest", "inputs")
    shutil.rmtree(work, ignore_errors=True)
    for kind, size in (("flagship", 200), ("dedup", 300)):
        a = inputs.prepare(os.path.join(work, "a"), kind, size, seed=3)
        b = inputs.prepare(os.path.join(work, "b"), kind, size, seed=3)
        assert a["hashes"] == b["hashes"] and not b["cached"]
        again = inputs.prepare(os.path.join(work, "a"), kind, size, seed=3)
        assert again["cached"] and again["hashes"] == a["hashes"]
        assert inputs.prepare(os.path.join(work, "a"), kind, size, seed=4)["hashes"] != a["hashes"]


def test_fails_without_the_engine():
    """Next to only BENCHMARK.json and this directory, the command must fail
    without printing a result."""
    bare = os.path.join(run.WORK, "selftest", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "e2ebench"), ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    proc = subprocess.run(
        [sys.executable, "e2ebench/run.py", "--workload", "flagship_sink", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0 and proc.stdout.strip() == ""
    assert not os.path.exists(os.path.join(bare, ".e2ebench_work", "runs"))


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
        "--seconds", "1", "--trace", str(trace), "--size", str(TINY[workload]),
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(run.WORK, "runs", f"{workload}-seed7-trace{trace}.json")) as f:
        return result, json.load(f)


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_workload_smoke_traced_and_untraced(workload):
    spec = _spec()
    plain, plain_details = _run(workload, 0)
    assert set(plain) == {"correct", "attempted", "failed", "metrics"}
    assert plain["correct"] and plain["failed"] == 0 and plain["attempted"] >= 3
    assert plain_details["digest"]["output"] == plain_details["digest"]["oracle"]
    assert list(plain["metrics"]) == [m["name"] for m in spec["end_to_end"]]
    assert all(m["value"] > 0 for m in plain["metrics"].values())

    traced, traced_details = _run(workload, 1)
    assert traced["correct"] and traced["failed"] == 0
    assert sorted(traced["metrics"]) == sorted(m["name"] for m in spec["per_layer"])
    assert traced_details["digest"]["output"] == plain_details["digest"]["output"]
