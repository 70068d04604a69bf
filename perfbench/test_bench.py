"""The benchmark's own tests: ``python3 -m pytest perfbench -q``.

The smoke test runs every workload on tiny inputs through Spark
(about two minutes on four cores); the others need no Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import probes  # noqa: E402
import run  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_declared_metrics_match_benchmark_json():
    spec = _benchmark_json()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(run.PER_LAYER)


def test_expected_outputs_pinned_for_every_query():
    from workloads import QUERY_MIX, load_expected

    expected = load_expected()
    for sf in (run.SF, run.SMOKE_SF):
        assert set(QUERY_MIX) <= set(expected[f"sf{sf:g}"])


def test_self_times_partition_the_root():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 5.0, "end": 9.0},
        {"id": 3, "parent": 2, "start": 6.0, "end": 7.0},
    ]
    st = probes.self_times(spans, 0)
    assert st == {0: 3.0, 1: 3.0, 2: 3.0, 3: 1.0}
    assert sum(st.values()) == 10.0


def test_tracer_records_parents_only_when_enabled():
    t = probes.Tracer("r", enabled=False)
    with t.span("a", "bench") as s:
        assert s is None
    t.enabled = True
    with t.span("a", "bench"):
        with t.span("b", "spark"):
            pass
    assert [(s["name"], s["parent"], s["run"]) for s in t.spans] == [
        ("a", None, "r"), ("b", 0, "r")]


def test_refuses_to_run_without_the_repository():
    bare = os.path.join(REPO, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=120,
    )
    shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0
    assert p.stdout == ""


def test_smoke_every_workload_and_check():
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--smoke"],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stdout[-2000:] + p.stderr[-2000:]
    for w in run.WORKLOADS:
        assert f"smoke {w}: ok" in p.stdout
