"""Smoke mode: every workload on tiny inputs (sf0.001 tables, a handful
of images), traced, with every output check, plus checks of the trace
itself. ``python3 perfbench/run.py --smoke`` exits 0 only if all hold."""

from __future__ import annotations

import time


def problems_of(name: str, res: dict, per_layer: list[str]) -> list[str]:
    out = []
    if res["failed"]:
        bad = [r["name"] for p in res["passes"] for r in p["items"] if not r["ok"]]
        out.append(f"{res['failed']}/{res['attempted']} items failed: {bad}")
    if sorted(res["metrics"]) != sorted(per_layer):
        out.append("per-layer metric names differ from the declared list")
    # the span trees' self times must add up to the traced pass's wall time
    if res["self_time_gap_s"] > 1e-6:
        out.append(f"self times miss traced wall_s by {res['self_time_gap_s']:.3g} s")
    if name == "query_mix":
        # img_order_stats runs Python UDFs at the top of its plan: a full
        # execution (not count()) must show Python time
        traced = [r for p in res["passes"] if p["traced"] for r in p["items"]]
        py = [r.get("spark.arrow.python_time_s", 0.0) for r in traced
              if r["name"] == "img_order_stats"]
        if not py or min(py) <= 0.0:
            out.append(f"img_order_stats recorded no Python time: {py}")
    return out


def smoke(run_workload, workloads, per_layer, work: str, cpus: int) -> int:
    t0 = time.perf_counter()
    failed = False
    for name in workloads:
        res = run_workload(name, 7, 0.0, True, True, work, cpus, setups=1)
        problems = problems_of(name, res, per_layer)
        failed |= bool(problems)
        print(f"smoke {name}: {'FAIL ' + '; '.join(problems) if problems else 'ok'}"
              f" ({res['attempted']} items)", flush=True)
    print(f"smoke: {time.perf_counter() - t0:.1f} s", flush=True)
    return 1 if failed else 0
