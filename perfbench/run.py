"""Benchmark of the spark_ij_spark engine: one workload per call.

    python3 perfbench/run.py --workload image_files --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout of the repository, on ``local[nproc]``,
one driver thread sending one item at a time (a closed loop). Inputs
are made from ``--seed`` under ``.perfbench_work/`` (query tables once
per checkout; images per run). The run

1. sets the session up ``SETUPS`` times (``get_spark``,
   ``register_imagej``, JVM/codegen and Python-worker warm-up and one
   scan of the inputs) and keeps the last session;
2. runs whole passes over the workload's items for ``--seconds``,
   each item from an empty cache, and checks every item's output;
3. prints one line of run context and, last, one JSON line
   ``{"correct", "attempted", "failed", "metrics"}``.

With ``--trace 0`` the metrics are the end-to-end ones. With
``--trace 1`` untraced and traced passes alternate; traced passes
record spans and read every action's executed-plan SQL metrics, and
direct micro-timings of the codecs, the image data model and the
kernels follow; the metrics are the per-layer ones. Every run writes
its per-item records (and spans, when traced) to
``.perfbench_work/result-<workload>-<seed>-<trace>.json``.

``--smoke`` runs every workload on tiny inputs with tracing on and
checks the trace; it is the benchmark's own test.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

SETUPS = 3
MIN_PASSES = 3
SF = 0.01
N_IMAGES = 12
SMOKE_SF = 0.001
SMOKE_IMAGES = 6
DRIVER_MEM = "2g"

END_TO_END = (
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("query_p50_s", "s"),
    ("peak_rss_mb", "MB"),
)

QUERY_MODULES = ("image_queries", "clustering", "dedup", "relational")
LAYER_SELF = ("bench", "operators", "sources", "functions", "spark")
#: codec -> (dtype, full scale) of its micro-timing input
CODECS = {"tif": ("uint16", 4095), "png": ("uint8", 255), "dcm": ("uint16", 4095),
          "jpg": ("uint8", 255)}
KERNELS = (
    ("gaussian_blur", "Gaussian Blur...", "sigma=2"),
    ("median", "Median...", "radius=2"),
    ("auto_threshold", "Auto Threshold", "method=IsoData white"),
    ("analyze_particles", "Analyze Particles...", ""),
)

PER_LAYER = (
    [("session.get_spark_s", "s"), ("session.warmup_s", "s"),
     ("sources.load_images_s", "s"), ("sources.save_images_s", "s"),
     ("sources.read_back_s", "s"), ("sources.bytes_written", "bytes"),
     ("sink_bytes_per_pixel_byte", "ratio")]
    + [(f"sources.codecs.{d}_ms.{c}", "ms") for d in ("decode", "encode") for c in CODECS]
    + [("datamodel.image_to_np_us", "us"), ("datamodel.np_to_image_us", "us"),
       ("lineage.entries_per_image", "count")]
    + [(f"kernels.run_op_ms.{k}", "ms") for k, _, _ in KERNELS]
    + [("operators.images.ops_stage_s", "s"), ("operators.images.particles_stage_s", "s"),
       ("operators.sweep.run_range_s", "s"), ("functions.sql.stage_s", "s")]
    + [(f"operators.{m}.{p}_s", "s") for m in QUERY_MODULES for p in ("build", "execute")]
    + [("spark.plan_s", "s"), ("spark.jobs", "count"), ("spark.tasks", "count"),
       ("spark.scan_bytes", "bytes"), ("spark.scan_time_s", "s"),
       ("spark.shuffle_bytes_written", "bytes"), ("spark.spill_bytes", "bytes"),
       ("spark.broadcast_bytes", "bytes"), ("spark.arrow.python_time_s", "s"),
       ("spark.arrow.bytes_sent", "bytes"), ("spark.arrow.bytes_received", "bytes"),
       ("spark.cache_residue_mb", "MB")]
    + [(f"self_s.{layer}", "s") for layer in LAYER_SELF]
    + [("trace.wall_s", "s"), ("trace.overhead_s", "s"), ("fail_share", "ratio")]
)

#: image_files stage item -> its per-layer stage metric
STAGE_METRICS = {
    "load_images": "sources.load_images_s",
    "ops_stage": "operators.images.ops_stage_s",
    "particles_stage": "operators.images.particles_stage_s",
    "run_range": "operators.sweep.run_range_s",
    "sql_stage": "functions.sql.stage_s",
    "save_images": "sources.save_images_s",
    "read_back": "sources.read_back_s",
}


def make_workload(name: str, smoke: bool):
    from workloads import QUERY_MIX, QUERY_MIX_TABLES, ImageWorkload, QueryWorkload

    if name == "image_files":
        return ImageWorkload(SMOKE_IMAGES if smoke else N_IMAGES)
    return QueryWorkload(name, QUERY_MIX, QUERY_MIX_TABLES, SMOKE_SF if smoke else SF)


WORKLOADS = ("image_files", "query_mix")


# ---------------------------------------------------------------------------
# environment and session
# ---------------------------------------------------------------------------


def prepare_env(work: str, cpus: int) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``
    and put the repository on the Python workers' path."""
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            # the whole heap is committed and touched at start, so resident
            # memory tracks everything but the heap's own fill level
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM}"
            " -XX:+AlwaysPreTouch'",
            "pyspark-shell",
        ]
    )
    if REPO not in sys.path:
        sys.path.insert(0, REPO)


def set_up(wl, cpus: int) -> tuple[object, dict[str, float]]:
    """One session set-up: get_spark, register_imagej, warm-up of the
    JVM and of one Python worker per core, one scan of the inputs."""
    t0 = time.perf_counter()
    from spark_ij_spark.functions.sql import register_imagej
    from spark_ij_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    register_imagej(spark)
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def load_engine(v):
        # each Python worker imports the engine and its op registry once
        import spark_ij_spark.operators.images  # noqa: F401
        from spark_ij_spark.registry import list_commands

        return v + len(list_commands())

    from workloads import noop

    noop(spark.range(20000).selectExpr("id % 7 AS k").groupBy("k").count())
    noop(spark.range(0, 4 * cpus, 1, cpus).select(load_engine("id")))
    wl.scan(spark)
    t2 = time.perf_counter()
    return spark, {"get_spark": t1 - t0, "warmup": t2 - t1, "total": t2 - t0}


def shut_down(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers exit."""
    from pyspark import SparkContext

    from probes import descendants

    kids = descendants(os.getpid()) - {os.getpid()}
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while kids and time.monotonic() < deadline:
        kids = {p for p in kids if _alive(p)}
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# ---------------------------------------------------------------------------
# passes
# ---------------------------------------------------------------------------


def run_pass(spark, wl, rng, tracer, qes, traced: bool, n: int) -> dict:
    """One pass over the workload's items. Each item is timed from its
    build through its action; cache emptying, metric reading and the
    output check happen between items, off the clock."""
    import probes

    sc = spark.sparkContext
    started = time.perf_counter()
    items = wl.items(spark, rng)
    recs = []
    seen: set[int] = set()  # plan nodes whose metrics are counted already
    for i, item in enumerate(items):
        if i == 0 or wl.isolate_items:
            probes.drop_cached(spark)
        group = f"perfbench-{n}-{item.name}"
        if traced:
            sc.setJobGroup(group, item.name)
            qes.drain()
        rec = {"name": item.name, "layer": item.layer, "ok": False}
        df = None
        try:
            with tracer.span(item.name, "bench") as span:
                t0 = time.perf_counter()
                with tracer.span("build", item.layer):
                    df = item.build()
                t1 = time.perf_counter()
                with tracer.span("action", "spark"):
                    item.run(df)
                t2 = time.perf_counter()
            rec.update(build_s=t1 - t0, execute_s=t2 - t1, wall_s=t2 - t0)
            if traced:
                # a traced item's time is its span, so self times add up to it
                rec["span"] = span["id"]
                rec["wall_s"] = span["end"] - span["start"]
                rec.update(probes.plan_metrics(sc._jvm, qes.drain(), seen))
                rec["spark.jobs"], rec["spark.tasks"] = probes.job_counts(sc, group)
                rec["spark.cache_residue_mb"] = probes.cached_bytes(sc) / 1e6
            rec["ok"] = bool(item.check(df))
            rec["after_s"] = time.perf_counter() - t2  # off the clock
        except Exception as e:  # a failing item is counted, the run goes on
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
            print(f"perfbench: {item.name} failed: {rec['error']}", file=sys.stderr)
        recs.append(rec)
    timed = [r for r in recs if "wall_s" in r]
    return {
        "traced": traced,
        "items": recs,
        "wall_s": sum(r["wall_s"] for r in timed),
        "elapsed_s": time.perf_counter() - started,
    }


# ---------------------------------------------------------------------------
# micro-timings (traced runs)
# ---------------------------------------------------------------------------


def _timed(tracer, name: str, layer: str, fn, reps: int) -> float:
    """Median seconds of ``reps`` calls, one span per call."""
    out = []
    for _ in range(reps):
        with tracer.span(name, layer):
            t0 = time.perf_counter()
            fn()
            out.append(time.perf_counter() - t0)
    return statistics.median(out)


def micro_timings(tracer, seed: int) -> dict[str, float]:
    """Direct driver calls into the codecs, the image data model and
    the kernels on one generated 256x256 image per format."""
    import numpy as np

    from spark_ij_spark.datamodel import image_to_np, np_to_image
    from spark_ij_spark.registry import run_op
    from spark_ij_spark.sources.codecs import decode_bytes, encode_array
    from workloads import SIZE, microscopy_image

    rng = np.random.default_rng(seed)
    out: dict[str, float] = {}
    with tracer.span("micro", "bench"):
        for c, (dtype, scale) in CODECS.items():
            arr = microscopy_image(rng, SIZE, dtype, scale)
            reps = 1 if c == "jpg" else 5  # the JPEG codec is ~100x slower
            blob = encode_array(arr, "." + c)
            out[f"sources.codecs.encode_ms.{c}"] = 1e3 * _timed(
                tracer, f"encode.{c}", "sources.codecs", lambda: encode_array(arr, "." + c), reps)
            out[f"sources.codecs.decode_ms.{c}"] = 1e3 * _timed(
                tracer, f"decode.{c}", "sources.codecs", lambda: decode_bytes(blob, "x." + c), reps)
        arr = microscopy_image(rng, SIZE, "uint16", 4095)
        img = np_to_image(arr)
        out["datamodel.np_to_image_us"] = 1e6 * _timed(
            tracer, "np_to_image", "datamodel", lambda: np_to_image(arr), 50)
        out["datamodel.image_to_np_us"] = 1e6 * _timed(
            tracer, "image_to_np", "datamodel", lambda: image_to_np(img), 50)
        cur = arr
        for key, cmd, args in KERNELS:
            src = cur
            out[f"kernels.run_op_ms.{key}"] = 1e3 * _timed(
                tracer, key, "kernels", lambda: run_op(src, cmd, args, {}), 3)
            cur = run_op(src, cmd, args, {})[0]
    return out


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def end_to_end(setups, passes, peak_rss) -> dict[str, float]:
    walls = [p["wall_s"] for p in passes if not p["traced"]]
    items = [r["wall_s"] for p in passes if not p["traced"] for r in p["items"] if "wall_s" in r]
    return {
        "setup_s": statistics.median(s["total"] for s in setups),
        "wall_s": statistics.median(walls),
        "query_p50_s": statistics.median(items),
        "peak_rss_mb": peak_rss / 1e6,
    }


def per_layer(setups, passes, tracer, wl, micro, attempted, failed) -> dict[str, float]:
    import probes

    out = dict.fromkeys((n for n, _ in PER_LAYER), 0.0)
    out["session.get_spark_s"] = statistics.median(s["get_spark"] for s in setups)
    out["session.warmup_s"] = statistics.median(s["warmup"] for s in setups)
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    # every sum below is over one traced pass; medians across passes
    per_pass: list[dict[str, float]] = []
    for p in traced:
        d: dict[str, float] = {}
        for r in p["items"]:
            if "wall_s" not in r:
                continue
            if r["name"] in STAGE_METRICS:
                key = STAGE_METRICS[r["name"]]
                d[key] = d.get(key, 0.0) + r["wall_s"]
            elif r["layer"].startswith("operators."):
                for part in ("build", "execute"):
                    key = f"{r['layer']}.{part}_s"
                    d[key] = d.get(key, 0.0) + r[f"{part}_s"]
            for key in probes.SQL_METRIC_NAMES + ("spark.plan_s", "spark.jobs", "spark.tasks"):
                d[key] = d.get(key, 0.0) + r.get(key, 0.0)
            if "span" not in r:  # failed while its metrics were read
                continue
            d["spark.cache_residue_mb"] = max(
                d.get("spark.cache_residue_mb", 0.0), r.get("spark.cache_residue_mb", 0.0))
            for sid, t in probes.self_times(tracer.spans, r["span"]).items():
                layer = tracer.spans[sid]["layer"].split(".")[0]
                key = f"self_s.{layer}"
                d[key] = d.get(key, 0.0) + t
        d["trace.wall_s"] = p["wall_s"]
        per_pass.append(d)
    for key in {k for d in per_pass for k in d}:
        if key in out:
            out[key] = statistics.median(d.get(key, 0.0) for d in per_pass)
    if traced and untraced[1:]:  # the first pass runs cold
        out["trace.overhead_s"] = out["trace.wall_s"] - statistics.median(
            p["wall_s"] for p in untraced[1:])
    out.update({k: v for k, v in micro.items() if k in out})
    out.update({k: v for k, v in getattr(wl, "layer_counts", {}).items() if k in out})
    out["fail_share"] = failed / max(attempted, 1)
    return out


def self_time_gap(passes, tracer) -> float:
    """Largest |sum of self times - traced wall_s| over traced passes."""
    import probes

    gap = 0.0
    for p in passes:
        if p["traced"]:
            total = sum(
                sum(probes.self_times(tracer.spans, r["span"]).values())
                for r in p["items"] if "span" in r
            )
            gap = max(gap, abs(total - p["wall_s"]))
    return gap


# ---------------------------------------------------------------------------
# driver
# ---------------------------------------------------------------------------


def run_workload(name, seed, seconds, trace, smoke, work, cpus, setups=SETUPS) -> dict:
    import numpy as np

    import probes

    run_dir = os.path.join(work, f"run-{os.getpid()}-{name}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    marks = {"start": time.perf_counter()}
    wl = make_workload(name, smoke)
    inputs = wl.prepare(work, run_dir, seed)
    marks["prepared"] = time.perf_counter()

    timings = []
    spark = None
    try:
        for _ in range(setups):
            if spark is not None:
                spark.stop()
            spark, t = set_up(wl, cpus)
            timings.append(t)
        setups = timings
        marks["set_up"] = time.perf_counter()

        run_id = f"{name}-{seed}-{os.getpid()}"
        tracer = probes.Tracer(run_id, enabled=False)
        qes = probes.QueryExecutions(spark) if trace else None
        rng = np.random.default_rng(seed)
        # A query's first run in the JVM also compiles its generated code
        # and warms the JIT (up to twice a warm run), so every run makes at
        # least MIN_PASSES passes and reports medians. The smoke run makes
        # one pass, traced.
        need = 1 if smoke else MIN_PASSES
        sampler = probes.RssSampler()
        sampler.start()
        passes: list[dict] = []
        try:
            while True:
                traced = trace and (smoke or len(passes) % 2 == 1)
                tracer.enabled = traced
                passes.append(run_pass(spark, wl, rng, tracer, qes, traced, len(passes)))
                tracer.enabled = False
                elapsed = time.perf_counter() - marks["set_up"]
                if len(passes) >= need and elapsed + passes[-1]["wall_s"] > seconds:
                    break
        finally:
            peak = sampler.stop()
        marks["passes"] = time.perf_counter()
        micro = {}
        if trace:
            tracer.enabled = True
            micro = micro_timings(tracer, seed)
            tracer.enabled = False
        marks["micro"] = time.perf_counter()

        conf = spark.sparkContext.getConf()
        context = {
            "workload": name,
            "seed": seed,
            "seconds": seconds,
            "trace": trace,
            "nproc": cpus,
            "master": spark.sparkContext.master,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_memory": conf.get("spark.driver.memory"),
            "spark": spark.version,
            "pyarrow": __import__("pyarrow").__version__,
            "numpy": np.__version__,
            "python": sys.version.split()[0],
            "inputs": inputs,
            "passes": len(passes),
            "items_per_pass": len(passes[0]["items"]),
        }
    finally:
        if spark is not None:
            shut_down(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    marks["shut_down"] = time.perf_counter()
    names = list(marks)
    context["phase_s"] = {b: round(marks[b] - marks[a], 3) for a, b in zip(names, names[1:])}

    recs = [r for p in passes for r in p["items"]]
    attempted, failed = len(recs), sum(not r["ok"] for r in recs)
    result = {"context": context, "attempted": attempted, "failed": failed,
              "setups": setups, "passes": passes}
    if trace:
        metrics = per_layer(setups, passes, tracer, wl, micro, attempted, failed)
        result["self_time_gap_s"] = self_time_gap(passes, tracer)
        result["spans"] = tracer.spans
        units = dict(PER_LAYER)
    else:
        metrics = end_to_end(setups, passes, peak)
        units = dict(END_TO_END)
    result["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    with open(os.path.join(work, f"result-{name}-{seed}-{int(trace)}.json"), "w") as fh:
        json.dump(result, fh, default=str)
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, every workload, traced; checks the trace")
    args = ap.parse_args(argv)
    if not args.smoke and args.workload is None:
        ap.error("--workload is required")

    for need in ("__spark_entry__.py", os.path.join("spark_ij_spark", "__init__.py")):
        if not os.path.exists(os.path.join(REPO, need)):
            print(f"perfbench: {need} not found next to perfbench/; "
                  "run from a checkout of the repository", file=sys.stderr)
            return 2

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(REPO, ".perfbench_work")
    prepare_env(work, cpus)

    if args.smoke:
        from smoke import smoke

        return smoke(run_workload, WORKLOADS, [n for n, _ in PER_LAYER], work, cpus)

    res = run_workload(args.workload, args.seed, args.seconds, bool(args.trace),
                       False, work, cpus)
    print(json.dumps({"context": res["context"]}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": res["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
