"""Outside-in instruments: spans, executed-plan SQL metrics, Spark job
counts, cached-block residue and process-tree resident memory.

Nothing here reaches into the engine's code. Spans wrap the
benchmark's own calls into the engine's public functions; the Spark
numbers are read after each action from the query executions Spark
reports to a registered ``QueryExecutionListener`` and from the status
tracker; memory is sampled from ``/proc``.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory span recorder. Every span has a name, a layer, start
    and end (``perf_counter`` seconds), a parent and the run id; spans
    are only written out when the run ends."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "layer": layer,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()


def self_times(spans: list[dict], root: int) -> dict[int, float]:
    """Self time of every span in the tree under ``root``: its duration
    minus the part of its interval covered by its children."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out: dict[int, float] = {}
    todo = [root]
    while todo:
        sid = todo.pop()
        s = spans[sid]
        covered, cur_end = 0.0, s["start"]
        for c in sorted(kids.get(sid, []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cur_end = hi
            todo.append(c["id"])
        out[sid] = (s["end"] - s["start"]) - covered
    return out


# ---------------------------------------------------------------------------
# executed-plan SQL metrics
# ---------------------------------------------------------------------------


class QueryExecutions:
    """``QueryExecutionListener`` implemented over the py4j callback
    server: keeps every successful query execution (the executed plan
    with its SQL metrics and the planning phase tracker) until drained."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self._sc = spark.sparkContext
        ensure_callback_server_started(self._sc._gateway)
        self._lock = threading.Lock()
        self._qes: list = []
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        with self._lock:
            self._qes.append(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java API)
        pass

    def drain(self) -> list:
        """Wait for Spark's listener bus to deliver every queued event,
        then hand back (and forget) the executions seen so far."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        with self._lock:
            out, self._qes = self._qes, []
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


#: (per-layer metric, SQL metric key, node-name prefix or None, scale)
#: The scale turns the metric's raw unit into the reported one.
_SQL_METRICS = (
    ("spark.scan_bytes", "filesSize", None, 1.0),
    ("spark.scan_time_s", "scanTime", None, 1e-3),
    ("spark.shuffle_bytes_written", "shuffleBytesWritten", None, 1.0),
    ("spark.spill_bytes", "spillSize", None, 1.0),
    ("spark.broadcast_bytes", "dataSize", "BroadcastExchange", 1.0),
    ("spark.arrow.python_time_s", "pythonTotalTime", None, None),
    ("spark.arrow.bytes_sent", "pythonDataSent", None, 1.0),
    ("spark.arrow.bytes_received", "pythonDataReceived", None, 1.0),
)
SQL_METRIC_NAMES = tuple(m[0] for m in _SQL_METRICS)

_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def _children(p) -> list:
    cls = p.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [p.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [p.plan()]
    kids = []
    it = p.children().iterator()
    while it.hasNext():
        kids.append(it.next())
    if cls == "InMemoryTableScanExec":
        kids.append(p.relation().cachedPlan())
    return kids


def plan_metrics(jvm, qes: list, seen: set[int]) -> dict[str, float]:
    """Sum the SQL metrics of every physical node the executions ran
    (AQE final plans, query stages and cached plans included) plus their
    analysis/optimization/planning time. Nodes in ``seen`` were counted
    already (a cache an earlier item built) and are skipped; the nodes
    counted here are added to it."""
    ident = jvm.java.lang.System.identityHashCode
    out = dict.fromkeys(SQL_METRIC_NAMES, 0.0)
    out["spark.plan_s"] = 0.0
    for qe in qes:
        phases = qe.tracker().phases().values().iterator()
        while phases.hasNext():
            out["spark.plan_s"] += phases.next().durationMs() / 1e3
        todo = [qe.executedPlan()]
        while todo:
            p = todo.pop()
            key = ident(p)
            if key in seen:
                continue
            seen.add(key)
            todo.extend(_children(p))
            node = p.nodeName()
            metrics = p.metrics()
            for name, key_, prefix, scale in _SQL_METRICS:
                if prefix is not None and not node.startswith(prefix):
                    continue
                m = metrics.get(key_)
                if m.isEmpty():
                    continue
                m = m.get()
                if scale is None:
                    scale = _TIME_SCALE.get(m.metricType(), 1.0)
                out[name] += m.value() * scale
    return out


def job_counts(sc, group: str) -> tuple[int, int]:
    """(jobs, completed tasks) Spark ran under ``group``."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else ():
            stage = st.getStageInfo(sid)
            if stage:
                tasks += stage.numCompletedTasks
    return len(jobs), tasks


def cached_bytes(sc) -> int:
    """Bytes held by persisted blocks (cache() and localCheckpoint())."""
    return sum(
        i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo()
    )


def drop_cached(spark) -> None:
    """Empty the CacheManager and unpersist every persisted RDD, so the
    next item builds its own caches."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


# ---------------------------------------------------------------------------
# resident memory
# ---------------------------------------------------------------------------


def descendants(root: int) -> set[int]:
    """``root`` and every process below it (the driver JVM, the Python
    worker daemon and its forks)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


def _tree_rss(root: int) -> int:
    """Resident bytes of the process tree, each shared page split among
    the processes that map it (``Pss``), so forked Python workers do not
    count their parent's pages again."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Background sampler of the process tree's resident memory; keeps
    the peak between ``start`` and ``stop``."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.peak = max(self.peak, _tree_rss(me))
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> None:
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> int:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        return self.peak
