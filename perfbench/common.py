"""Shared pieces of the benchmark: paths, the engine's environment, span
tracing, the RSS sampler, Spark status readers and small statistics.

Nothing here touches the engine's code paths: every probe reads state
the engine already keeps (the JVM's management beans, Spark's status
store, streaming progress, files on disk) after the calls it measures.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import re
import shutil
import statistics
import sys
import threading
import time

#: root of the checkout (the directory holding ``perfbench/``)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "bigdata_spark_realtime_spark"
#: scratch space of one run, removed when the run ends
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
#: where a run leaves its spans and its full record
OUT_DIR = os.path.join(ROOT, ".perfbench_out")

NPROC = max(1, len(os.sched_getaffinity(0)))


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def engine_env(work: str) -> dict[str, str]:
    """Environment for the engine's processes: the package importable by
    Spark's Python workers, and every temporary file inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    return {
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYTHONUNBUFFERED": "1",
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS", str(NPROC)),
    }


def make_work_dir(workload: str, seed: int) -> str:
    work = os.path.join(WORK_ROOT, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work


# -- statistics --------------------------------------------------------------


def quantile(values: list[float], q: float) -> float:
    """Interpolated quantile (``statistics.quantiles`` inclusive method)."""
    if not values:
        raise ValueError("quantile of no values")
    if len(values) == 1:
        return float(values[0])
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return float(cuts[round(q * 100) - 1])


def median(values: list[float]) -> float:
    return float(statistics.median(values))


# -- tracing -----------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, request id), written as
    JSONL when the run ends. Disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        #: wall time spent in tracer-owned reads (status store, UI, dirs)
        self.probe_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, req: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            stack.pop()
            rec = {"id": sid, "name": name, "start": start, "end": end,
                   "parent": parent, "req": req}
            rec.update(attrs)
            with self._lock:
                self.spans.append(rec)

    @contextlib.contextmanager
    def probing(self):
        """Account the enclosed block as tracing overhead."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.probe_s += time.perf_counter() - t0

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# -- memory ------------------------------------------------------------------


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_mb(root: int) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total / 2**20


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    Python driver, its JVM, Spark's Python workers and, for ``stream``,
    the load generator and the publisher), sampled every ``interval``
    seconds."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))


# -- Spark status ------------------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ns": 1e-6, "ms": 1.0, "s": 1000.0, "m": 60_000.0, "h": 3_600_000.0,
}
_NUM = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A formatted SQL metric value as a number: sizes in bytes, timings
    in ms, counts as counts. Aggregated forms (``total (min, med, max)``
    over a second line) read the total."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _NUM.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


#: plan nodes that run Python code on Arrow batches (the JVM↔Python crossing)
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
                "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
                "AggregateInPandas", "WindowInPandas", "PythonUDTF")


class SparkProbe:
    """Reads an in-process SparkSession's own records: the JVM management
    beans for GC and heap, the job tracker and the SQL status store."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._mf = spark._jvm.java.lang.management.ManagementFactory

    def gc_ms(self) -> float:
        beans = self._mf.getGarbageCollectorMXBeans()
        return float(sum(beans.get(i).getCollectionTime() for i in range(beans.size())))

    def heap_peak_mb(self) -> float:
        pools = self._mf.getMemoryPoolMXBeans()
        total = 0
        for i in range(pools.size()):
            p = pools.get(i)
            if str(p.getType().toString()) == "Heap memory":
                total += p.getPeakUsage().getUsed()
        return total / 2**20

    def cached_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())

    def jobs_stages(self, group: str) -> tuple[int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages += len(info.stageIds)
        return len(jobs), stages

    def sql_executions(self, min_id: int = 0) -> list[dict]:
        """Per SQL execution: its description and summed node metrics."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        lst = store.executionsList()
        out = []
        for i in range(lst.size()):
            ex = lst.apply(i)
            eid = ex.executionId()
            if eid < min_id:
                continue
            values = store.executionMetrics(eid)
            graph = store.planGraph(eid)
            nodes = graph.allNodes()
            rec = {"id": eid, "desc": ex.description(), "scan_bytes": 0.0,
                   "shuffle_bytes": 0.0, "python_rows": 0.0, "python_nodes": 0}
            for k in range(nodes.size()):
                node = nodes.apply(k)
                name = node.name()
                is_py = name.startswith(PYTHON_NODES)
                rec["python_nodes"] += int(is_py)
                metrics = node.metrics()
                for z in range(metrics.size()):
                    pm = metrics.apply(z)
                    mname = pm.name()
                    if mname not in ("size of files read", "shuffle bytes written",
                                     "number of output rows"):
                        continue
                    v = values.get(pm.accumulatorId())
                    if not v.isDefined():
                        continue
                    num = parse_metric(v.get())
                    if mname == "size of files read":
                        rec["scan_bytes"] += num
                    elif mname == "shuffle bytes written":
                        rec["shuffle_bytes"] += num
                    elif is_py:
                        rec["python_rows"] += num
            out.append(rec)
        return out


def session_layers(probe: SparkProbe, start_s: float, gc0: float) -> dict[str, float]:
    """The engine session's own figures since ``gc0`` was read."""
    return {
        "session.start_s": start_s,
        "session.gc_ms": probe.gc_ms() - gc0,
        "session.heap_peak_mb": probe.heap_peak_mb(),
        "session.cached_rdds": probe.cached_rdds(),
    }


def dir_bytes(path: str, newer_than_ns: int = 0) -> tuple[int, int]:
    """(bytes, data files) under ``path``, counting only files modified
    at or after ``newer_than_ns``; Spark's ``.crc`` and marker files are
    left out."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(dirpath, n))
            if st.st_mtime_ns >= newer_than_ns:
                total += st.st_size
                files += 1
    return total, files


def emit(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> None:
    """The result line: the last line of standard output."""
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
