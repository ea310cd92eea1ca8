"""Spans, per-layer Spark metrics and process-tree memory for the benchmark.

``Tracer`` runs every call the workloads make into the library. With
tracing off it only calls. With tracing on it tags the call's jobs with
the Spark job group ``<workload>.<layer>.<function>`` (job description
``build`` or ``run``), keeps a span per call in memory, and after the
action reads Spark's status store for that group's jobs, stages and SQL
executions. Status-store reads need no UI (``spark.ui.enabled=false``).
"""

from __future__ import annotations

import contextlib
import os
import re
import threading
import time
from collections import defaultdict

OPERATOR_LAYERS = (
    "operators.dedup", "operators.similarity", "operators.textindex",
    "operators.textops", "operators.retrieval", "operators.kv",
    "operators.pipeline",
)
LAYER_FIELDS = (
    "calls", "build_s", "run_s", "jobs", "eager_jobs", "tasks",
    "failed_tasks", "exec_run_s", "exec_cpu_s", "shuffle_bytes",
    "spill_bytes", "input_bytes", "python_s",
)
PYTHON_TIME = "time to run Python workers"
PYTHON_SENT = "data sent to Python workers"
PYTHON_RECV = "data returned from Python workers"
FILES_WRITTEN = "number of written files"

_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40}
_NUM = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """Value of a formatted SQL metric string. Timing and size metrics
    read 'total (min, med, max ...)\\n<total> (...)'; sum metrics read
    '1,234'. Times come back in seconds, sizes in bytes."""
    if not text:
        return 0.0
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


_METRIC = re.compile(r"SQLPlanMetric\(([^,()]+),(\d+),(\w+)\)")


def _plan_metrics(scala_seq) -> dict[str, set[int]]:
    """name -> accumulator ids of a Seq[SQLPlanMetric], read from its
    string form in one JVM round trip."""
    out: dict[str, set[int]] = defaultdict(set)
    for name, acc, _kind in _METRIC.findall(scala_seq.toString()):
        out[name].add(int(acc))
    return out


class Tracer:
    """Runs library calls; with ``enabled`` it also records spans and
    per-layer Spark metrics for the calls made inside ``timed()``."""

    def __init__(self, workload: str, enabled: bool):
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self.layers = defaultdict(lambda: dict.fromkeys(LAYER_FIELDS, 0.0))
        self.python = {"python_s": 0.0, "python_rows": 0.0,
                       "python_bytes": 0.0}
        self.io = {"input_bytes": 0.0, "output_bytes": 0.0,
                   "files_written": 0.0}
        self.in_timed = False
        self.timed_jobs = (0, 0)
        self._spark = None
        self._seen: dict[str, set] = defaultdict(set)
        self._execs_seen = 0
        self._op = None
        self._stack: list[int] = []

    # -- session binding ------------------------------------------------
    def bind(self, spark) -> None:
        """Attach to a (new) session."""
        self._spark = spark
        self._seen.clear()
        self._execs_seen = 0

    def _sc(self):
        return self._spark.sparkContext

    def _drain(self) -> None:
        """Wait until the status store has seen every event so far."""
        self._sc()._jsc.sc().listenerBus().waitUntilEmpty()

    def _new_jobs(self, group: str) -> set:
        ids = set(self._sc().statusTracker().getJobIdsForGroup(group))
        new = ids - self._seen[group]
        self._seen[group] |= new
        return new

    def _max_job_id(self) -> int:
        self._drain()
        jvm = self._sc()._jvm
        jobs = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            self._sc()._jsc.sc().statusStore().jobsList(None))
        return max((j.jobId() for j in jobs), default=-1)

    # -- spans ----------------------------------------------------------
    def _span(self, name: str, start: float, end: float, **extra) -> dict:
        span = {"id": len(self.spans), "name": name, "start": start,
                "end": end, "parent": self._stack[-1] if self._stack else None,
                "request": self._op, **extra}
        self.spans.append(span)
        return span

    @contextlib.contextmanager
    def op(self, index: int):
        """One workload operation (pass, request or ingest cycle): the
        parent span of the calls made inside it."""
        if not self.enabled:
            yield
            return
        self._op = index
        span = self._span(f"{self.workload}.op", time.perf_counter(), 0.0)
        self._stack.append(span["id"])
        try:
            yield
        finally:
            self._stack.pop()
            span["end"] = time.perf_counter()
            self._op = None

    @contextlib.contextmanager
    def timed(self):
        """The timed region. Per-layer metrics aggregate only the calls
        made inside it."""
        if not self.enabled:
            yield
            return
        first = self._max_job_id()
        self.timed_jobs = (first, first)
        self.in_timed = True
        try:
            yield
        finally:
            self.in_timed = False
            self.timed_jobs = (first, self._max_job_id())

    @contextlib.contextmanager
    def paused(self):
        """Calls inside run untraced and untagged."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    # -- calls ----------------------------------------------------------
    def call(self, layer: str, function: str, build, action=None):
        """Run ``build()`` (returns a lazy DataFrame, or performs a write
        and returns None) and then ``action(df)``; return the action's
        result, or the build's when there is no action."""
        if not self.enabled:
            out = build()
            return action(out) if action is not None else out
        sc = self._sc()
        group = f"{self.workload}.{layer}.{function}"
        sc.setJobGroup(group, "build")
        t0 = time.perf_counter()
        out = build()
        t1 = time.perf_counter()
        eager = set()
        if action is not None:
            self._drain()
            eager = self._new_jobs(group)
            sc.setJobGroup(group, "run")
            t1 = time.perf_counter()
            out = action(out)
        t2 = time.perf_counter()
        sc.setJobGroup(f"{self.workload}.bench", "untraced")
        if action is None:   # a write: the call itself is the action
            t1 = t0
        self._span(group, t0, t2, build_end=t1, layer=layer)
        self._drain()
        jobs = eager | self._new_jobs(group)
        if self.in_timed:
            self._account(layer, jobs, len(eager), t1 - t0, t2 - t1)
        return out

    def _account(self, layer: str, jobs: set, n_eager: int,
                 build_s: float, run_s: float) -> None:
        sc = self._sc()
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        st = self.layers[layer]
        st["calls"] += 1
        st["build_s"] += build_s
        st["run_s"] += run_s
        st["jobs"] += len(jobs)
        st["eager_jobs"] += n_eager
        for job in jobs:
            info = tracker.getJobInfo(job)
            for sid in (info.stageIds if info else ()):
                try:
                    s = store.lastStageAttempt(sid)
                except Exception:   # stage never submitted: no record
                    continue
                if s.status().toString() == "SKIPPED":
                    continue
                st["tasks"] += s.numTasks()
                st["failed_tasks"] += s.numFailedTasks()
                st["exec_run_s"] += s.executorRunTime() / 1e3
                st["exec_cpu_s"] += s.executorCpuTime() / 1e9
                st["shuffle_bytes"] += s.shuffleWriteBytes()
                st["spill_bytes"] += s.memoryBytesSpilled() + \
                    s.diskBytesSpilled()
                st["input_bytes"] += s.inputBytes()
                self.io["input_bytes"] += s.inputBytes()
                self.io["output_bytes"] += s.outputBytes()
        self._sql_metrics(layer, jobs)

    def _sql_metrics(self, layer: str, jobs: set) -> None:
        """Python-boundary and file-write metrics of the SQL executions
        whose jobs all belong to this call."""
        jvm = self._sc()._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        sql = self._spark._jsparkSession.sharedState().statusStore()
        n = sql.executionsCount()
        new = conv.asJava(sql.executionsList(self._execs_seen,
                                             n - self._execs_seen))
        self._execs_seen = n
        for ex in new:
            ex_jobs = {int(k) for k in conv.asJava(ex.jobs()).keySet()}
            if not ex_jobs or not ex_jobs <= jobs:
                continue
            # metrics of every plan version AQE produced; only a cheap
            # filter, the final plan graph below is what gets summed
            names = _plan_metrics(ex.metrics())
            if FILES_WRITTEN not in names and PYTHON_TIME not in names:
                continue
            values = conv.asJava(sql.executionMetrics(ex.executionId()))
            val = lambda acc: parse_metric(values.get(acc))  # noqa: E731
            graph = sql.planGraph(ex.executionId())
            for node in conv.asJava(graph.allNodes()):
                m = _plan_metrics(node.metrics())
                self.io["files_written"] += sum(map(val, m[FILES_WRITTEN]))
                if PYTHON_TIME not in m:
                    continue
                secs = sum(map(val, m[PYTHON_TIME]))
                self.layers[layer]["python_s"] += secs
                self.python["python_s"] += secs
                self.python["python_rows"] += sum(
                    map(val, m["number of output rows"]))
                self.python["python_bytes"] += sum(
                    map(val, m[PYTHON_SENT] | m[PYTHON_RECV]))

    # -- summaries ------------------------------------------------------
    def self_times(self) -> dict:
        """Self time per span name: duration minus the union of the
        intervals its child spans cover, summed over spans."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out = defaultdict(float)
        for s in self.spans:
            covered, hi = 0.0, s["start"]
            for a, b in sorted(children[s["id"]]):
                a, b = max(a, hi), min(b, s["end"])
                if b > a:
                    covered += b - a
                    hi = b
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def timed_job_count(self) -> int:
        """Jobs submitted in the timed region (job ids are dense)."""
        lo, hi = self.timed_jobs
        return hi - lo


# -- memory ---------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out[1:]


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


def tree_resident_bytes(pid: int) -> dict[str, int]:
    """Resident memory of ``pid`` (the driver) and its descendants, split
    into driver, JVM and Python workers. Each process counts its
    proportional set size, so pages the forked Python workers share with
    their daemon are counted once, not once per worker."""
    out = {"driver": _pss_bytes(pid), "jvm": 0, "python_workers": 0}
    for p in descendants(pid):
        out["jvm" if _is_jvm(p) else "python_workers"] += _pss_bytes(p)
    return out


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled every ``period`` seconds."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0
        self.peak_parts: dict[str, int] = {}
        self._paused = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    @contextlib.contextmanager
    def paused(self):
        """Take no samples inside."""
        self._paused = True
        try:
            yield
        finally:
            self._paused = False

    def _run(self) -> None:
        while not self._stop.is_set():
            if not self._paused:
                parts = tree_resident_bytes(os.getpid())
                if sum(parts.values()) > self.peak:
                    self.peak, self.peak_parts = sum(parts.values()), parts
            self._stop.wait(self.period)

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False
