"""Per-layer measurement for the traced run, taken from outside the
program: spans around calls into each module's public functions
(installed by wrapping the module attribute, the way
tools/streaming_profile.py times the ingest phases), and counters read
from Spark's own status stores and the JVM's management beans.

Spans are kept in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import json
import re
import threading
import time
from collections import defaultdict

# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """Records spans ``(name, start, end, parent, op)``. ``op`` is the id
    of the benchmark operation that was current when the span opened;
    ``parent`` is the index of the enclosing span on the same thread.
    Disabled tracers record nothing, so wrappers can stay installed."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self.op = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str) -> int | None:
        if not self.enabled:
            return None
        stack = self._stack()
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": stack[-1] if stack else None,
            "op": self.op,
        }
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        return idx

    def close(self, idx: int | None) -> None:
        if idx is None:
            return
        self.spans[idx]["end"] = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] == idx:
            stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self.open(name)
        try:
            yield
        finally:
            self.close(idx)

    def patch(self, owner, attr: str, make):
        """Replace ``owner.attr`` (a module function or a class method)
        with ``make(original)`` until ``unwrap_all``."""
        orig = getattr(owner, attr)
        setattr(owner, attr, make(orig))
        self._patched.append((owner, attr, orig))

    def wrap(self, owner, attr: str, name: str) -> None:
        """Record a span named ``name`` around every call of ``owner.attr``."""
        tracer = self

        def make(orig):
            def wrapper(*a, **kw):
                idx = tracer.open(name)
                try:
                    return orig(*a, **kw)
                finally:
                    tracer.close(idx)

            return wrapper

        self.patch(owner, attr, make)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def totals(self, prefix: str) -> dict:
        """Per-op sum of durations (ms) and call counts of spans whose
        name starts with ``prefix``; a span nested in another span of the
        same prefix is not counted twice."""
        ms: dict = defaultdict(float)
        calls: dict = defaultdict(int)
        for s in self.spans:
            if not s["name"].startswith(prefix) or s["end"] is None:
                continue
            p = s["parent"]
            if p is not None and self.spans[p]["name"].startswith(prefix):
                continue
            ms[s["op"]] += (s["end"] - s["start"]) * 1000.0
            calls[s["op"]] += 1
        return {"ms": dict(ms), "calls": dict(calls)}

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


# ---------------------------------------------------------------------------
# Spark and JVM counters
# ---------------------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")

PY_METRICS = {
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
    "time to start Python workers": "python.boot_ms",
}


def parse_metric(text: str) -> float:
    """A Spark SQL metric as the status store formats it: ``2.4 MiB``,
    ``361 ms``, ``60,000``, or the per-task form
    ``total (min, med, max ...)\\n29 ms (3 ms, ...)`` whose total is
    taken. Sizes come back in bytes and times in ms."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    return num


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class SparkCounters:
    """Job, stage, task, shuffle, spill and Python-worker counts of
    everything Spark ran between two watermarks, read from the app
    status store (jobs, stages) and the SQL status store (per-operator
    SQL metrics) with the UI disabled, plus JVM GC/JIT totals."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        mf = sc._jvm.java.lang.management.ManagementFactory
        self._gc_beans = list(mf.getGarbageCollectorMXBeans())
        self._jit_bean = mf.getCompilationMXBean()
        self.jvm_pid = int(mf.getRuntimeMXBean().getPid())
        self.heap_max_mb = mf.getMemoryMXBean().getHeapMemoryUsage().getMax() / 2**20
        self._codegen = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._next_exec = 0

    def codegen_compiles(self) -> int:
        """Whole-stage and expression code compilations so far (each
        one a code-cache miss)."""
        return int(self._codegen.METRIC_COMPILATION_TIME().getCount())

    def next_job_id(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    def jvm_ms(self) -> tuple[float, float]:
        gc = sum(b.getCollectionTime() for b in self._gc_beans)
        return float(gc), float(self._jit_bean.getTotalCompilationTime())

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status stores hold the jobs that already finished."""
        self._sc.listenerBus().waitUntilEmpty(10_000)

    def mark_sql(self) -> None:
        """Skip SQL executions that ran before now."""
        self.settle()
        while self._sql.execution(self._next_exec).isDefined():
            self._next_exec += 1

    def jobs_since(self, first_job: int) -> dict:
        """Counts for jobs ``first_job ..`` (all jobs submitted since a
        ``next_job_id()`` watermark) and the stages they ran."""
        self.settle()
        last = self.next_job_id()
        out = {"exec.jobs": last - first_job, "exec.stages": 0, "exec.tasks": 0,
               "exec.task_run_ms": 0.0, "exec.shuffle_write_bytes": 0.0,
               "exec.spill_bytes": 0.0}
        seen = set()
        for j in range(first_job, last):
            try:
                jd = self._store.job(j)
            except Exception as e:
                if "NoSuchElementException" not in str(e):
                    raise
                # a job over no partitions takes an id but never runs
                out["exec.jobs"] -= 1
                continue
            out["exec.tasks"] += jd.numCompletedTasks()
            for sid in _seq(jd.stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception as e:
                    if "NoSuchElementException" not in str(e):
                        raise
                    continue  # never submitted
                if str(st.status()) != "COMPLETE":
                    continue  # skipped: its map output was reused
                out["exec.stages"] += 1
                out["exec.task_run_ms"] += st.executorRunTime()
                out["exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["exec.spill_bytes"] += (
                    st.memoryBytesSpilled() + st.diskBytesSpilled()
                )
        return out

    def python_since_mark(self) -> dict:
        """Python-worker SQL metrics summed over the SQL executions that
        ran since the last ``mark_sql`` (or call of this method). Only
        metrics some plan reported are returned, so a renamed metric
        shows as missing rather than as 0."""
        self.settle()
        out = {}
        while True:
            opt = self._sql.execution(self._next_exec)
            if not opt.isDefined():
                break
            ex = opt.get()
            eid = self._next_exec
            self._next_exec += 1
            names = {}
            for line in ex.metrics().mkString("\n").splitlines():
                # SQLPlanMetric(name,accumulatorId,metricType)
                m = re.match(r"SQLPlanMetric\((.*),(\d+),(\w+)\)$", line)
                if m and m.group(1) in PY_METRICS:
                    names[int(m.group(2))] = PY_METRICS[m.group(1)]
            if not names:
                continue
            values = self._sql.executionMetrics(eid)
            for acc, key in names.items():
                v = values.get(acc)
                out[key] = out.get(key, 0.0) + (
                    parse_metric(v.get()) if v.isDefined() else 0.0
                )
        return out


PLAN_PHASES = ("plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms")


def plan_phases(df) -> dict:
    """Driver planning time of an executed DataFrame, from its
    QueryExecution's phase tracker (analysis, optimization, planning);
    a phase the tracker did not record is missing, not 0."""
    out = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        key = f"plan.{kv._1()}_ms"
        if key in PLAN_PHASES:
            out[key] = out.get(key, 0.0) + float(kv._2().durationMs())
    return out
