#!/usr/bin/env python3
"""Benchmark of the engine as its users drive it.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout. Workloads:

* ``analytics``: the seven ``bench.py`` headline queries at sf0.1 on
  fresh DataFrames over the warm table cache (``perfbench/analytics.py``);
* ``ingest_serve``: rounds of PDF uploads through the service, a
  streaming drain, and permission-checked result reads
  (``perfbench/ingest_serve.py``).

Inputs are generated from ``--seed``. After the set-up (Spark session,
inputs, cache fill and a fixed number of warm-up passes) the workload
runs in a closed loop for ``--seconds``; every operation's result is
checked outside the timed interval. The last line of standard output
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it records the run's environment and
host-drift diagnostics. Scratch files go under ``.perfbench_work/`` in
the checkout and are removed at exit, except the span dumps of traced
runs (``.perfbench_work/traces/``).
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

import common  # noqa: E402
import layers  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("analytics", "ingest_serve")
# Spark keeps compiled whole-stage code in a cache of 100 entries by
# default, split into 4 LRU segments of 25. The analytics mix needs
# about 70 entries besides the cache fill's, and in most processes one
# segment overflows: from then on every pass recompiles about 25
# classes (and JIT-compiles them anew), and the process stays 1.3-1.8x
# slower for good, in some processes and not others. A larger cache
# makes every process like the fast ones.
CODEGEN_CACHE_ENTRIES = 2000


def _program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "pdf_etl_engine_spark", "__init__.py"))


class Bench:
    """What a workload gets: arguments, scratch dir, failure tally,
    tracer, and the Spark session once started."""

    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.tally = common.Tally()
        self.tracer = layers.Tracer()
        self.spark = None
        self.counters = None
        self.layer: dict[str, float] = {}
        self.record: dict = {}
        self.setup_s = None

    def elapsed(self) -> float:
        return time.perf_counter() - T_PROCESS

    def measure(self, one_pass, more=None) -> tuple[list[dict], list[dict]]:
        """End the set-up and run whole passes in a closed loop for
        ``--seconds``. With ``--trace 1`` untraced and traced passes
        alternate, so JIT warm-up and host drift fall on both alike,
        and ``more()``, if given, asks for passes past the window until
        the traced run has seen what it reports. ``one_pass(traced)``
        returns ``{"seconds", "op_ms", ...}`` and, when traced,
        ``"layers"``. Host and JVM diagnostics of the window go into
        the run record."""
        counters = self.counters
        ref_before = common.host_ref_ms()
        jvm0, ticks0 = counters.jvm_ms(), common.cpu_ticks()
        compiles0 = counters.codegen_compiles()
        self.setup_s = self.elapsed()
        trace = bool(self.args.trace)
        t_start = time.perf_counter()
        deadline = t_start + self.args.seconds
        plain, traced = [], []
        traced_jvm = [0.0, 0.0]  # GC, JIT ms inside traced passes
        while (time.perf_counter() < deadline or not plain
               or (trace and (not traced or (more is not None and more())))):
            if trace and len(traced) < len(plain):
                counters.mark_sql()
                a = counters.jvm_ms()
                self.tracer.enabled = True
                try:
                    traced.append(one_pass(True))
                finally:
                    self.tracer.enabled = False
                b = counters.jvm_ms()
                traced_jvm = [traced_jvm[i] + b[i] - a[i] for i in (0, 1)]
            else:
                plain.append(one_pass(False))
        window_s = time.perf_counter() - t_start
        jvm1 = counters.jvm_ms()
        self.record.update({
            "window_s": window_s,
            "passes": len(plain),
            "traced_passes": len(traced),
            "host.ref_ms_before": ref_before,
            "host.ref_ms_after": common.host_ref_ms(),
            "host.steal_pct_window": common.steal_pct(ticks0, common.cpu_ticks()),
            "jvm.gc_ms_window": jvm1[0] - jvm0[0],
            "jvm.jit_ms_window": jvm1[1] - jvm0[1],
            "codegen.compiles_window": counters.codegen_compiles() - compiles0,
        })
        if traced:
            self.layer["jvm.gc_ms"] = traced_jvm[0] / len(traced)
            self.layer["jvm.jit_ms"] = traced_jvm[1] / len(traced)
            self.layer["jvm.peak_rss_mb"] = counters.peak_rss_mb()
        return plain, traced

    def metrics(self, plain: list[dict], traced: list[dict], ops_per_pass: int,
                op_ms: float, unreached=()) -> dict:
        """End-to-end metrics of the untraced passes (``op_ms`` is the
        workload's per-operation latency figure), or with ``--trace 1``
        the per-layer means over the traced passes. Only the layers in
        ``unreached`` read 0 without being measured; any other layer
        left unmeasured fails the run."""
        pass_s = [p["seconds"] for p in plain]
        lat = [x for p in plain for x in p["op_ms"]]
        self.record["pass_s"] = pass_s
        self.record["op_samples"] = len(lat)
        self.record["op_ms_p50"] = statistics.median(lat)
        tail = common.reportable_percentile(len(lat))
        if tail and tail > 50:
            self.record[f"op_ms_p{tail:g}"] = common.percentile(lat, tail)
        if not traced:
            return {
                "setup_s": self.setup_s,
                "op_ms": op_ms,
                "ops_per_s": ops_per_pass / statistics.median(pass_s),
            }
        out = dict.fromkeys(unreached, 0.0)
        out.update(self.layer)
        for k in {k for p in traced for k in p["layers"]}:
            out[k] = statistics.fmean(p["layers"][k] for p in traced)
        traced_s = statistics.median(p["seconds"] for p in traced)
        out["trace.overhead_pct"] = 100.0 * (traced_s / statistics.median(pass_s) - 1.0)
        return out

    def start_session(self):
        from pdf_etl_engine_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.args.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["session.start_s"] = time.perf_counter() - t0
        self.counters = layers.SparkCounters(self.spark)
        return self.spark


def _stop_spark(bench: Bench) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    if bench.spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    bench.spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not _program_present():
        print(
            f"perfbench: no engine sources (pdf_etl_engine_spark/) under {ROOT}; "
            "run from the root of a source checkout",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    # The session sees what the test command sets, plus one Spark
    # setting (see CODEGEN_CACHE_ENTRIES). The temp dirs and the JVM's
    # perf-data switch only keep every file the run writes inside the
    # checkout.
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(common.nproc())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-Dspark.sql.codegen.cache.maxEntries={CODEGEN_CACHE_ENTRIES}"
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    bench = Bench(args, work)
    load_start = common.load1()
    try:
        if args.workload == "analytics":
            import analytics as workload
        else:
            import ingest_serve as workload
        metrics = workload.run(bench)
        heap = bench.spark.conf.get("spark.driver.memory", "default")
        heap_max = bench.counters.heap_max_mb
    finally:
        bench.tracer.unwrap_all()
        _stop_spark(bench)
        if args.trace and bench.tracer.spans:
            trace_dir = os.path.join(work_root, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            bench.tracer.dump(os.path.join(
                trace_dir, f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl"
            ))
        shutil.rmtree(work, ignore_errors=True)

    tally = bench.tally
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": common.nproc(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "spark.driver.memory": heap,
        "spark.sql.codegen.cache.maxEntries": CODEGEN_CACHE_ENTRIES,
        "jvm_heap_max_mb": heap_max,
        "versions": common.versions(),
        "load1_start": load_start,
        "load1_end": common.load1(),
        "attempted": tally.attempted,
        "failed": tally.failed,
        "failures": tally.reasons,
        **bench.layer,
        **bench.record,
    }
    print(json.dumps({"run_record": record}, default=str))
    result = {
        "correct": tally.failed == 0 and tally.attempted > 0,
        "attempted": max(1, tally.attempted),
        "failed": tally.failed,
        "metrics": common.with_units(
            metrics, common.LAYER_UNITS if args.trace else common.E2E_UNITS
        ),
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
