"""Shared pieces of the benchmark: sample statistics, failure counting,
result digests, host-drift diagnostics and the run environment record.

Nothing here imports Spark, so the unit tests in ``perfbench/tests``
run without a JVM.
"""

from __future__ import annotations

import hashlib
import math
import os
import platform
import statistics
import time

import numpy as np
import pandas as pd

# ---------------------------------------------------------------------------
# Metric names and units (BENCHMARK.json lists the same names)
# ---------------------------------------------------------------------------

E2E_UNITS = {
    "setup_s": "s",
    "op_ms": "ms",
    "ops_per_s": "1/s",
}

# Per pass of the workload's operation mix, means over the traced
# passes, unless the name says otherwise; 0 where the workload does not
# reach the layer (each workload lists those layers as UNREACHED).
LAYER_UNITS = {
    "session.start_s": "s",
    "catalog.cache_fill_s": "s",
    "operators.build_ms": "ms",
    "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "plan.codegen_compiles": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_ms": "ms",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "python.bytes_sent": "bytes",
    "python.bytes_received": "bytes",
    "python.boot_ms": "ms",
    "jvm.gc_ms": "ms",
    "jvm.jit_ms": "ms",
    "jvm.peak_rss_mb": "MB",
    "service.share_lookup_jobs": "count",
    "pipeline.catalog_ms": "ms",
    "streaming.drain_ms": "ms",
    "streaming.batches": "count",
    "streaming.jobs_per_drain": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "writers.append_ms": "ms",
    "writers.compact_ms": "ms",
    "writers.compactions": "count",
    "writers.read_snapshot_ms": "ms",
    "writers.fact_files": "count",
    "writers.bytes_per_doc": "bytes",
    "trace.overhead_pct": "%",
}


def with_units(values: dict, units: dict) -> dict:
    """``{name: {"value", "unit"}}`` for exactly the names in ``units``."""
    missing = set(units) - set(values)
    if missing:
        raise KeyError(f"metrics not measured: {sorted(missing)}")
    return {k: {"value": float(values[k]), "unit": units[k]} for k in units}


# ---------------------------------------------------------------------------
# Percentiles
# ---------------------------------------------------------------------------

TAIL_SAMPLES = 10
PERCENTILES = (50.0, 90.0, 95.0, 99.0, 99.9)


def reportable_percentile(n: int) -> float | None:
    """The highest percentile in ``PERCENTILES`` that still has at least
    ``TAIL_SAMPLES`` samples beyond it among ``n``; None when not even
    the median qualifies. A p95 therefore needs 200 samples, a p90 100
    and a p50 20."""
    best = None
    for p in PERCENTILES:
        if n and n - _rank(n, p) >= TAIL_SAMPLES:
            best = p
    return best


def _rank(n: int, p: float) -> int:
    # round first: 99.9 / 100 * 10_000 must be 9990, not 9990.000000000002
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[_rank(len(xs), p) - 1]


def spread(values) -> dict:
    """Median, quartiles and IQR/median of a set of run values, with
    the quartiles as ``statistics.quantiles(values, n=4)`` gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "n": len(values),
        "median": med,
        "q1": q1,
        "q3": q3,
        "iqr_over_median": (q3 - q1) / med if med else float("inf"),
    }


# ---------------------------------------------------------------------------
# Failure counting
# ---------------------------------------------------------------------------


class Tally:
    """Counts attempted and failed operations. An operation fails when
    it raises, returns a bad status, or its result does not match the
    expected one; the first few reasons are kept for the run record."""

    KEEP = 5

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, ok: bool, what: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.reasons) < self.KEEP:
                self.reasons.append(what[:300])
        return ok

    def fail(self, what: str) -> None:
        """A failure found after the fact (for example by the end-of-run
        table audit) for an operation already counted as attempted."""
        self.failed += 1
        if len(self.reasons) < self.KEEP:
            self.reasons.append(what[:300])


# ---------------------------------------------------------------------------
# Result digests (order-insensitive, with the oracle-parity normalisation)
# ---------------------------------------------------------------------------


def _norm_cell(v) -> str:
    if v is None or (np.isscalar(v) or v is pd.NA or v is pd.NaT) and pd.isna(v):
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (float, np.floating)):
        if math.isnan(v):
            return "NULL"
        return f"{float(v):.12g}"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, pd.Timestamp):
        return str(v.to_pydatetime())
    return str(v)


def _norm_column(s: pd.Series) -> pd.Series:
    """Column → normalised strings: NULL for missing values, 12
    significant digits for floats (an integral float prints like the
    integer, as in tests/test_oracle_parity.py), microsecond
    timestamps printed alike whatever the unit of either engine."""
    if pd.api.types.is_integer_dtype(s.dtype) and not isinstance(
        s.dtype, pd.api.extensions.ExtensionDtype
    ):
        return s.astype("int64").astype(str)
    if pd.api.types.is_datetime64_any_dtype(s.dtype):
        us = s.astype("datetime64[us]")
        out = us.astype(str)
        return out.where(us.notna(), "NULL")
    return s.map(_norm_cell).astype(str)


def frame_digest(df: pd.DataFrame) -> str:
    """Digest of a result that ignores row and column order: columns
    are sorted by name, every cell normalised to a string, each row
    hashed, and the row hashes summed (a multiset hash)."""
    cols = sorted(df.columns)
    if len(set(cols)) != len(cols):
        raise ValueError(f"duplicate column names: {cols}")
    norm = pd.DataFrame({c: _norm_column(df[c]) for c in cols})
    h = pd.util.hash_pandas_object(norm, index=False).to_numpy(np.uint64)
    total = int(h.sum(dtype=np.uint64))
    squares = int((h * h).sum(dtype=np.uint64))
    key = f"{cols}|{len(df)}|{total}|{squares}"
    return hashlib.sha256(key.encode()).hexdigest()[:32]


# ---------------------------------------------------------------------------
# Host-drift diagnostics and environment record
# ---------------------------------------------------------------------------


def host_ref_ms(rounds: int = 5) -> float:
    """A fixed single-thread CPU loop (sha256 over 4 MiB, repeated),
    median of ``rounds`` calls in ms. Timed before and after the timed
    window: a run set that disagrees while this number moves points at
    the host, not the code."""
    block = b"\x5a" * (4 << 20)
    samples = []
    for _ in range(rounds):
        t0 = time.perf_counter()
        for _ in range(4):
            hashlib.sha256(block).digest()
        samples.append((time.perf_counter() - t0) * 1000.0)
    return statistics.median(samples)


def load1() -> float:
    return os.getloadavg()[0]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks from /proc/stat; the steal share of a
    window is the time the hypervisor ran someone else on our CPUs."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    return 100.0 * (end[0] - start[0]) / max(1, end[1] - start[1])


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def versions() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "numpy": np.__version__,
        "pandas": pd.__version__,
    }
