#!/usr/bin/env python
"""Benchmark harness: six timing lanes (``LANES``) run by one executor,
then the streaming drain, on local[$SPARK_GRAFT_CPUS]. Run: python bench.py

The lanes: the 7 headline queries (named as in BASELINE.md's DuckDB
baseline) and the X surface at $SPARK_GRAFT_SF_DIR (default sf0.1), the
headline queries on the parquet scan path (table cache off), and three
lanes on the sf1 that ``tools/synth_sf1.py`` derives from sf0.1. Every
Spark run builds a fresh DataFrame and pulls it with ``toPandas()``, so
no run reuses a plan or skips a map stage. A row is one settle run, then
N timed runs (median reported), each profiled with ``perfbench/layers.py``
(jobs, stages, tasks, shuffle, spill, planning, Python-worker bytes);
DuckDB twins run the query's oracle SQL on the same files. The payload
goes to BENCH_LAST.json and stdout; the last stdout line is a gate
record under 1 KB.

Environment: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_BENCH_RUNS (timed runs in
the sf0.1 and sf1 lanes, default 5), SPARK_GRAFT_BENCH_BUDGET_S (default
1140), and SPARK_GRAFT_BENCH_{SF1,SF1_HEAVY,SF1_ANCHORS,STREAMING}=0.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import sys
import threading
import time
from dataclasses import asdict, dataclass

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pdf_etl_engine_spark import catalog, registry  # noqa: E402
from pdf_etl_engine_spark.session import get_spark  # noqa: E402
from perfbench.layers import SparkCounters, plan_phases  # noqa: E402
from tools import synth_sf1  # noqa: E402

registry.load_all()

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
BENCH_T0 = time.monotonic()
BUDGET_S = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "1140"))
STREAMING_RESERVE_S = 150.0  # kept back for the streaming drain
QUIET_SPEND_CAP_S = 90.0  # cumulative cap on load-gate waiting
CAP_S = 240.0  # longest single execution, either engine
# A cap that cancels mid-execution kills the Python workers every later
# row then re-boots, so no execution gets less than this.
MIN_CAP_S = 60.0
HOST_CPUS = len(os.sched_getaffinity(0))
_quiet_spent = 0.0

# BASELINE.md headline name -> registry query of the same shape as the
# DuckDB baseline: q_json_extract is extract+groupBy-avg, not a typed
# parse; q_window_rank is one row_number, not the 3-function suite.
HEADLINE = (
    ("q_results_topk", "t1_results_topk"),
    ("q_pricing_summary", "a2_groupby_pricing_summary"),
    ("q_join_revenue", "j5_multiway_equi"),
    ("q_window_rank", "w0_row_number"),
    ("q_json_extract", "s7b_json_extract_agg"),
    ("q_distinct_users", "a3_count_distinct"),
    ("q_coerce_number", "f2_coerce_number"),
)
# LLM-data-pipeline operators, against the DuckDB twins in BASELINE.md's
# X-surface table (the same oracle SQL at sf0.1).
X_SURFACE = (
    ("x_dedup_exact", "x2_dedup_exact"),
    ("x_contamination", "x16_contamination"),
    ("x_incremental_dedup", "x22_incremental_dedup_exact"),
    ("x_repetition", "x21_repetition"),
    # the oracle-graded LSH binding, not the O(n²) exact x4c
    ("x_embedding_near_dup", "x4i_lsh_near_dup_arith"),
    ("x_sequence_pack", "x25_sequence_pack"),
    ("x_url_blocklist", "x26_url_blocklist"),
    ("x_ngram_surprisal", "x27_ngram_surprisal"),
    ("x_containment_dedup", "x28_containment_dedup"),
    ("x_bpe_pair_counts", "x32_bpe_pair_counts"),
    ("x_gopher_rules", "x36_gopher_rules"),
    ("x_embedding_outliers", "x37_embedding_outliers"),
    ("x_link_pagerank", "x39_link_pagerank"),
    ("x_mixture_sample", "x40_mixture_sample"),
    ("x_zscore_outliers", "x41_zscore_outliers"),
    ("x_pii_redact", "x44_pii_redact"),
    ("x_semdedup", "x45_semdedup"),
    ("x_knn_join", "x4k_knn_join_brute"),
    ("x_curriculum_shards", "x51_curriculum_shards"),
    ("x_line_boilerplate", "x52_line_boilerplate"),
)
SF1_X = tuple((k, dict(X_SURFACE)[k]) for k in (
    "x_dedup_exact", "x_incremental_dedup", "x_mixture_sample", "x_url_blocklist",
    "x_zscore_outliers", "x_curriculum_shards", "x_line_boilerplate"))
# The operators with the largest DuckDB twins. The near-dup runs at its
# production bucket width k=10 (x4j2): the graded k=3 binding (x4i) is
# sized for ~2k vectors and goes dense at sf1's 20k.
SF1_HEAVY = (
    ("x_semdedup", "x45_semdedup"),
    ("x_containment_dedup", "x28_containment_dedup"),
    ("x_gopher_rules", "x36_gopher_rules"),
    ("x_ngram_surprisal", "x27_ngram_surprisal"),
    ("x_embedding_near_dup", "x4j2_lsh_near_dup_colocated"),
    ("x_pii_redact", "x44_pii_redact"),
)
# x14b and x4n run first: both are bindings of the one LSH engine and
# were last changed with it. x47e/x47i: the settle run builds the
# persisted index, the timed runs probe it (the twin recomputes the
# full IVF-PQ oracle).
SF1_ANCHORS = (
    ("x_dedup_clusters_lsh", "x14b_dedup_clusters_lsh"),
    ("x_near_dup_multiprobe", "x4n_lsh_near_dup_multiprobe"),
    ("x_quality_classifier", "x49b_perceptron_filter"),
    ("x_pq_adc_topk", "x47b_pq_adc_topk"),
    ("x_ivfpq_topk", "x47d_ivfpq_topk"),
    ("x_ivfpq_persisted", "x47e_ivfpq_persisted"),
    ("x_ivfpq_trained", "x47h_ivfpq_trained_residual"),
    ("x_ivfpq_trained_persisted", "x47i_ivfpq_trained_persisted"),
    ("x_curation_pipeline", "x53_curation_pipeline"),
    ("x_substring_span_dedup", "x46_substring_span_dedup"),
    ("x_keep_best_dedup", "x55b_keep_best_prefix"),
    ("x_knn_join_exact", "x4k_knn_join_brute"),
)
# Twins not re-run: their SQL forms (quadratic joins or recursive CTEs;
# x14b's comparator is x14's exact-edge CTE, since LSH edges have no
# exact oracle) overran the cap on every recorded run, so re-running
# them burns the cap and loads the host for the rows after them.
STATIC_TWINS = frozenset({"x14b_dedup_clusters_lsh", "x4n_lsh_near_dup_multiprobe",
                          "x55b_keep_best_prefix", "x4k_knn_join_brute"})


@dataclass(frozen=True)
class Lane:
    name: str
    sf_dir: str
    rows: tuple[tuple[str, str], ...]  # (bench key, registry query)
    shuffle_partitions: int  # 4 fits sf0.1's exchanges, 16 sf1's
    # AQE's per-stage round trip dominates sub-second queries over
    # single-row-group files; the heavy sf1 operators rely on its skew
    # splits, as the engine ships it.
    aqe: bool
    table_cache: bool  # False: every run reads parquet (scan path)
    runs: int
    twin: str  # "none" | "run" | "static"
    share: float  # weight in the budget rule (see lane_budget)

    def twin_of(self, query: str) -> str:
        return "static" if self.twin == "run" and query in STATIC_TWINS else self.twin


SF1_DIR = synth_sf1.OUT
LANES = (
    Lane("queries", SF_DIR, HEADLINE, 4, False, True, RUNS, "none", 1),
    Lane("x_queries", SF_DIR, X_SURFACE, 4, False, True, RUNS, "none", 3),
    Lane("scan_path_queries", SF_DIR, HEADLINE, 4, False, False, RUNS, "none", 1),
    Lane("sf1", SF1_DIR, HEADLINE + SF1_X, 16, False, True, RUNS, "run", 3),
    Lane("sf1_heavy", SF1_DIR, SF1_HEAVY, 16, True, True, 3, "run", 5),
    Lane("sf1_anchors", SF1_DIR, SF1_ANCHORS, 16, True, True, 1, "run", 6),
)
# sections that SPARK_GRAFT_BENCH_<NAME>=0 skips
SKIPPABLE = ("sf1", "sf1_heavy", "sf1_anchors", "streaming")


def enabled(name: str) -> bool:
    return name not in SKIPPABLE or os.environ.get(f"SPARK_GRAFT_BENCH_{name.upper()}") != "0"


def _remaining() -> float:
    return BUDGET_S - (time.monotonic() - BENCH_T0)


def lane_budget(lane: Lane, later: list[Lane]) -> float:
    """The one budget rule: a lane gets its share of what is left of
    BUDGET_S (less the streaming reserve), against the lanes still to
    run, so time a lane leaves unspent passes on to the later lanes."""
    total = lane.share + sum(x.share for x in later)
    return max(0.0, _remaining() - STREAMING_RESERVE_S) * lane.share / total


def _wait_for_quiet(max_wait_s: float, load1_max: float = HOST_CPUS) -> float:
    """Wait (bounded, against a cumulative cap and the budget) for load1
    to fall below ``load1_max``; returns the load1 seen at release."""
    global _quiet_spent
    budget = min(max_wait_s, QUIET_SPEND_CAP_S - _quiet_spent, _remaining())
    waited = 0.0
    while os.getloadavg()[0] > load1_max and waited < budget:
        time.sleep(5.0)
        waited += 5.0
    _quiet_spent += waited
    return round(os.getloadavg()[0], 2)


@contextlib.contextmanager
def _spark_cap(spark, cap_s: float):
    """Cancel every Spark job this thread starts once ``cap_s`` passes."""
    sc = spark.sparkContext
    sc.setJobGroup("bench", "bench", interruptOnCancel=True)
    timer = threading.Timer(cap_s, sc.cancelJobGroup, ("bench",))
    timer.start()
    try:
        yield
    finally:
        timer.cancel()
        sc.setJobGroup("", "")


def _duck_run(con, sql: str, cap_s: float) -> float | None:
    """Seconds for one DuckDB execution, or None if interrupted at the cap."""
    timer = threading.Timer(cap_s, con.interrupt)
    timer.start()
    t0 = time.perf_counter()
    try:
        con.execute(sql).fetchall()
        return time.perf_counter() - t0
    except duckdb.InterruptException:
        return None
    finally:
        timer.cancel()


def _spark_run(spark, counters, lane: Lane, query: str, cap_s: float) -> dict:
    """One fresh-plan execution: build the DataFrame, pull it to pandas,
    then read its profile (outside the timed window)."""
    if not lane.table_cache:
        catalog._DF_CACHE.clear()
    first_job = counters.next_job_id()
    counters.mark_sql()
    with _spark_cap(spark, cap_s):
        t0 = time.perf_counter()
        df = registry.QUERIES[query](spark, lane.sf_dir)
        df.toPandas()
        sec = time.perf_counter() - t0
    prof = {**plan_phases(df), **counters.jobs_since(first_job)}
    prof.update(counters.python_since_mark())
    return {"sec": round(sec, 4), **{k: round(v, 1) for k, v in prof.items()}}


def _twin(lane: Lane, query: str, n: int, cap_s: float, cpus: int) -> dict:
    """``n`` timed DuckDB runs of the query's oracle on a fresh connection
    (so no row inherits another's memory), after one settle run when
    n > 1: a row down to one run is long enough that warm buffers
    change little, and the settle would cost a whole run."""
    settle = int(n > 1)
    con = duckdb.connect()
    try:
        # Spark's cores, and a quarter of memory so that the two engines
        # together stay inside the host
        mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
        con.execute(f"SET threads = {cpus}")
        con.execute(f"SET memory_limit = '{mem_gb / 4:.1f}GB'")
        for tbl in catalog.TABLES:
            con.execute(f"CREATE VIEW {tbl} AS SELECT * FROM '{lane.sf_dir}/{tbl}.parquet'")
        times: list[float] = []
        for _ in range(settle + n):
            t = _duck_run(con, registry.ORACLES[query], cap_s)
            if t is None:
                return {"duckdb_sec": f">{int(cap_s)}s interrupted",
                        "twin_runs": len(times[settle:])}
            times.append(t)
    finally:
        con.close()
    return {"duckdb_sec": round(statistics.median(times[settle:]), 4), "twin_runs": n}


def _run_row(spark, counters, lane: Lane, query: str, deadline: float,
            rows_left: int) -> dict:
    """Settle, then ``lane.runs`` timed runs, then the twin. When the
    first timed run shows the rest would not fit the row's share of
    what is left of the lane budget, the row keeps that one run."""

    def cap() -> float:
        return min(CAP_S, max(MIN_CAP_S, deadline - time.monotonic()))

    entry: dict = {"query": query}
    entry["load1"] = _wait_for_quiet(min(30.0, (deadline - time.monotonic()) / 10))
    twin = lane.twin_of(query)
    try:
        settle = _spark_run(spark, counters, lane, query, cap())["sec"]
        profiles = [_spark_run(spark, counters, lane, query, cap())]
        rest = lane.runs - 1 + (lane.runs + 1 if twin == "run" else 0)
        if rest * profiles[0]["sec"] <= (deadline - time.monotonic()) / rows_left:
            for _ in range(lane.runs - 1):
                profiles.append(_spark_run(spark, counters, lane, query, cap()))
    except Exception as exc:  # one bad row ≠ no lane
        entry["error"] = f"{type(exc).__name__}: {exc}"[:200]
        return entry
    spark_sec = statistics.median(p["sec"] for p in profiles)
    n = len(profiles)
    entry.update(settle_sec=settle, spark_sec=spark_sec, timed_runs=n, profiles=profiles)
    twin_cap = CAP_S if twin == "static" else cap()
    if twin == "static":
        entry.update(duckdb_sec=f">{int(CAP_S)}s interrupted (static)", twin_runs=0)
    elif twin == "run" and deadline - time.monotonic() <= 0:
        entry.update(duckdb_sec=None, twin_runs=0, note="twin skipped: lane budget")
    elif twin == "run":
        try:
            cpus = spark.sparkContext.defaultParallelism
            entry.update(_twin(lane, query, n, twin_cap, cpus))
        except Exception as exc:
            entry["twin_error"] = f"{type(exc).__name__}: {exc}"[:200]
    duck = entry.get("duckdb_sec")
    if isinstance(duck, float) and duck > 0:
        entry["ratio"] = round(spark_sec / duck, 3)
    elif isinstance(duck, str):
        entry["ratio"] = f"<{round(spark_sec / twin_cap, 3)}"
    return entry


def run_lane(spark, counters, lane: Lane, budget_s: float) -> dict:
    """Every row of ``lane`` under the lane's conf, inside ``budget_s``;
    a row that cannot start before the deadline is listed in
    ``skipped_over_budget``."""
    deadline = time.monotonic() + budget_s
    confs = {
        "spark.sql.shuffle.partitions": str(lane.shuffle_partitions),
        "spark.sql.adaptive.enabled": str(lane.aqe).lower(),
    }
    prior = {k: spark.conf.get(k) for k in confs}
    prior_cache = catalog.CACHE_MAX_BYTES
    out = {k: v for k, v in asdict(lane).items() if k != "rows"}
    out.update(budget_s=round(budget_s, 1), rows={}, skipped_over_budget=[])
    for k, v in confs.items():
        spark.conf.set(k, v)
    if not lane.table_cache:
        catalog.CACHE_MAX_BYTES = 0
        spark.catalog.clearCache()
    try:
        for i, (key, query) in enumerate(lane.rows):
            if deadline - time.monotonic() <= 0:
                out["skipped_over_budget"].append(key)
                continue
            rows_left = len(lane.rows) - i
            out["rows"][key] = _run_row(spark, counters, lane, query, deadline, rows_left)
    finally:
        for k, v in prior.items():
            spark.conf.set(k, v)
        catalog.CACHE_MAX_BYTES = prior_cache
        catalog._DF_CACHE.clear()
        spark.catalog.clearCache()
    return out


def lane_total(section: dict | None) -> float | None:
    if not section or "rows" not in section:
        return None
    return round(sum(e.get("spark_sec", 0.0) for e in section["rows"].values()), 4)


def fresh_job_floor(spark) -> float:
    """Median time of ``spark.range(1).count()`` re-planned every run:
    the least a fresh-plan query can cost (analysis, optimization and
    job submission), the floor under every lane's numbers."""
    samples = []
    for _ in range(3 + max(RUNS, 5)):  # the first 3 settle
        t0 = time.perf_counter()
        spark.range(1).count()
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples[3:])


GATE_KEYS = ("metric", "value", "unit", "x_surface_total_sec", "scan_path_total_sec",
             "sf", "load_avg_start", "load_compromised", "wall_sec")


def gate_line(payload: dict) -> str:
    """The last stdout line: small enough for any tail window to keep
    whole; the detail stays in BENCH_LAST.json."""
    gate = {k: payload[k] for k in GATE_KEYS}
    rows = (payload["queries"] or {}).get("rows", {})
    gate["queries"] = {k: e.get("spark_sec") for k, e in rows.items()}
    streaming = payload["streaming"] or {}
    gate["streaming_docs_per_sec"] = streaming.get("docs_per_sec")
    gate["stream_over_batch"] = streaming.get("stream_over_batch")
    gate["full"] = "BENCH_LAST.json"
    line = json.dumps(gate)
    assert len(line) < 1024, f"gate line {len(line)} bytes >= 1 KB"
    return line


def main() -> None:
    spark = get_spark(app_name="pdf-etl-engine-spark-bench", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    # a spike before the first timed query would set the headline, so
    # wait (bounded) for an idle host and flag the run if it never was
    _wait_for_quiet(max_wait_s=300.0, load1_max=2.0)
    load_start = round(os.getloadavg()[0], 2)
    counters = SparkCounters(spark)
    floor = fresh_job_floor(spark)
    sections: dict = {lane.name: None for lane in LANES}
    lanes = [lane for lane in LANES if enabled(lane.name)]
    for i, lane in enumerate(lanes):
        try:
            if lane.sf_dir == SF1_DIR:
                synth_sf1.synth()
            budget = lane_budget(lane, lanes[i + 1:])
            sections[lane.name] = run_lane(spark, counters, lane, budget)
        except Exception as exc:  # an sf1 failure must not sink the gate
            sections[lane.name] = {"error": f"{type(exc).__name__}: {exc}"[:200]}
    streaming = None
    if enabled("streaming"):
        try:
            from tools.streaming_bench import streaming_docs_per_sec

            streaming = streaming_docs_per_sec(spark, 500)
        except Exception as exc:
            streaming = {"error": f"{type(exc).__name__}: {exc}"}
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    payload = {
        "metric": "headline_queries_total_sec",
        "value": lane_total(sections["queries"]),
        "unit": "sec",
        "x_surface_total_sec": lane_total(sections["x_queries"]),
        "scan_path_total_sec": lane_total(sections["scan_path_queries"]),
        # first run of each query in the process: plan, codegen, cache fill
        "cold_sec": {
            k: e["settle_sec"]
            for name in ("queries", "x_queries")
            for k, e in (sections[name] or {}).get("rows", {}).items()
            if "settle_sec" in e
        },
        "fresh_plan_job_floor_sec": round(floor, 4),
        "sf": sf_val,
        **sections,
        "streaming": streaming,
        "cpus": spark.sparkContext.defaultParallelism,
        "load_avg_start": load_start,
        "load_avg_end": round(os.getloadavg()[0], 2),
        "load_compromised": load_start > 2.0,
        "budget_s": BUDGET_S,
        "wall_sec": round(time.monotonic() - BENCH_T0, 1),
    }
    # the full payload goes to a file as well as stdout: a caller that keeps
    # only the tail of stdout can cut one long line behind Spark's progress
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_LAST.json"), "w") as fh:
        json.dump(payload, fh, indent=1)
        fh.write("\n")
    print(json.dumps(payload))
    print(gate_line(payload))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
