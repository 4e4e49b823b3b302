"""``analytics``: relational queries as an analyst runs them.

The seven ``bench.py`` headline queries (the shapes BASELINE.md's
DuckDB figure is measured on) run at sf0.1 in a fixed order, each on a
fresh DataFrame built by its registry function and pulled to pandas,
over the warm table cache. Fresh plans matter: a re-executed DataFrame
reuses its shuffle outputs and skips its map stages.

Every result is compared with the digest of the query's DuckDB oracle
(``registry.ORACLES``) on the same generated files, using the
oracle-parity normalisation, with one fragment of two oracles made
exact (see ``EXACT_FRAGMENTS``).

The per-operation figure ``op_ms`` is the geometric mean over the seven
queries of each query's median latency across the timed passes, so a
change to any one query moves it by its share (a median over all
latencies would follow whichever query ranks fourth).
"""

from __future__ import annotations

import os
import statistics
import time

import common
import datagen
import layers

# bench.py HEADLINE, in its order
HEADLINE = (
    ("q_results_topk", "t1_results_topk"),
    ("q_pricing_summary", "a2_groupby_pricing_summary"),
    ("q_join_revenue", "j5_multiway_equi"),
    ("q_window_rank", "w0_row_number"),
    ("q_json_extract", "s7b_json_extract_agg"),
    ("q_distinct_users", "a3_count_distinct"),
    ("q_coerce_number", "f2_coerce_number"),
)
TABLES = ("nation", "customer", "orders", "lineitem", "events")
# Untimed passes after the cold one. Warm-up is a fixed amount of work,
# not a fixed time, so moving work into it shows in setup_s. On 4 CPUs
# a pass takes ~8 s cold, ~3.5 s next and ~1.8 s from the fifth on,
# while JIT compilation falls from ~7 s to ~1 s of CPU per pass and
# keeps falling slowly for another ~15 passes; those do not fit the
# run budget (jvm.jit_ms_window in the run record shows what is left).
WARMUP_PASSES = 4
# Layers no headline query reaches: no Python worker, no service,
# pipeline, streaming or fact-table writes.
UNREACHED = (
    "python.bytes_sent", "python.bytes_received", "python.boot_ms",
    "service.share_lookup_jobs", "pipeline.catalog_ms",
    "streaming.drain_ms", "streaming.batches", "streaming.jobs_per_drain",
    "streaming.add_batch_ms", "streaming.latest_offset_ms",
    "streaming.wal_commit_ms", "writers.append_ms", "writers.compact_ms",
    "writers.compactions", "writers.read_snapshot_ms", "writers.fact_files",
    "writers.bytes_per_doc",
)

# The oracles of q_pricing_summary and q_join_revenue round a money
# sum at scale 10^4 to cents as a double plus a 5e-10 nudge, which is
# meant to round an exact half-cent up as Spark's ``round`` does. At
# these sums' magnitude (10^8 to 10^10) the nudge is below half an ulp
# and vanishes, so on an exact tie DuckDB rounds the binary value, down
# about half the time, while the engine rounds the exact decimal up
# (seed 2009173456: 4420503619.485 -> oracle .48, engine .49); 2 of
# 131 seeds tried had such a tie. The reference sums these values
# as exact decimals and rounds half up, which is what the nudge is
# meant to do; the values are non-negative, so half away from zero is
# half up. An oracle without the fragment is used as it stands.
_DISC_PRICE = "l_extendedprice * (1 - l_discount)"
EXACT_FRAGMENTS = {
    f"round((CAST(sum(CAST(round(({_DISC_PRICE}) * 10000) AS BIGINT)) AS DOUBLE)"
    " / 10000) + 5e-10, 2)":
    f"CAST(round(CAST(sum(CAST(round(({_DISC_PRICE}) * 10000) AS BIGINT))"
    " AS DECIMAL(38,0)) * 0.0001, 2) AS DOUBLE)",
}


def reference_sql(oracle: str) -> str:
    """The oracle SQL with every fragment in ``EXACT_FRAGMENTS`` made exact."""
    for frag, exact in EXACT_FRAGMENTS.items():
        oracle = oracle.replace(frag, exact)
    return oracle


def _oracle_digests(sf_dir: str) -> dict[str, str]:
    import duckdb
    from pdf_etl_engine_spark import registry

    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return {
            q: common.frame_digest(con.execute(reference_sql(registry.ORACLES[q])).df())
            for _, q in HEADLINE
        }
    finally:
        con.close()


def run(bench) -> dict:
    from pdf_etl_engine_spark import catalog, registry

    registry.load_all()
    sf_dir = os.path.join(bench.work, "sf0.1")
    datagen.write_tables(bench.args.seed, TABLES, sf_dir)
    bench.record["sf_dir"] = "generated sf0.1 (" + ", ".join(TABLES) + ")"

    spark = bench.start_session()
    counters = bench.counters
    tracer = bench.tracer
    t0 = time.perf_counter()
    for t in TABLES:
        catalog.load_table(spark, sf_dir, t).count()
    bench.layer["catalog.cache_fill_s"] = time.perf_counter() - t0

    results: list[tuple[str, str | None]] = []  # (query, digest or None)

    def one_pass(traced: bool) -> dict:
        by_query, lay = {}, {}
        if traced:
            compiles = counters.codegen_compiles()
        for name, q in HEADLINE:
            if traced:
                first_job = counters.next_job_id()
                tracer.op = f"{len(results)}:{q}"
            try:
                a = time.perf_counter()
                with tracer.span("operators.build"):
                    df = registry.QUERIES[q](spark, sf_dir)
                b = time.perf_counter()
                with tracer.span("spark.to_pandas"):
                    pdf = df.toPandas()
                c = time.perf_counter()
            except Exception as e:  # noqa: BLE001 — counted as failed
                results.append((q, None))
                bench.tally.record(False, f"{q}: {type(e).__name__}: {e}")
                continue
            by_query[name] = (c - a) * 1000.0
            results.append((q, common.frame_digest(pdf)))
            if traced:
                parts = ({"operators.build_ms": (b - a) * 1000.0},
                         layers.plan_phases(df), counters.jobs_since(first_job))
                for part in parts:
                    for k, v in part.items():
                        lay[k] = lay.get(k, 0.0) + v
        out = {"seconds": sum(by_query.values()) / 1000.0,
               "op_ms": list(by_query.values()), "by_query": by_query}
        if traced:
            lay["plan.codegen_compiles"] = counters.codegen_compiles() - compiles
            out["layers"] = lay
        return out

    t_cold = time.perf_counter()
    one_pass(False)
    bench.record["cold_pass_s"] = time.perf_counter() - t_cold
    for _ in range(WARMUP_PASSES):
        one_pass(False)

    plain, traced = bench.measure(one_pass)

    oracle = _oracle_digests(sf_dir)
    bench.record["exact_reference"] = [
        q for _, q in HEADLINE if reference_sql(registry.ORACLES[q]) != registry.ORACLES[q]
    ]
    for q, digest in results:
        if digest is not None:
            bench.tally.record(digest == oracle[q], f"{q}: result digest differs from oracle")
    per_query = {
        name: statistics.median(p["by_query"][name] for p in plain if name in p["by_query"])
        for name, _ in HEADLINE
    }
    bench.record["per_query_ms_p50"] = per_query
    return bench.metrics(
        plain, traced, len(HEADLINE),
        op_ms=statistics.geometric_mean(per_query.values()), unreached=UNREACHED,
    )
