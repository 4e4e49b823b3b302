"""Correctness at scale: the driver's 50-query graded window re-run
at sf1 (100x the sf0.01 grading scale) against the same DuckDB
oracles, value-for-value.

The driver grades rows+schema+values at sf0.01; overflow-class bugs
(x40's Knuth multiply, x41's squared-cents moments — both found and
fixed this round) only appear at scale. This sweep is the proactive
net: every window query runs on the deterministic sf1 tables
(tools/synth_sf1.py) on BOTH engines with the normalization the local
parity suite uses (12-significant-digit floats, column-order
insensitive). Per-side 300 s timeouts (the heavy rows run 100-150 s per side at
sf1: x45b oracle 146 s measured) — a query that blows up
combinatorially at sf1 is reported as such, not hidden.

Run: python tools/sf1_parity.py  → one JSON line, also persisted to
SF1_PARITY_LAST.json at the repo root (round artifact, VERDICT r9 #5).
"""

from __future__ import annotations

import json
import math
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TIMEOUT_S = 300.0

# r14: streaming ops graded at sf0.01 in the driver window whose
# micro-batch-boundary independence should also be demonstrated at
# 10x data (VERDICT r13 #8) — swept after the window with the same
# machinery. Both are registered queries with batch oracles (x22's /
# x47d's verbatim), so the compare is unchanged.
EXTENDED_TAIL = (
    "stw_incremental_dedup",
    "stw_ivfpq_ingest",
)

# r14: x55b rotated into the driver window, but its registered oracle
# is the DISCLOSED quadratic baseline (all-pairs list_intersect +
# recursive CTE) — fine at the sf0.01 grading scale, interrupted past
# 240 s at sf0.1 (BASELINE.md). At sf1 the sweep grades the same spec
# through an equivalent GRAM-JOIN formulation (explode -> equi-join on
# the gram -> count = |∩| since shingles are distinct -> the same
# Jaccard test, components, and keep-longest selection), proven
# value-identical to the quadratic form at sf0.01 and measured 228 s
# at sf1 (50k docs, Σdf² = 2.8·10⁸ joined rows) — still DuckDB-
# computed, so the cross-engine check stays independent.
_X55B_SF1_ORACLE = """
WITH RECURSIVE g AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
               i -> concat_ws(' ', string_split(text, ' ')[i],
                              string_split(text, ' ')[i+1],
                              string_split(text, ' ')[i+2]))) AS g,
             len(list_filter(string_split(text, ' '), w -> w <> ''))
               AS n_tokens
      FROM documents
), sz AS MATERIALIZED (
  SELECT doc_id, len(g) AS sz FROM g
), ex AS MATERIALIZED (
  SELECT doc_id, unnest(g) AS gram FROM g
), inter AS (
  SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS c
  FROM ex a JOIN ex b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT i.src, i.dst
  FROM inter i JOIN sz sa ON sa.doc_id = i.src
       JOIN sz sb ON sb.doc_id = i.dst
  WHERE 2 * i.c >= sa.sz + sb.sz - i.c
), edges AS (
  SELECT src, dst FROM pairs
  UNION ALL SELECT dst, src FROM pairs
), reach(id, lab) AS (
  SELECT doc_id, doc_id FROM g
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
), comp AS (
  SELECT id AS doc_id, min(lab) AS component FROM reach GROUP BY id
), ranked AS (
  SELECT c.component, c.doc_id, g.n_tokens,
         row_number() OVER (PARTITION BY c.component
                            ORDER BY g.n_tokens DESC, c.doc_id) AS rn,
         count(*) OVER (PARTITION BY c.component) AS n_members
  FROM comp c JOIN g ON g.doc_id = c.doc_id
)
SELECT component, doc_id AS rep_doc_id,
       CAST(n_members AS BIGINT) AS n_members,
       CAST(n_tokens AS BIGINT) AS rep_n_tokens
FROM ranked WHERE rn = 1
"""
SF1_ORACLE_OVERRIDE = {
    "x55b_keep_best_prefix": _X55B_SF1_ORACLE,
}
# the override runs ~228 s on an idle box — give it headroom so a
# busy host reads as slow, not skipped
SF1_TIMEOUT_OVERRIDE = {
    "x55b_keep_best_prefix": 540.0,
}


def _normalize_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(bool(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.12g}"
    return str(v)


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_normalize_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def main() -> None:
    import duckdb

    from pdf_etl_engine_spark import registry
    from pdf_etl_engine_spark.catalog import TABLES
    from pdf_etl_engine_spark.session import get_spark
    from tools.synth_sf1 import synth

    registry.load_all()
    spark = get_spark(app_name="sf1-parity", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    sf1 = synth()

    window = list(registry.QUERIES)[: registry.GRADED_WINDOW]

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf1}/{t}.parquet'"
        )

    def spark_run(name):
        """Returns (rows, cols, cold_sec, warm_sec): the first
        execution pays session/plan/codegen/table-cache warmup (that
        cost lands in spark_sec), then ONE warm re-execution is timed
        separately — the steady-state number a long-lived cluster
        session sees (VERDICT r10 #4). r12 (VERDICT r11 #3 + ADVICE):
        the warm run is timed via df.toArrow() — Arrow batch
        collection, no per-row Python Row materialization — because
        for 10⁵-10⁶-row results the Row decode dominated the r11 warm
        numbers (j3 9.2×, j7 9.6× vs DuckDB's C-level fetchall; the
        bench harness's engine-side timings of the same families sat
        at 0.14-0.74×). The warm run also gets a FRESH cancel timer
        (a cold collect consuming most of the deadline must not
        interrupt the warm run), and a warm-run failure keeps the
        cold result (warm=None) instead of failing the query."""
        df = registry.QUERIES[name](spark, sf1)
        cols = df.columns
        sc = spark.sparkContext
        sc.setJobGroup(name, name, interruptOnCancel=True)
        timer = threading.Timer(
            TIMEOUT_S, lambda: sc.cancelJobGroup(name)
        )
        timer.start()
        try:
            t0 = time.monotonic()
            rows = [tuple(r) for r in df.collect()]
            cold = round(time.monotonic() - t0, 2)
        finally:
            timer.cancel()
            sc.setJobGroup("", "")
        warm = None
        sc.setJobGroup(name, name, interruptOnCancel=True)
        timer = threading.Timer(
            TIMEOUT_S, lambda: sc.cancelJobGroup(name)
        )
        timer.start()
        try:
            t0 = time.monotonic()
            df.toArrow()
            warm = round(time.monotonic() - t0, 3)
        except Exception:
            warm = None  # cold result stands; warm is measurement-only
        finally:
            timer.cancel()
            sc.setJobGroup("", "")
        return rows, cols, cold, warm

    def duck_run(name):
        sql = SF1_ORACLE_OVERRIDE.get(name, registry.ORACLES[name])
        timer = threading.Timer(
            SF1_TIMEOUT_OVERRIDE.get(name, TIMEOUT_S), con.interrupt
        )
        timer.start()
        try:
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
        finally:
            timer.cancel()
        return rows, cols

    per_query: dict[str, dict] = {}
    n_ok = n_mismatch = 0
    skipped: list[str] = []
    for name in list(window) + list(EXTENDED_TAIL):
        entry: dict = {}
        if name in EXTENDED_TAIL:
            entry["lane"] = "extended_tail"
        if name in SF1_ORACLE_OVERRIDE:
            entry["oracle_override"] = (
                "sf1-capable gram-join formulation (value-identical to "
                "the registered quadratic oracle at sf0.01; see "
                "_X55B_SF1_ORACLE)"
            )
        if name not in registry.ORACLES:
            entry["status"] = "rows_only"
            skipped.append(name)
            per_query[name] = entry
            continue
        try:
            srows, scols, cold, warm = spark_run(name)
            entry["spark_sec"] = cold
            entry["spark_sec_warm"] = warm
        except Exception as exc:
            entry["status"] = f"spark_timeout_or_error: {type(exc).__name__}"
            skipped.append(name)
            per_query[name] = entry
            continue
        try:
            t0 = time.monotonic()
            drows, dcols = duck_run(name)
            entry["duckdb_sec"] = round(time.monotonic() - t0, 2)
        except Exception as exc:
            entry["status"] = f"oracle_timeout_or_error: {type(exc).__name__}"
            skipped.append(name)
            per_query[name] = entry
            continue
        ok = (
            sorted(scols) == sorted(dcols)
            and len(srows) == len(drows)
            and _normalize(srows, scols) == _normalize(drows, dcols)
        )
        entry["rows"] = len(srows)
        entry["status"] = "ok" if ok else "MISMATCH"
        n_ok += ok
        n_mismatch += not ok
        per_query[name] = entry

    payload = {
        "metric": "sf1_window_parity",
        "sf": 1.0,
        "window": len(window),
        "extended_tail": list(EXTENDED_TAIL),
        "ok": n_ok,
        "mismatch": n_mismatch,
        "skipped": skipped,
        "warm_methodology": (
            "spark_sec = cold collect() incl. plan/codegen warmup (the "
            "graded values come from it); spark_sec_warm = one warm "
            "re-execution timed via df.toArrow() (Arrow batches, no "
            "Python Row decode) under a fresh cancel timer; duckdb_sec "
            "= C-level fetchall. Warm-run failure keeps the cold "
            "result (spark_sec_warm=null)."
        ),
        "per_query": per_query,
    }
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "SF1_PARITY_LAST.json"), "w") as fh:
        json.dump(payload, fh, indent=1)
        fh.write("\n")
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
