"""Streaming ingest throughput as a bench line: the exactly-once drain
of tests/test_streaming_backlog.py (stream_ingest in capped
micro-batches → fact table + archive) on a fresh temp workspace, N
synthetic docs, wall-clocked end to end against its one-shot batch twin.
Per-phase time of the drain is in perfbench's traced ingest_serve run.

Standalone:  python tools/streaming_bench.py [n_files]
From bench:  streaming_docs_per_sec(spark) -> {"docs": N, ...}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

KPI_META = [
    {"name": "Total Amount ($)", "sample_value": "$1.00", "type": "number"},
]


def streaming_docs_per_sec(spark, n_files: int = 500) -> dict:
    """Drain an ``n_files`` cold-start backlog through the full ingest
    pipeline and return ``{"docs", "wall_sec", "docs_per_sec"}``.

    The workspace is a throwaway temp dir; the count assertion keeps a
    silently-lossy drain from ever reporting a (great-looking) rate.

    An untimed 50-file settle drain runs first in its own workspace
    (codegen caches, the Python worker pool, the sink's first-commit
    setup); without it the rate is a cold-start number (2.5x noise).
    """
    from pdf_etl_engine_spark import pipeline
    from pdf_etl_engine_spark.sources import writers
    from pdf_etl_engine_spark.streaming import ingest as S

    def _drain(workspace: str, docs: int, twin: bool) -> dict:
        cat = pipeline.Catalog(spark, os.path.join(workspace, "catalog"))
        cat.create_folder("u1", "reports", kpi_metadata=KPI_META)
        batch_dir = os.path.join(
            workspace, "incoming", "u1", "reports", "batch"
        )
        twin_dir = os.path.join(
            workspace, "batch_ws", "incoming", "u1", "reports", "batch"
        )
        os.makedirs(batch_dir)
        if twin:
            os.makedirs(twin_dir)
        for i in range(docs):
            payload = json.dumps(
                {"Total Amount ($)": f"${i % 97}.00"}
            ).encode()
            dirs = (batch_dir, twin_dir) if twin else (batch_dir,)
            for d in dirs:
                with open(os.path.join(d, f"doc{i:04d}.pdf"), "wb") as fh:
                    fh.write(payload)
        facts = os.path.join(workspace, "facts")
        t0 = time.perf_counter()
        q = S.stream_ingest(
            spark,
            workspace,
            cat,
            facts,
            os.path.join(workspace, "ckpt"),
            quarantine_path=os.path.join(workspace, "quarantine"),
            max_files_per_trigger=250,
            auto_compact_max_files=16,
        )
        q.awaitTermination()
        wall = time.perf_counter() - t0
        n_landed = writers.read_fact_table(spark, facts).count()
        if n_landed != docs:
            raise RuntimeError(
                f"lossy drain: {n_landed}/{docs} docs landed"
            )
        out = {"wall_sec": wall}
        if not twin:
            return out
        # batch twin: the same files through one-shot ingest_batch into
        # a fresh fact table (DuckDB has no streaming ingest to twin
        # against); own tree, since the drain archives its inputs
        facts_b = os.path.join(workspace, "facts_batch")
        t0 = time.perf_counter()
        res = pipeline.ingest_batch(
            spark,
            f"{workspace}/batch_ws/incoming/*/*/*/*",
            cat,
            facts_b,
            quarantine_path=os.path.join(workspace, "quarantine_batch"),
        )
        out["batch_sec"] = time.perf_counter() - t0
        if res["rows_written"] != docs:
            raise RuntimeError(
                f"batch twin lost rows: {res['rows_written']}/{docs}"
            )
        return out

    root = tempfile.mkdtemp(prefix="spark-graft-stream-bench-")
    try:
        settle = os.path.join(root, "settle")
        os.makedirs(settle)
        _drain(settle, 50, twin=True)  # untimed settle, both paths
        timed = os.path.join(root, "timed")
        os.makedirs(timed)
        r = _drain(timed, n_files, twin=True)
        return {
            "docs": n_files,
            "wall_sec": round(r["wall_sec"], 2),
            "docs_per_sec": round(n_files / r["wall_sec"], 1),
            "batch_equiv_sec": round(r["batch_sec"], 2),
            "stream_over_batch": round(r["wall_sec"] / r["batch_sec"], 2),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    from pdf_etl_engine_spark.session import get_spark

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 500
    spark = get_spark(app_name="streaming-bench")
    spark.sparkContext.setLogLevel("ERROR")
    out = streaming_docs_per_sec(spark, n)
    out["metric"] = "streaming_docs_per_sec"
    print(json.dumps(out))


if __name__ == "__main__":
    main()
