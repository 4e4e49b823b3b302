"""``ingest_serve``: the service as its tenants use it.

Four tenants each own a folder trained for two KPIs and share it with
an editor. A round is:

1. every editor uploads ``DOCS_PER_TENANT`` generated PDFs through
   ``Service.upload_batch_file``;
2. ``streaming.ingest.stream_ingest`` drains them (``availableNow``,
   ``extractor=pipeline.pdf_extractor``, ``auto_compact_max_files=16``)
   into the fact table, with one checkpoint across rounds;
3. every owner reads its folder with ``Service.get_results``.

Checks: every upload is acknowledged; every drain ends without error;
each ``get_results`` returns only the caller's folder, newest first,
including each of the round's documents once with its generated KPI
values; and at the end every uploaded document is in the fact table
exactly once, with nothing quarantined.
"""

from __future__ import annotations

import os
import statistics
import time

import common
import datagen
import layers

N_TENANTS = 4
DOCS_PER_TENANT = 3
# Untimed rounds after the cold one (fixed work, see analytics.py).
# JIT compilation is still ~4 s of CPU per ~4 s round in the window
# (jvm.jit_ms_window), with three warm-up rounds as with one; warming
# up until it settles would take far more rounds than fit a run.
WARMUP_ROUNDS = 1
KPI_META = [
    {"name": "Total Amount ($)", "sample_value": "$1.00", "type": "number"},
    {"name": "Status", "sample_value": "Active", "type": "categorical"},
]
CATALOG_METHODS = (
    "create_folder", "folders", "get_folder", "resolve_folder_for_read",
    "add_share", "shares", "effective_share", "can_read",
)
# Layers no round reaches: no table cache fill, no registry operator.
UNREACHED = ("catalog.cache_fill_s", "operators.build_ms")


class _Layers:
    """Installs the traced run's wrappers on the public functions the
    round goes through and turns the spans into per-round numbers.
    Compactions come every few rounds, so they are timed in every
    round of the window, traced or not."""

    def __init__(self, bench, facts: str):
        from pdf_etl_engine_spark import pipeline
        from pdf_etl_engine_spark.sources import writers

        self.bench = bench
        self.facts = facts
        self.tracer = tr = bench.tracer
        self.read_dfs: list = []
        self.share_jobs = 0
        self.compact_ms: list[float] = []
        counters = bench.counters

        for m in CATALOG_METHODS:
            tr.wrap(pipeline.Catalog, m, f"pipeline.catalog.{m}")
        tr.wrap(pipeline, "latest_folder_metas", "pipeline.catalog.latest_folder_metas")
        tr.wrap(writers, "append_rows", "writers.append")
        tr.wrap(writers, "read_fact_table", "writers.read_snapshot")

        outer = self

        def time_compaction(compact):
            def compact_fact_table(*a, **kw):
                idx = tr.open("writers.compact")
                t0 = time.perf_counter()
                try:
                    return compact(*a, **kw)
                finally:
                    outer.compact_ms.append((time.perf_counter() - t0) * 1000.0)
                    tr.close(idx)

            return compact_fact_table

        def count_share_jobs(share):
            def effective_share(*a, **kw):
                if not tr.enabled:
                    return share(*a, **kw)
                j0 = counters.next_job_id()
                try:
                    return share(*a, **kw)
                finally:
                    outer.share_jobs += counters.next_job_id() - j0

            return effective_share

        def keep_frame(read_results):
            def capture(*a, **kw):
                df = read_results(*a, **kw)
                if tr.enabled:
                    outer.read_dfs.append(df)
                return df

            return capture

        tr.patch(writers, "compact_fact_table", time_compaction)
        tr.patch(pipeline.Catalog, "effective_share", count_share_jobs)
        tr.patch(pipeline, "read_results", keep_frame)

    def round_layers(self, op, first_job: int, compiles: int, drain: dict,
                     n_docs: int) -> dict:
        """Layer numbers of one traced round. A public function the
        round should have called but did not is left out, which fails
        the run."""
        from pdf_etl_engine_spark.sources import writers

        counters = self.bench.counters
        lay = counters.jobs_since(first_job)
        lay.update(counters.python_since_mark())
        lay["plan.codegen_compiles"] = counters.codegen_compiles() - compiles
        for df in self.read_dfs:
            for k, v in layers.plan_phases(df).items():
                lay[k] = lay.get(k, 0.0) + v
        self.read_dfs.clear()
        lay["service.share_lookup_jobs"] = self.share_jobs
        self.share_jobs = 0
        for prefix, key in (
            ("pipeline.catalog.", "pipeline.catalog_ms"),
            ("writers.append", "writers.append_ms"),
            ("writers.read_snapshot", "writers.read_snapshot_ms"),
        ):
            t = self.tracer.totals(prefix)
            if op in t["calls"]:
                lay[key] = t["ms"][op]
        lay.update(drain)
        files = writers.committed_files(self.facts) or []
        lay["writers.fact_files"] = len(files)
        size = sum(os.path.getsize(os.path.join(self.facts, f)) for f in files)
        lay["writers.bytes_per_doc"] = size / max(1, n_docs)
        return lay


def run(bench) -> dict:
    from pdf_etl_engine_spark import pipeline
    from pdf_etl_engine_spark.functions.kernel import kpi_col_name
    from pdf_etl_engine_spark.service import HmacTokenVerifier, Service
    from pdf_etl_engine_spark.sources import writers
    from pdf_etl_engine_spark.streaming import ingest

    amount_col = kpi_col_name("Total Amount ($)")
    status_col = kpi_col_name("Status")
    seed = bench.args.seed
    tally = bench.tally
    docs = datagen.IngestDocs(seed)
    root = os.path.join(bench.work, "ingest")
    bucket = os.path.join(root, "bucket")
    facts = os.path.join(root, "facts")
    ckpt = os.path.join(root, "ckpt")
    bench.record["sf_dir"] = (
        f"generated PDFs, {N_TENANTS} tenants x {DOCS_PER_TENANT} per round"
    )

    spark = bench.start_session()
    counters = bench.counters
    catalog = pipeline.Catalog(spark, os.path.join(root, "catalog"))
    verifier = HmacTokenVerifier(f"perfbench-{seed}".encode())
    svc = Service(
        spark, catalog, facts, os.path.join(bucket, "incoming"), verifier,
        extractor=pipeline.pdf_extractor,
    )
    owners = [verifier.issue(f"owner{i}", f"owner{i}@example.com") for i in range(N_TENANTS)]
    editors = [verifier.issue(f"editor{i}", f"editor{i}@example.com") for i in range(N_TENANTS)]
    folders = []
    for i in range(N_TENANTS):
        status, body = svc.create_folder(
            owners[i], {"name": f"reports{i}", "kpi_metadata": KPI_META}
        )
        tally.record(status == 200, f"create_folder {i}: {status} {body}")
        folders.append(body.get("folder_id", f"reports{i}"))
        status, body = svc.share_folder(owners[i], {
            "folder_id": folders[i], "shared_email": f"editor{i}@example.com",
            "permission": "edit",
        })
        tally.record(status == 200, f"share_folder {i}: {status} {body}")

    uploaded: set[tuple[int, str]] = set()  # (tenant, file) acknowledged

    def check_read(i: int, status: int, body: dict, expect: list[dict]) -> None:
        if status != 200:
            tally.record(False, f"get_results tenant {i}: {status} {body}")
            return
        rows = body.get("results", [])
        bad = [r for r in rows if (r.get("tenant_id"), r.get("folder_id")) != (f"owner{i}", folders[i])]
        times = [r.get("uploaded_at") for r in rows]
        ordered = all(a is not None and b is not None and a >= b for a, b in zip(times, times[1:]))
        by_name: dict[str, list] = {}
        for r in rows:
            by_name.setdefault(r.get("file_name"), []).append(r)
        missing = []
        for d in expect:
            got = by_name.get(d["filename"], [])
            if len(got) != 1 or got[0].get(status_col) != d["status"] or (
                got[0].get(amount_col) is None
                or abs(got[0][amount_col] - d["amount"]) > 1e-6
            ):
                missing.append(d["filename"])
        tally.record(
            not bad and ordered and not missing,
            f"get_results tenant {i}: foreign={len(bad)} ordered={ordered} "
            f"missing_or_wrong={missing[:3]}",
        )

    def one_round(rnd: int, traced: bool) -> dict:
        batch = [[docs.doc(rnd, i, j) for j in range(DOCS_PER_TENANT)] for i in range(N_TENANTS)]
        if traced:
            bench.tracer.op = rnd
            first_job = counters.next_job_id()
            compiles = counters.codegen_compiles()
        t_round = time.perf_counter()
        upload_ms, acks = [], {}
        for i in range(N_TENANTS):
            for d in batch[i]:
                a = time.perf_counter()
                status, body = svc.upload_batch_file(editors[i], {
                    "folder_id": folders[i], "owner_id": f"owner{i}",
                    "filename": d["filename"], "content": d["content"],
                })
                b = time.perf_counter()
                upload_ms.append((b - a) * 1000.0)
                acks[d["filename"]] = b
                if tally.record(status == 200 and body.get("filename") == d["filename"],
                                f"upload {d['filename']}: {status} {body}"):
                    uploaded.add((i, d["filename"]))
        a = time.perf_counter()
        j0 = counters.next_job_id()
        query = ingest.stream_ingest(
            spark, bucket, catalog, facts, ckpt,
            quarantine_path=svc.quarantine_path,
            extractor=pipeline.pdf_extractor,
            auto_compact_max_files=16,
        )
        query.awaitTermination()
        drain_s = time.perf_counter() - a
        drain_jobs = counters.next_job_id() - j0
        err = query.exception()
        tally.record(err is None, f"drain round {rnd}: {err}")
        reads, read_ms, visible_ms = [], [], []
        for i in range(N_TENANTS):
            a = time.perf_counter()
            status, body = svc.get_results(owners[i], folders[i])
            b = time.perf_counter()
            read_ms.append((b - a) * 1000.0)
            visible_ms.extend((b - acks[d["filename"]]) * 1000.0 for d in batch[i])
            reads.append((i, status, body))
        round_s = time.perf_counter() - t_round
        for i, status, body in reads:
            check_read(i, status, body, batch[i])
        out = {
            "seconds": round_s, "op_ms": read_ms, "upload_ms": upload_ms,
            "visible_ms": visible_ms, "drain_s": drain_s,
        }
        if traced:
            progress = [p for p in query.recentProgress if p.numInputRows]
            dur = [p.durationMs for p in progress]
            drain = {
                "streaming.drain_ms": drain_s * 1000.0,
                "streaming.batches": len(progress),
                "streaming.jobs_per_drain": drain_jobs,
                "streaming.add_batch_ms": sum(d["addBatch"] for d in dur),
                "streaming.latest_offset_ms": sum(d["latestOffset"] for d in dur),
                "streaming.wal_commit_ms": sum(d["walCommit"] for d in dur),
            }
            out["layers"] = trace_layers.round_layers(
                rnd, first_job, compiles, drain, len(uploaded)
            )
            bench.tracer.op = None
        return out

    trace_layers = _Layers(bench, facts) if bench.args.trace else None
    for rnd in range(1 + WARMUP_ROUNDS):  # the cold round, then warm-up
        t0 = time.perf_counter()
        one_round(rnd, False)
        if rnd == 0:
            bench.record["cold_round_s"] = time.perf_counter() - t0
    if trace_layers:
        trace_layers.compact_ms.clear()

    def next_round(traced: bool) -> dict:
        nonlocal rnd
        rnd += 1
        return one_round(rnd, traced)

    plain, traced = bench.measure(
        next_round, more=trace_layers and (lambda: not trace_layers.compact_ms)
    )
    if trace_layers:  # over every round of the window, traced or not
        bench.layer["writers.compactions"] = (
            len(trace_layers.compact_ms) / (len(plain) + len(traced))
        )
        bench.layer["writers.compact_ms"] = statistics.fmean(trace_layers.compact_ms)

    # End-of-run audit: every acknowledged upload landed exactly once.
    facts_df = writers.read_fact_table(spark, facts).select(
        "tenant_id", "folder_id", "file_name", amount_col, status_col
    ).toPandas()
    counts = facts_df.groupby(["tenant_id", "file_name"]).size().to_dict()
    for i, name in uploaded:
        n = counts.get((f"owner{i}", name), 0)
        if n != 1:
            tally.fail(f"audit: {name} of tenant {i} landed {n} times")
    if len(facts_df) != len(uploaded):
        tally.fail(f"audit: {len(facts_df)} fact rows for {len(uploaded)} uploads")
    if os.path.exists(svc.quarantine_path):
        n_q = writers.read_fact_table(spark, svc.quarantine_path).count()
        if n_q:
            tally.fail(f"audit: {n_q} quarantined documents")

    bench.record.update({"docs_per_round": N_TENANTS * DOCS_PER_TENANT,
                         "fact_rows": len(facts_df)})
    for key in ("upload_ms", "visible_ms"):
        xs = [x for r in plain for x in r[key]]
        bench.record[f"{key}_p50"] = statistics.median(xs)
        p = common.reportable_percentile(len(xs))
        if p and p > 50:
            bench.record[f"{key}_p{p:g}"] = common.percentile(xs, p)
        bench.record[f"{key}_samples"] = len(xs)
    bench.record["drain_s_p50"] = statistics.median(r["drain_s"] for r in plain)
    return bench.metrics(
        plain, traced, N_TENANTS * DOCS_PER_TENANT,
        op_ms=statistics.median(x for r in plain for x in r["op_ms"]),
        unreached=UNREACHED,
    )
