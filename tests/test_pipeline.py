"""E2E pipeline tests (SURVEY.md §5.4-5.5): golden ingest, schema
evolution, permissions, read path. Mirrors the reference's lifecycle
`/analyze-master → /confirm-kpis → POST / → /get-results`
(/root/reference/main.py:413-512, 656-759, 764-816) with the
deterministic extractor in the LLM slot.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from pdf_etl_engine_spark import pipeline
from pdf_etl_engine_spark.plans import types as T
from pdf_etl_engine_spark.sources import writers

KPI_META = [
    {"name": "Total Amount ($)", "sample_value": "$1,234.56", "type": "number"},
    {"name": "Report Date", "sample_value": "2024-01-15", "type": "date"},
    {"name": "Status", "sample_value": "Approved", "type": "categorical"},
]


def _write_doc(root, tenant, folder, name, payload):
    d = root / "incoming" / tenant / folder / "batch"
    d.mkdir(parents=True, exist_ok=True)
    (d / name).write_bytes(json.dumps(payload).encode())


@pytest.fixture()
def workspace(tmp_path, spark):
    cat = pipeline.Catalog(spark, str(tmp_path / "catalog"))
    cat.create_folder(
        "user_abc", "invoices", "Invoices", "test docs", kpi_metadata=KPI_META
    )
    return tmp_path, cat, str(tmp_path / "facts")


@pytest.mark.slow
def test_ingest_golden(workspace, spark):
    root, cat, facts = workspace
    _write_doc(
        root, "user_abc", "invoices", "inv_001.pdf",
        {"Total Amount ($)": "$1,234.56", "Report Date": "2024-01-15",
         "Status": "Approved"},
    )
    _write_doc(
        root, "user_abc", "invoices", "inv_002.pdf",
        {"Total Amount ($)": "(500)", "Report Date": "January 3, 2024"},
    )
    # ignored: wrong extension, placeholder, master/ not batch/
    (root / "incoming/user_abc/invoices/batch/.placeholder").write_bytes(b"")
    _write_doc(root, "user_abc", "invoices", "notes.txt", {})
    m = root / "incoming/user_abc/invoices/master"
    m.mkdir(parents=True, exist_ok=True)
    (m / "master.pdf").write_bytes(b"{}")

    res = pipeline.ingest_batch(
        spark, f"{root}/incoming/*/*/*/*", cat, facts
    )
    assert res["rows_written"] == 2

    out = pipeline.read_results(spark, facts, "user_abc", "invoices")
    rows = {r["file_name"]: r for r in out.collect()}
    assert set(rows) == {"inv_001.pdf", "inv_002.pdf"}
    r1 = rows["inv_001.pdf"]
    assert r1["kpi_total_amount____"] == pytest.approx(1234.56)
    assert str(r1["kpi_report_date"]) == "2024-01-15"
    assert r1["kpi_status"] == "Approved"
    r2 = rows["inv_002.pdf"]
    assert r2["kpi_total_amount____"] == pytest.approx(-500.0)
    assert str(r2["kpi_report_date"]) == "2024-01-03"
    assert r2["kpi_status"] is None  # missing → N/A → NULL


@pytest.mark.slow
def test_schema_evolution_add_column(workspace, spark):
    """S5: a later batch carries a new KPI column; earlier rows read
    NULL for it; columns are never dropped (main.py:277-291)."""
    root, cat, facts = workspace
    _write_doc(
        root, "user_abc", "invoices", "old.pdf",
        {"Total Amount ($)": "$10.00", "Report Date": "2024-01-01",
         "Status": "Active"},
    )
    pipeline.ingest_batch(spark, f"{root}/incoming/*/*/*/*", cat, facts)

    # folder retrained with an extra KPI (evolution)
    evolved = KPI_META + [
        {"name": "Rig ID", "sample_value": "KDC-54", "type": "categorical"}
    ]
    cat2 = pipeline.Catalog(spark, str(root / "catalog2"))
    cat2.create_folder(
        "user_abc", "invoices", "Invoices", "", kpi_metadata=evolved
    )
    new = evolved  # sanity: new column set is a superset
    assert len(writers.evolve_columns({"kpi_total_amount____"}, new)) == 3

    (root / "incoming/user_abc/invoices/batch/old.pdf").unlink()
    _write_doc(
        root, "user_abc", "invoices", "new.pdf",
        {"Total Amount ($)": "$20.00", "Report Date": "2024-02-01",
         "Status": "Active", "Rig ID": "KDC-54"},
    )
    pipeline.ingest_batch(spark, f"{root}/incoming/*/*/*/*", cat2, facts)

    df = writers.read_fact_table(spark, facts)
    assert "kpi_rig_id" in df.columns
    got = {r["file_name"]: r["kpi_rig_id"] for r in df.collect()}
    assert got["new.pdf"] == "KDC-54"
    assert got["old.pdf"] is None  # pre-evolution row surfaces NULL


def test_permissions(workspace, spark):
    root, cat, facts = workspace
    cat.add_share("user_abc", "invoices", "Friend@Mail.COM", "view")
    assert cat.can_read("user_abc", "", "user_abc", "invoices")  # owner
    assert cat.can_read("someone", "friend@mail.com", "user_abc", "invoices")
    assert not cat.can_read("someone", "stranger@mail.com", "user_abc", "invoices")
    with pytest.raises(ValueError):
        cat.add_share("user_abc", "invoices", "x@y.z", "admin")


def test_fact_table_schema():
    schema = T.fact_table_schema(KPI_META)
    names = [f.name for f in schema.fields]
    assert names[:3] == ["row_id", "file_name", "uploaded_at"]
    assert "kpi_total_amount____" in names
    by_name = {f.name: f.dataType.simpleString() for f in schema.fields}
    assert by_name["kpi_total_amount____"] == "double"
    assert by_name["kpi_report_date"] == "date"
    assert by_name["kpi_status"] == "string"


def test_infer_schema_majority_vote(spark):
    df = spark.createDataFrame(
        [("$12.50", "2024-01-01", "Active", "free text here, quite long ok"),
         ("$99.00", "2024-02-02", "Closed", "another long free text value!!"),
         ("oops",   "2024-03-03", "Active", "words words words words words!")],
        "amount string, day string, state string, blurb string",
    )
    inferred = T.infer_schema(df)
    assert inferred["amount"] == "number"      # majority beats one 'oops'
    assert inferred["day"] == "date"
    assert inferred["state"] == "categorical"
    assert inferred["blurb"] == "string"


def test_discover_fields(workspace, spark):
    """Train step 1 (`/analyze-master`): field discovery from a master
    doc with F13-suggested types."""
    root, cat, facts = workspace
    m = root / "incoming/user_abc/invoices/master"
    m.mkdir(parents=True, exist_ok=True)
    (m / "master.pdf").write_bytes(
        json.dumps(
            {"Total Amount ($)": "$9,876.54", "Report Date": "2024-05-01",
             "Status": "Approved", "Notes": "a very long free text blob ok?!"}
        ).encode()
    )
    binary = pipeline.scan_incoming(spark, f"{root}/incoming/*/*/master/*")
    fields = {
        r["kpi_name"]: (r["sample_value"], r["suggested_type"])
        for r in pipeline.discover_fields(binary).collect()
    }
    assert fields["Total Amount ($)"] == ("$9,876.54", "number")
    assert fields["Report Date"] == ("2024-05-01", "date")
    assert fields["Status"] == ("Approved", "categorical")
    assert fields["Notes"][1] == "string"


@pytest.mark.slow
def test_multi_folder_batch_is_one_extraction_job(tmp_path, spark):
    """A 20-folder batch must run O(1) Spark jobs (one extraction, one
    append), not O(folders) — the old per-folder driver loop ran 3+
    jobs per folder."""
    cat = pipeline.Catalog(spark, str(tmp_path / "catalog"))
    n_folders = 20
    for i in range(n_folders):
        cat.create_folder(
            "u1", f"dept_{i:02d}",
            kpi_metadata=[{"name": f"Metric {i}", "sample_value": "1",
                           "type": "number"}],
        )
        _write_doc(tmp_path, "u1", f"dept_{i:02d}", f"d{i}.pdf",
                   {f"Metric {i}": str(i)})
    facts = str(tmp_path / "facts")

    sc = spark.sparkContext
    group = "multi-folder-ingest-probe"
    sc.setJobGroup(group, "ingest probe")
    try:
        res = pipeline.ingest_batch(
            spark, f"{tmp_path}/incoming/*/*/*/*", cat, facts
        )
    finally:
        sc.setJobGroup(None, None)
    assert res["rows_written"] == n_folders
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    # Fixed pipeline overhead only (counts/collects/save + AQE
    # broadcast-stage jobs) — must NOT scale with folder count.
    # Measured on 4 CPUs: 13 jobs at 20 folders, 14 at 40, with the
    # catalog read on the driver and the table schema from the commit
    # log (no folders collect, no footer-inference read); the old
    # per-folder loop ran 3+ jobs PER folder (60+ here).
    assert n_jobs <= 14, f"{n_jobs} jobs for {n_folders} folders"

    # every folder's row landed with its own KPI column typed
    out = writers.read_fact_table(spark, facts)
    assert out.count() == n_folders
    row = out.filter(F.col("folder_id") == "dept_03").collect()[0]
    assert row["kpi_metric_3"] == 3.0


@pytest.mark.slow
def test_extractor_fault_injection_quarantines_and_completes(
    tmp_path, spark
):
    """Extractor raising on a subset of documents: those rows land in
    quarantine with the error, the rest commit, the batch finishes."""
    cat = pipeline.Catalog(spark, str(tmp_path / "catalog"))
    cat.create_folder("u1", "reports", kpi_metadata=[
        {"name": "Amount", "sample_value": "1", "type": "number"}])
    for i in range(10):
        _write_doc(tmp_path, "u1", "reports", f"r{i}.pdf",
                   {"Amount": str(i), "poison": i % 3 == 0})
    facts = str(tmp_path / "facts")
    quarantine = str(tmp_path / "quarantine")

    def flaky(content, kpi_names, context_hint):
        data = json.loads(content.decode())
        if data.get("poison"):
            raise RuntimeError("simulated extractor outage")
        return {k: str(data.get(k, "N/A")) for k in kpi_names}

    res = pipeline.ingest_batch(
        spark, f"{tmp_path}/incoming/*/*/*/*", cat, facts,
        extractor=flaky, quarantine_path=quarantine,
    )
    assert res["rows_written"] == 6  # i in {1,2,4,5,7,8}
    assert res["files_failed"] == 4  # i in {0,3,6,9}
    q = spark.read.parquet(quarantine).collect()
    assert len(q) == 4
    assert all("simulated extractor outage" in r["error"] for r in q)
    committed = writers.read_fact_table(spark, facts)
    assert committed.count() == 6


@pytest.mark.slow
def test_extractor_retry_recovers_transient_failures(tmp_path, spark):
    """A failure that clears within the retry budget commits normally
    (rate-limit shape: fail, back off, succeed)."""
    cat = pipeline.Catalog(spark, str(tmp_path / "catalog"))
    cat.create_folder("u1", "reports", kpi_metadata=[
        {"name": "Amount", "sample_value": "1", "type": "number"}])
    _write_doc(tmp_path, "u1", "reports", "r0.pdf", {"Amount": "7"})
    facts = str(tmp_path / "facts")

    attempts: dict[str, int] = {}

    def transient(content, kpi_names, context_hint):
        n = attempts.get("n", 0) + 1
        attempts["n"] = n
        if n <= 2:  # first two attempts of this task fail
            raise TimeoutError("simulated rate limit")
        data = json.loads(content.decode())
        return {k: str(data.get(k, "N/A")) for k in kpi_names}

    res = pipeline.ingest_batch(
        spark, f"{tmp_path}/incoming/*/*/*/*", cat, facts,
        extractor=transient,
        quarantine_path=str(tmp_path / "quarantine"),
    )
    assert res["rows_written"] == 1
    assert res["files_failed"] == 0


def test_rate_limiter_paces_calls():
    """RateLimiter with an injected clock: calls past the first are
    spaced ≥ 1/max_rps apart, sleeping exactly the deficit."""
    t = [0.0]
    slept = []

    def clock():
        return t[0]

    def sleep(s):
        slept.append(s)
        t[0] += s

    rl = pipeline.RateLimiter(max_rps=2.0, clock=clock, sleep=sleep)
    rl.acquire()          # first call: no wait
    rl.acquire()          # immediate second call: wait 0.5s
    assert slept == [pytest.approx(0.5)]
    t[0] += 10            # long idle: no sleep, no burst debt beyond one slot
    rl.acquire()
    assert len(slept) == 1
    with pytest.raises(ValueError):
        pipeline.RateLimiter(max_rps=0)


@pytest.mark.slow
def test_extract_batch_honors_max_rps(spark):
    """Plumbing check: max_rps flows through extract_kpis_batch and
    extraction still completes correctly under pacing."""
    payload = json.dumps({"Amount": "7"}).encode()
    bound = spark.createDataFrame(
        [("p", "rel", "u1", "reports", payload, ["Amount"], "")],
        "path string, rel_path string, tenant_id string, "
        "folder_id string, content binary, kpi_names array<string>, "
        "context_hint string",
    )
    out = pipeline.extract_kpis_batch(
        bound, pipeline.json_bytes_extractor, max_rps=10_000
    )
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["extract_error"] is None
    assert json.loads(rows[0]["raw_extract"]) == {"Amount": "7"}


@pytest.mark.slow
def test_catalog_reads_pre_r5_schema(tmp_path, spark):
    """Round-4 catalogs (folders without selected_kpis/kpi_samples,
    shares without created_at) keep working under the widened explicit
    schemas: missing parquet columns read NULL, and a stamped re-share
    supersedes an unstamped legacy row (desc_nulls_last)."""
    OLD_FOLDERS = (
        "tenant_id string, folder_id string, display_name string, "
        "context_hint string, is_trained boolean, status string, "
        "owner string, created_at timestamp, "
        "kpi_metadata array<struct<name:string, sample_value:string, "
        "type:string>>"
    )
    OLD_SHARES = (
        "owner_id string, folder_id string, shared_email string, "
        "permission string"
    )
    d = str(tmp_path / "cat")
    spark.createDataFrame(
        [("u1", "f1", "F", "", True, "active", "u1", None,
          [("K", "1", "number")])],
        OLD_FOLDERS,
    ).write.parquet(d + "/folders")
    spark.createDataFrame(
        [("u1", "f1", "e@x.com", "edit")], OLD_SHARES
    ).write.parquet(d + "/shares")

    cat = pipeline.Catalog(spark, d)
    f = cat.get_folder("u1", "f1")
    assert f["display_name"] == "F"
    assert f["selected_kpis"] is None and f["kpi_samples"] is None
    assert cat.effective_share("u1", "f1", "e@x.com") == "edit"
    cat.add_share("u1", "f1", "e@x.com", "view")  # stamped row wins
    assert cat.effective_share("u1", "f1", "e@x.com") == "view"
    assert cat.can_read("u2", "e@x.com", "u1", "f1")


def test_catalog_driver_reads_match_spark(tmp_path, spark):
    """Catalog lookups read the parquet on the driver. They must answer
    exactly what a Spark collect with newest-wins ordering answers:
    same dicts (naive datetimes, maps as dicts, structs as dicts), the
    newest generation per key, 'edit' winning a timestamp tie."""
    from pyspark.sql.pandas.types import to_arrow_schema

    def shape(schema):  # list item names and the UTC zone aside
        return [
            (f.name, str(f.type).replace("element:", "item:").replace(", tz=UTC", ""))
            for f in schema
        ]

    for ddl, arrow in ((pipeline.FOLDERS_SCHEMA, pipeline._FOLDERS_ARROW),
                       (pipeline.SHARES_SCHEMA, pipeline._SHARES_ARROW)):
        want = to_arrow_schema(spark.createDataFrame([], ddl).schema)
        assert shape(want) == shape(arrow)

    cat = pipeline.Catalog(spark, str(tmp_path / "catalog"))
    cat.create_folder("u1", "inv", "Old", kpi_metadata=[
        {"name": "A", "sample_value": "1", "type": "number"}])
    cat.create_folder("u1", "inv", "New", "hint", kpi_metadata=[
        {"name": "B", "sample_value": "x", "type": "string"}],
        selected_kpis=["B"], kpi_samples={"B": "x"})
    cat.create_folder("u2", "inv", "Other")
    # legacy generation with no timestamp: every stamped one beats it
    spark.createDataFrame(
        [("u3", "inv", "Legacy", "", False, "x", None, None, None, None,
          None)],
        pipeline.FOLDERS_SCHEMA,
    ).write.mode("append").parquet(cat.folders_path)
    folders = [r.asDict(recursive=True) for r in cat.folders().collect()]
    for tenant in ("u1", "u2", "u3"):
        rows = [r for r in folders if r["tenant_id"] == tenant]
        newest = max(rows, key=lambda r: (r["created_at"] is not None,
                                          r["created_at"] or 0))
        assert cat.get_folder(tenant, "inv") == newest
    assert cat.get_folder("u1", "inv")["kpi_samples"] == {"B": "x"}
    assert sorted(
        (m["tenant_id"], m["display_name"])
        for m in pipeline.latest_folder_metas(cat)
    ) == [("u1", "New"), ("u2", "Other"), ("u3", "Legacy")]

    # two legacy (unstamped) shares tie: 'edit' wins, a stamped one beats both
    spark.createDataFrame(
        [("u2", "inv", "e@x.com", p, None) for p in ("edit", "view")],
        pipeline.SHARES_SCHEMA,
    ).write.parquet(cat.shares_path)
    assert cat.effective_share("u2", "inv", "E@x.com") == "edit"
    assert cat.live_shares("e@x.com") == {("u2", "inv"): "edit"}
    assert cat.resolve_folder_for_read("u9", "e@x.com", "inv")["owner"] == "u2"
    cat.add_share("u2", "inv", "e@x.com", "view")
    assert cat.effective_share("u2", "inv", "e@x.com") == "view"
    assert cat.live_shares("E@X.com") == {("u2", "inv"): "view"}
