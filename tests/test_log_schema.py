"""The fact table's schema lives in its commit log: every commit that
adds files records the Spark schema it wrote, the fold unions them
add-only in commit order, and readers pass the folded schema to the
parquet reader instead of inferring it from file footers."""

from __future__ import annotations

import datetime
import json
import os
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pdf_etl_engine_spark import pipeline
from pdf_etl_engine_spark.sources import writers


def _rows(spark, tenant, values, **extra):
    df = spark.createDataFrame([(v,) for v in values], "amount long").select(
        F.lit(tenant).alias("tenant_id"),
        F.lit("f").alias("folder_id"),
        "amount",
    )
    for name, value in extra.items():
        df = df.withColumn(name, F.lit(value))
    return df


def _jobs(spark, fn):
    sc = spark.sparkContext
    group = f"log-schema-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count probe")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rewrite_commits(path, edit):
    cdir = os.path.join(path, writers._COMMITS_DIR)
    for _v, fn in writers._commit_entries(path):
        with open(os.path.join(cdir, fn)) as fh:
            rec = json.load(fh)
        edit(rec)
        with open(os.path.join(cdir, fn), "w") as fh:
            json.dump(rec, fh)


def test_numeric_tenant_ids_keep_their_own_rows(tmp_path, spark):
    """Tenants "7" and "007" look numeric: a footer-inferred read typed
    the tenant_id partition column as int and served tenant "7"'s rows
    to "007". The logged schema keeps the column a string."""
    path = str(tmp_path / "facts")
    audit = {"row_id": "r", "uploaded_at": "2024-01-01 00:00:00"}
    writers.append_rows(_rows(spark, "7", [1, 2], **audit), path)
    writers.append_rows(_rows(spark, "007", [3], **audit), path)
    _assert_tenants_apart(spark, path)


def _assert_tenants_apart(spark, path):
    for tenant, want in (("7", [1, 2]), ("007", [3])):
        got = pipeline.read_results(spark, path, tenant, "f").collect()
        assert {r["tenant_id"] for r in got} == {tenant}
        assert sorted(r["amount"] for r in got) == want
    schema = writers.table_schema(spark, path)
    assert schema["tenant_id"].dataType == StringType()
    assert writers.read_fact_table(spark, path).schema == schema


def test_numeric_tenant_ids_without_a_log(tmp_path, spark):
    """A table written by another tool has no log: its data columns
    are inferred from the footers, its partition columns read as
    strings, so "007" is not served "7"'s rows."""
    path = str(tmp_path / "facts")
    audit = {"row_id": "r", "uploaded_at": "2024-01-01 00:00:00"}
    _rows(spark, "7", [1, 2], **audit).unionByName(
        _rows(spark, "007", [3], **audit)
    ).write.partitionBy("tenant_id", "folder_id").parquet(path)
    assert writers._fold_state(path) is None
    _assert_tenants_apart(spark, path)


def test_numeric_tenant_ids_with_a_schemaless_log(tmp_path, spark):
    """Commits written before schemas were logged: the same inference
    path, the same string-typed partition columns."""
    path = str(tmp_path / "facts")
    audit = {"row_id": "r", "uploaded_at": "2024-01-01 00:00:00"}
    writers.append_rows(_rows(spark, "7", [1, 2], **audit), path)
    writers.append_rows(_rows(spark, "007", [3], **audit), path)
    _rewrite_commits(path, lambda rec: rec.pop("schema"))
    assert writers._fold_state(path)["schema"] is None
    _assert_tenants_apart(spark, path)


_TYPED = StructType(
    [
        StructField("event_date", DateType()),
        StructField("bucket", IntegerType()),
        StructField("row_id", StringType()),
        StructField("amount", DoubleType()),
    ]
)


def _typed_rows(spark, row_id, day, bucket):
    return spark.createDataFrame(
        [(datetime.date(2026, 1, day), bucket, row_id, float(day))], _TYPED
    )


def _assert_typed_partitions(spark, path):
    schema = writers.table_schema(spark, path)
    assert schema["event_date"].dataType == DateType()
    assert schema["bucket"].dataType == IntegerType()
    assert writers.read_fact_table(spark, path).schema == schema


def test_typed_partitions_with_a_schemaless_log(tmp_path, spark):
    """Partition columns the sidecar declares DATE/INT keep those types
    on the inference path, so a compaction logs them as declared and
    the next typed append is not refused as a retype."""
    path = str(tmp_path / "facts")
    writers.create_fact_table(spark, path, _TYPED)
    writers.set_partition_spec(path, ["event_date", "bucket"])
    writers.append_rows(_typed_rows(spark, "a", 5, 7), path)
    _rewrite_commits(path, lambda rec: rec.pop("schema", None))
    assert writers._fold_state(path)["schema"] is None
    _assert_typed_partitions(spark, path)

    writers.compact_fact_table(spark, path)
    assert writers.append_rows(_typed_rows(spark, "b", 6, 9), path)
    got = {
        r["row_id"]: (r["event_date"], r["bucket"])
        for r in writers.read_fact_table(spark, path).collect()
    }
    assert got == {
        "a": (datetime.date(2026, 1, 5), 7),
        "b": (datetime.date(2026, 1, 6), 9),
    }


def test_typed_partitions_without_a_log(tmp_path, spark):
    """No log and no sidecar: a partition column other than the tenant
    and folder ids keeps the type partition discovery gives it."""
    path = str(tmp_path / "facts")
    _typed_rows(spark, "a", 5, 7).write.partitionBy(
        "event_date", "bucket"
    ).parquet(path)
    assert writers._fold_state(path) is None
    _assert_typed_partitions(spark, path)
    row = writers.read_fact_table(spark, path).first()
    assert (row["event_date"], row["bucket"]) == (datetime.date(2026, 1, 5), 7)


def test_add_only_evolution_reads_old_rows_null(tmp_path, spark):
    path = str(tmp_path / "facts")
    writers.append_rows(_rows(spark, "t1", [1]), path)
    writers.append_rows(_rows(spark, "t1", [2], status="ok"), path)
    (df, schema), n_jobs = _jobs(
        spark,
        lambda: (
            writers.read_fact_table(spark, path),
            writers.table_schema(spark, path),
        ),
    )
    assert n_jobs == 0  # schema from the log: no footer-inference job
    assert df.schema == schema
    assert df.columns == ["amount", "status", "tenant_id", "folder_id"]
    got = {r["amount"]: r["status"] for r in df.collect()}
    assert got == {1: None, 2: "ok"}


def test_retype_across_commits_raises(tmp_path, spark):
    path = str(tmp_path / "facts")
    writers.append_rows(_rows(spark, "t1", [1]), path)
    retyped = _rows(spark, "t1", [2]).withColumn(
        "amount", F.col("amount").cast("string")
    )
    with pytest.raises(ValueError, match="amount retyped"):
        writers.append_rows(retyped, path)
    # the refused append published nothing
    assert writers.table_version(path) == 0
    assert writers.read_fact_table(spark, path).count() == 1

    # a log that already holds a retype (a racing writer) fails the fold
    cdir = os.path.join(path, writers._COMMITS_DIR)
    with open(os.path.join(cdir, f"{0:020d}.json")) as fh:
        rec = json.load(fh)
    for f in rec["schema"]["fields"]:
        if f["name"] == "amount":
            f["type"] = "string"
    with open(os.path.join(cdir, f"{1:020d}.json"), "w") as fh:
        json.dump(rec, fh)
    with pytest.raises(ValueError, match="amount retyped"):
        writers._fold_state(path)


def test_log_without_schemas_reads_through_inference(tmp_path, spark):
    """Commits written before schemas were logged still read, with the
    footer-inference path; a compaction logs the schema again."""
    path = str(tmp_path / "facts")
    writers.append_rows(_rows(spark, "t1", [1]), path)
    writers.append_rows(_rows(spark, "t1", [2], status="ok"), path)
    _rewrite_commits(path, lambda rec: rec.pop("schema"))

    assert writers._fold_state(path)["schema"] is None
    inferred = writers.table_schema(spark, path)
    df = writers.read_fact_table(spark, path)
    assert inferred == df.schema
    assert {r["amount"]: r["status"] for r in df.collect()} == {1: None, 2: "ok"}

    writers.compact_fact_table(spark, path)
    assert writers._fold_state(path)["schema"] is not None
    assert writers.table_schema(spark, path) == inferred
    assert writers.read_fact_table(spark, path).count() == 2


def test_checkpoint_carries_folded_schema(tmp_path):
    """Schemas fold across a checkpoint boundary exactly as a full
    replay of the log does; a commit without a schema makes the
    snapshot undescribed until a base commit logs one again."""
    from tests.test_commitlog_concurrency import _fold_without_checkpoints

    path = str(tmp_path / "t")
    cols = [StructField("tenant_id", StringType())]
    for i in range(writers._CHECKPOINT_EVERY + 2):
        if i % 5 == 0:
            cols.append(StructField(f"c{i}", LongType()))
        writers._publish_commit(
            path, [f"f{i}.parquet"], schema=StructType(list(cols))
        )
    state = writers._fold_state(path)
    cp = writers._load_checkpoint(path)
    assert cp is not None and cp["schema"] is not None
    assert state == _fold_without_checkpoints(path)
    assert [f["name"] for f in state["schema"]["fields"]] == [
        "tenant_id", "c0", "c5", "c10", "c15",
    ]

    writers._publish_commit(path, ["legacy.parquet"])
    assert writers._fold_state(path)["schema"] is None
    writers._publish_commit(
        path, ["base.parquet"], base=True, schema=StructType(cols[:2])
    )
    assert [f["name"] for f in writers._fold_state(path)["schema"]["fields"]] == [
        "tenant_id", "c0",
    ]
