"""Structured Streaming ingest — the reference's event-driven pipeline
(SURVEY.md §2.9, §3.1) as a continuous query.

Reference model: one GCS object-finalize push per file → parse →
extract → insert → move to `processed/` (/root/reference/main.py:
656-759). Its delivery guarantees are weak in two documented ways:
a crash between insert and archive duplicates the row (main.py:
743-752), and every failure returns HTTP 200 so errors are silently
swallowed (main.py:757-759).

Spark restatement:
* file-source discovery replaces push notifications — checkpointed
  offsets make file pickup exactly-once per query;
* the P3 path predicates run as a pathGlobFilter + filter before any
  work (main.py:664-669);
* `foreachBatch` runs the SAME batch ingest code (pipeline.py) per
  micro-batch — batch/streaming parity by construction;
* archive-after-commit is preserved (move to `processed/`), but
  ordered AFTER the sink write inside the batch function, and a
  failed file goes to a QUARANTINE table instead of being dropped —
  fixing the reference's silent-200 error path.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from pdf_etl_engine_spark import pipeline as P
from pdf_etl_engine_spark.functions import kernel


def stream_ingest(
    spark: SparkSession,
    bucket_root: str,
    catalog: P.Catalog,
    fact_path: str,
    checkpoint_dir: str,
    quarantine_path: str | None = None,
    extractor: P.Extractor = P.json_bytes_extractor,
    archive: bool = True,
    max_files_per_trigger: int | None = None,
    auto_compact_max_files: int | None = None,
    rollup_paths: list[str] | None = None,
) -> StreamingQuery:
    """Start the continuous ingest query over `{bucket_root}/incoming`.

    Use `.trigger(availableNow=True)`-style draining by awaiting the
    returned query's termination in tests; in production it runs
    forever with micro-batches per discovery cycle.

    ``max_files_per_trigger`` is the backpressure knob: it caps each
    micro-batch's file count so a backlog (cold start, upstream burst)
    drains in bounded-size batches instead of one giant one — bounding
    extractor concurrency (the production LLM quota) and batch retry
    cost. availableNow still drains the WHOLE backlog, just in capped
    batches; exactly-once pickup is unaffected (checkpointed offsets).

    ``auto_compact_max_files`` keeps the fact table's file count
    bounded UNDER the stream: each micro-batch appends ~one file per
    touched partition, and after its sink commits (and before archive
    moves) the auto-compact policy folds the snapshot whenever it
    exceeds the threshold — amortized O(1) rewrites, so a
    week-running ingest never degrades scans. The compaction is its
    own base commit AFTER the txn-stamped append, so exactly-once
    replay semantics are untouched (a replayed batch still finds its
    txn and skips; compaction is idempotent-by-content).
    """
    binary_schema = (
        "path string, modificationTime timestamp, length long, content binary"
    )
    reader = (
        spark.readStream.format("binaryFile")
        .schema(binary_schema)
        .option("pathGlobFilter", "*.[pP][dD][fF]")  # case-insensitive, like P3
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    files = reader.load(f"{bucket_root}/incoming")

    # Sink-side exactly-once: the checkpoint dir IS the stream's
    # identity (same checkpoint ⇒ same batch-id sequence across
    # restarts), so (checkpoint, batch_id) stamps each fact append;
    # a replayed micro-batch finds its txn in the commit log and
    # publishes nothing (writers.append_rows).
    app_id = f"ingest:{checkpoint_dir}"

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        _ingest_micro_batch(
            spark,
            batch_df,
            bucket_root,
            catalog,
            fact_path,
            quarantine_path,
            extractor,
            archive,
            txn=(app_id, int(batch_id)),
        )
        if auto_compact_max_files is not None:
            from pdf_etl_engine_spark.sources.writers import auto_compact

            auto_compact(spark, fact_path, max_files=auto_compact_max_files)
        if rollup_paths:
            from pdf_etl_engine_spark.sources.rollup import refresh_rollup

            for rp in rollup_paths:
                refresh_rollup(spark, rp)

    return (
        files.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _ingest_micro_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    bucket_root: str,
    catalog: P.Catalog,
    fact_path: str,
    quarantine_path: str | None,
    extractor: P.Extractor,
    archive: bool,
    txn: tuple[str, int] | None = None,
) -> None:
    """One micro-batch = the reference's single-file handler, batched:
    ONE extraction job and ONE partitioned append for the whole batch
    however many folders it spans (pipeline.process_bound_batch),
    untrained folders and per-document extractor failures quarantined
    row-by-row (vs the reference's swallowed errors, main.py:757-759).

    Ordering is load-bearing: the batch is persisted and materialized
    BEFORE any processing, and archive moves happen only after the
    batch's append/quarantine committed — Spark plans are lazy, so
    moving a file while a sibling plan may still re-scan it fails with
    FILE_NOT_EXIST (found by driving mixed trained+untrained batches).
    """
    from pyspark.storagelevel import StorageLevel

    files = batch_df.withColumn(
        "rel_path", F.regexp_extract(F.col("path"), r"(incoming/.*)$", 1)
    )
    files.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        files.count()  # materialize the cache: no re-reads after moves
        valid = P.filter_ingestable(files, "rel_path")
        p = kernel.path_parts(F.col("rel_path"))
        bound = valid.withColumn("tenant_id", p["uid"]).withColumn(
            "folder_id", p["folder_id"]
        )
        manifest_dir = None
        if archive and txn is not None:
            import hashlib

            tag = hashlib.md5(txn[0].encode()).hexdigest()[:12]
            manifest_dir = str(
                Path(bucket_root) / "_archive" / f"txn={tag}-{int(txn[1])}"
            )
        elif archive:
            # txn-less callers get a unique manifest per batch so two
            # concurrent batches can't clobber each other's file list;
            # a crashed batch leaves a small orphan manifest (its files
            # simply re-archive on the next poll)
            import uuid

            manifest_dir = str(
                Path(bucket_root) / "_archive" / f"adhoc-{uuid.uuid4().hex[:12]}"
            )
        core = P.process_bound_batch(
            spark, bound, catalog, fact_path, extractor, quarantine_path,
            txn=txn, archive_manifest_dir=manifest_dir,
        )
        # Archive strictly last: every sink commit for this batch is
        # durable before any source file moves (S6, main.py:750-752).
        if archive and core["archive_manifest"]:
            archive_from_manifest(spark, core["archive_manifest"], bucket_root)
    finally:
        files.unpersist()


def archive_from_manifest(
    spark: SparkSession, manifest_dir: str, bucket_root: str
) -> int:
    """S6: move `incoming/...` → `processed/...` after the sink commit
    (main.py:750-752), DISTRIBUTED: the manifest parquet (written by
    the executors, never collected) is read back and the moves run as
    a mapPartitions job — each task renames its slice, so a
    million-file backlog neither ships every path through the driver
    nor renames serially (VERDICT r4 #4). On a cluster this assumes
    what streaming ingest already assumes: ``bucket_root`` is shared
    storage (object store / DFS), where the move is the same rename
    RPC the reference issues (main.py:750-752). A missing source with
    no destination is counted as already-archived (idempotent replay).
    Returns the number of files moved; the manifest is deleted after
    a fully successful pass so a crashed archive re-runs on replay."""
    if not Path(manifest_dir).exists():
        return 0
    # the manifest's one column is known: no schema-inference job
    df = spark.read.schema("rel_path string").parquet(manifest_dir)
    root = bucket_root

    def move_partition(rows) -> "list[int]":
        import shutil as _shutil
        from pathlib import Path as _Path

        n = 0
        for r in rows:
            rel = r["rel_path"]
            if not rel or not rel.startswith("incoming/"):
                continue
            src = _Path(root) / rel
            dst = _Path(root) / rel.replace("incoming/", "processed/", 1)
            if src.exists():
                dst.parent.mkdir(parents=True, exist_ok=True)
                _shutil.move(str(src), str(dst))
                n += 1
        yield n

    moved = int(df.rdd.mapPartitions(move_partition).sum())
    shutil.rmtree(manifest_dir, ignore_errors=True)
    return moved
