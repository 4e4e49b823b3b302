"""Incrementally-maintained materialized rollups over a fact table.

At 100 TB you never recompute a dashboard aggregate from scratch on
every refresh — you fold the CHANGE FEED into the stored aggregate
(Delta/Databricks materialized views, Druid rollup segments do the
same). This module maintains ``groupBy(dims).agg(measures)`` tables
whose refresh cost is O(new data + rollup size), not O(fact table):

* ``define_rollup`` declares the rollup: dims + decomposable measures
  (sum / count / min / max — the algebraic aggregates that merge by
  re-aggregation; avg is stored as sum+count and derived at read).
* ``refresh_rollup`` folds commits since the last refreshed fact
  version via :func:`writers.read_changes`. Append-only commit ranges
  fold incrementally; a range containing a delete/merge (the change
  feed has no pre-images — writers.py:826 documents the limit) falls
  back to a full recompute, honestly reported in the return value.
  Either way the rollup is republished atomically as a ``base``
  commit and the refreshed fact version is recorded, so a crashed
  refresh re-runs idempotently.

Reference parity: the reference recomputes its KPI summaries from
BigQuery per request (main.py:596-650); a materialized rollup is the
only way that answers in interactive time over 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_etl_engine_spark.sources import writers

_FIRST = {
    "sum": F.sum,
    "count": F.count,
    "min": F.min,
    "max": F.max,
}
# how a measure merges across partial aggregates: counts ADD, so the
# merge function differs from the first pass
_MERGE = {
    "sum": F.sum,
    "count": F.sum,
    "min": F.min,
    "max": F.max,
}


def define_rollup(
    rollup_path: str,
    fact_path: str,
    dims: list[str],
    measures: dict[str, tuple[str, str]],
) -> None:
    """Declare a rollup table at ``rollup_path`` over the fact table:
    ``measures`` maps output column → ``(fn, source_column)`` with fn
    in sum/count/min/max (count counts non-NULL of its source, SQL
    semantics). Refresh state starts at -1 (nothing folded; commit
    versions start at 0)."""
    bad = [f for f, _ in measures.values() if f not in _FIRST]
    if bad:
        raise ValueError(
            f"non-decomposable measure fns {bad}; supported: sum, "
            "count, min, max (avg = sum/count at read time)"
        )
    writers.set_table_property(
        rollup_path,
        "rollup_spec",
        {
            "fact_path": fact_path,
            "dims": list(dims),
            "measures": {k: list(v) for k, v in measures.items()},
            "fact_version": -1,  # commit versions start at 0
        },
    )


def _agg_exprs(measures: dict, merge: bool) -> list:
    table = _MERGE if merge else _FIRST
    return [
        table[fn](F.col(name if merge else src)).alias(name)
        for name, (fn, src) in measures.items()
    ]


def _commit_range_is_append_only(
    path: str, since: int, upto: int
) -> bool:
    import json as _json
    import os as _os

    entries = writers._commit_entries(path) or []
    cdir = _os.path.join(path, writers._COMMITS_DIR)
    for v, fn in entries:
        if since < v <= upto:
            with open(_os.path.join(cdir, fn)) as fh:
                rec = _json.load(fh)
            # lazy: a manifest-backed commit carries its counts inline.
            # DV commits are NOT append-only either: a MOR delete or
            # update may publish only deletion vectors (inline "dv",
            # or "n_dv" on manifest-backed commits) with no "remove"
            # entry — folding such a range incrementally would never
            # subtract the DV-masked rows (stale aggregates after
            # DELETE_MOR, double counts after UPDATE_MOR).
            if (
                rec.get("remove")
                or rec.get("n_remove")
                or rec.get("dv")
                or rec.get("n_dv")
            ):
                return False
    return True


def refresh_rollup(spark: SparkSession, rollup_path: str) -> dict:
    """Bring the rollup up to the fact table's current version.
    Returns ``{"mode": "noop"|"incremental"|"full", "fact_version":
    v}``. Incremental = fold only the change feed plus the stored
    rollup (two small inputs); full = re-aggregate the fact snapshot
    (forced by a delete/merge in the range — no pre-images to
    subtract). Both publish the new rollup as one atomic base commit
    before the version pointer moves, so a crash between the two
    re-folds idempotently (re-aggregation of the same range is a
    rewrite, not a double count)."""
    spec = writers.table_properties(rollup_path).get("rollup_spec")
    if not spec:
        raise ValueError(f"no rollup defined at {rollup_path}")
    fact_path = spec["fact_path"]
    dims = spec["dims"]
    measures = {k: tuple(v) for k, v in spec["measures"].items()}
    v0 = int(spec["fact_version"])
    v1 = writers.table_version(fact_path)
    if v1 is None or v1 == v0:
        return {"mode": "noop", "fact_version": v0}

    incremental = v0 >= 0 and _commit_range_is_append_only(
        fact_path, v0, v1
    )
    if incremental:
        delta = writers.read_changes(spark, fact_path, v0).filter(
            F.col("_commit_version") <= v1
        )
        partial = delta.groupBy(*dims).agg(
            *_agg_exprs(measures, merge=False)
        )
        current = writers.read_fact_table(spark, rollup_path)
        merged = (
            current.unionByName(partial)
            .groupBy(*dims)
            .agg(*_agg_exprs(measures, merge=True))
        )
    else:
        snapshot = writers.read_fact_table(spark, fact_path, version=v1)
        merged = snapshot.groupBy(*dims).agg(
            *_agg_exprs(measures, merge=False)
        )

    files = writers._stage_files(merged, rollup_path)
    writers._publish_commit(
        rollup_path,
        files,
        base=True,
        stats=writers._stats_for(rollup_path, files),
        schema=writers._written_schema(merged, rollup_path),
    )
    spec["fact_version"] = v1
    writers.set_table_property(rollup_path, "rollup_spec", spec)
    return {
        "mode": "incremental" if incremental else "full",
        "fact_version": v1,
    }


def stream_rollup(
    spark: SparkSession,
    rollup_path: str,
    checkpoint: str,
    available_now: bool = True,
    interval: str | None = None,
):
    """Keep the rollup live by driving :func:`refresh_rollup` from the
    fact table's CDC stream (streaming/cdc.py): every micro-batch of
    appended commits triggers one incremental fold — a true streaming
    materialized view, without the ingest path having to know the
    rollup exists (contrast streaming/ingest.py's foreachBatch hook,
    which couples sink and rollup).

    The stream is only the TRIGGER: refresh reads the change feed
    itself from the rollup's recorded fact version, so a replayed
    micro-batch (crash between refresh and checkpoint advance) re-runs
    idempotently — the version pointer makes the second fold a no-op.
    Returns the StreamingQuery; ``available_now`` drains what exists
    and stops (batch-style catch-up), ``interval`` runs continuous
    micro-batches (e.g. "5 seconds")."""
    from pdf_etl_engine_spark.streaming import cdc as _cdc

    spec = writers.table_properties(rollup_path).get("rollup_spec")
    if not spec:
        raise ValueError(f"no rollup defined at {rollup_path}")
    _cdc.register(spark)
    writer = (
        spark.readStream.format("commitlog")
        .option("path", spec["fact_path"])
        .load()
        .writeStream.foreachBatch(
            lambda _df, _bid: refresh_rollup(spark, rollup_path)
        )
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif interval:
        writer = writer.trigger(processingTime=interval)
    return writer.start()
