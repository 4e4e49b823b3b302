"""Event-time windowed aggregations (SURVEY.md §2.9 ext surface).

The batch forms below are the oracle-checked equivalents of the
streaming queries in streaming/ingest.py — Structured Streaming's
windowed aggregates produce exactly these results once the watermark
passes (tumbling ≡ date_trunc bucketing; sliding ≡ one row per
overlapping window; session ≡ gaps-and-islands with a 30-min gap).
`stw_stream_dedup` actually runs a Structured Streaming query
(availableNow micro-batches into a memory sink) so the streaming
engine itself is exercised in-grade, rows-only.
"""

from __future__ import annotations

import pathlib
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_etl_engine_spark.catalog import load_table, table_path
from pdf_etl_engine_spark.functions.stable import fixed_avg, fixed_sum
from pdf_etl_engine_spark.registry import query
from pdf_etl_engine_spark.scratch import scratch_dir


@query(
    "stw_tumbling_window",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           round((CAST(sum(CAST(round((value) * 100) AS BIGINT)) AS DOUBLE) / 100) + 5e-10, 4) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def stw_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregate — `F.window` (the streaming
    group key; epoch-aligned, so ≡ date_trunc('hour'))."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            fixed_sum("value", 100, 4).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "stw_sliding_window",
    oracle="""
    SELECT time_bucket(INTERVAL '30 minutes', ts)
             - (o.o * INTERVAL '30 minutes') AS window_start,
           count(*) AS n_events,
           round((CAST(sum(CAST(round((value) * 100) AS BIGINT)) AS DOUBLE) / 100) / count(value) + 5e-10, 4) AS avg_value
    FROM events CROSS JOIN (VALUES (0), (1)) AS o(o)
    GROUP BY 1
    """,
)
def stw_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window: 1-hour length, 30-minute slide — every event
    lands in exactly 2 windows."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(
            F.count("*").alias("n_events"),
            fixed_avg("value", 100, 4).alias("avg_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "n_events",
            "avg_value",
        )
    )


@query(
    "stw_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts >= lag(ts) OVER w + INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), islands AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      FROM flagged
    )
    SELECT user_id, min(ts) AS session_start, count(*) AS n_events
    FROM islands GROUP BY user_id, session_no
    """,
)
def stw_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session window, 30-minute gap — `F.session_window` (the
    streaming stateful operator; its batch result is the classic
    gaps-and-islands computation the oracle runs)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )


def _stage_stream_source(sf_dir: str, table: str) -> str:
    """Stage a testdata parquet into a scratch directory usable as a
    file-stream source (the file source wants a directory — a real
    deployment's landing directory). Keyed by source identity
    (path + mtime + size) so regenerated testdata restages instead of
    silently reusing a stale copy."""
    src = table_path(sf_dir, table)
    stage = pathlib.Path(scratch_dir("spark_graft_stream", src))
    stage.mkdir(parents=True, exist_ok=True)
    staged = stage / f"{table}.parquet"
    if not staged.exists():
        shutil.copyfile(src, staged)
    return str(stage)


def _run_to_memory_sink(stream_df: DataFrame, prefix: str) -> DataFrame:
    """Execute a streaming DataFrame with an availableNow trigger into
    a uniquely-named in-memory sink (complete mode) and return the
    result table."""
    spark = stream_df.sparkSession
    sink = f"{prefix}_{uuid.uuid4().hex[:8]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


@query(
    "stw_enrich_join",
    oracle="""
    SELECT c.c_mktsegment,
           count(*) AS n_orders,
           round((CAST(sum(CAST(round((o.o_totalprice) * 100) AS BIGINT))
             AS DOUBLE) / 100) + 5e-10, 2) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def stw_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 stream-static enrichment: a genuine Structured Streaming
    run — readStream over the orders landing dir, inner join against
    the STATIC customer dimension (broadcast: the dim re-broadcasts per
    micro-batch, never shuffles the stream), then a running aggregate
    per market segment in complete mode. availableNow + complete makes
    the final table deterministic, so this streaming query is
    oracle-graded, not rows-only.

    Scale: stream-static broadcast join is the standard enrichment
    topology at 100 TB/day — state-free (no stream-stream join state
    store), dim refresh is a re-broadcast, and the agg keeps one row
    per segment in the state store."""
    stage = _stage_stream_source(sf_dir, "orders")
    static_orders = load_table(spark, sf_dir, "orders")
    customers = F.broadcast(
        load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment"
        )
    )
    stream = (
        spark.readStream.schema(static_orders.schema)
        .parquet(stage)
        .join(customers, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            fixed_sum("o_totalprice", 100, 2).alias("revenue"),
        )
    )
    return _run_to_memory_sink(stream, "stream_enrich")


@query(
    "stw_stream_dedup",
    oracle="""
    SELECT CAST(to_timestamp(CAST(floor(epoch(o_orderdate) / 2592000)
             AS BIGINT) * 2592000) AS TIMESTAMP) AS window_start,
           count(DISTINCT o_orderkey) AS n_orders
    FROM orders GROUP BY 1
    """,
)
def stw_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup-by-key with watermark: readStream over the
    orders parquet → withWatermark(30 days) → dropDuplicates(o_orderkey)
    → tumbling monthly count — executed with an availableNow trigger
    into a memory sink (checkpoint-free micro-batch replay). This is
    the duplicate-delivery guard the reference lacks (its crash window
    duplicates rows, main.py:743-752).

    Oracle-graded (VERDICT r5 tail): which physical row survives
    dropDuplicates is arrival-order-dependent, but the GRADED result —
    per-window distinct-key counts — is deterministic, and Spark's
    epoch-aligned 30-day window ≡ the oracle's epoch-floor bucket
    (both engines run UTC here; the driver harness pins no other TZ)."""
    stage = _stage_stream_source(sf_dir, "orders")
    static = load_table(spark, sf_dir, "orders")
    stream = (
        spark.readStream.schema(static.schema)
        .parquet(stage)
        .withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
        .withWatermark("o_orderdate", "30 days")
        .dropDuplicates(["o_orderkey"])
        .groupBy(F.window("o_orderdate", "30 days"))
        .agg(F.count("*").alias("n_orders"))
        .select(F.col("window.start").alias("window_start"), "n_orders")
    )
    return _run_to_memory_sink(stream, "stream_dedup")


@query(
    "stw_stream_stream_join",
    oracle="""
    SELECT o.o_orderpriority,
           count(*) AS n_items,
           round((CAST(sum(CAST(round((l.l_extendedprice) * 100) AS BIGINT))
             AS DOUBLE) / 100) + 5e-10, 2) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate <= o.o_orderdate + INTERVAL 120 DAY
    GROUP BY o.o_orderpriority
    """,
)
def stw_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 stream-stream inner join: lineitem stream ⋈ orders stream
    on orderkey PLUS an event-time range (ship within 120 days of the
    order), watermarks on both sides. The range condition is what lets
    the state store expire buffered rows — an unbounded-state
    stream-stream join is the classic production OOM; with watermark +
    range bound, each side keeps only rows inside the watermark
    horizon. availableNow drains both landing dirs, the append-mode
    inner join emits exactly the batch-join rows, and the final
    aggregate over the sink table is oracle-graded.

    Scale: state is partitioned by the join key (orderkey) across the
    cluster's state stores; skew lands on hot keys, not hot tasks,
    because HashPartitioning on orderkey spreads orders uniformly."""
    o_stage = _stage_stream_source(sf_dir, "orders")
    l_stage = _stage_stream_source(sf_dir, "lineitem")
    o_static = load_table(spark, sf_dir, "orders")
    l_static = load_table(spark, sf_dir, "lineitem")
    orders = (
        spark.readStream.schema(o_static.schema)
        .parquet(o_stage)
        .select("o_orderkey", "o_orderpriority", "o_orderdate")
        .withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
        .withWatermark("o_orderdate", "30 days")
    )
    items = (
        spark.readStream.schema(l_static.schema)
        .parquet(l_stage)
        .select("l_orderkey", "l_extendedprice", "l_shipdate")
        .withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp"))
        .withWatermark("l_shipdate", "30 days")
    )
    joined = items.join(
        orders,
        F.expr(
            "l_orderkey = o_orderkey AND "
            "l_shipdate >= o_orderdate AND "
            "l_shipdate <= o_orderdate + INTERVAL 120 DAYS"
        ),
    )
    sink = f"stream_stream_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(sink)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            fixed_sum("l_extendedprice", 100, 2).alias("revenue"),
        )
    )


@query(
    "stw_stateful_sessions",
    oracle="""
    WITH x AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w > INTERVAL '6 hours'
                  THEN 1 ELSE 0 END AS ns
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    y AS (
      SELECT user_id, ts,
             sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
      FROM x
    ),
    s AS (
      SELECT user_id, sid, min(ts) AS session_start, max(ts) AS session_end,
             CAST(count(*) AS BIGINT) AS n_events
      FROM y GROUP BY 1, 2
    )
    SELECT user_id, session_start, session_end, n_events
    FROM s QUALIFY sid < max(sid) OVER (PARTITION BY user_id)
    """,
)
def stw_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 custom stateful operator, ORACLE-GRADED: the
    `applyInPandasWithState` sessionizer (streaming/stateful.py
    `user_sessions`, EventTimeTimeout) runs as a REAL streaming query
    over the events landing dir and its emitted sessions are checked
    against a batch gaps-and-islands twin.

    Determinism contract: lateness is pinned far beyond the data span
    (90 days vs the table's ~30), so the watermark never passes any
    session's timeout — every emission is an INLINE close (a later
    event for the same user beyond the 6 h gap). That makes the
    emitted set exactly "all sessions except each user's last, still
    open, one" — which is what the QUALIFY clause drops on the SQL
    side — independent of micro-batch boundaries or whether the
    engine schedules a trailing timeout batch. (The timeout-driven
    emission path is pinned separately by
    tests/test_streaming.py::test_stateful_sessionization_*.)
    total_value is emitted but not graded: float accumulation order
    differs between a pandas running sum and a SQL aggregate.

    Scale: state is one 4-tuple per open session, hash-partitioned by
    user_id across the cluster's state stores."""
    from pdf_etl_engine_spark.streaming.stateful import user_sessions

    src = table_path(sf_dir, "events")
    stage = pathlib.Path(scratch_dir("spark_graft_stream_us", src))
    if not (stage / "_SUCCESS").exists():
        # events.parquet carries TIMESTAMP(NANOS) the stream reader
        # rejects; stage through the batch reader (µs timestamps)
        load_table(spark, sf_dir, "events").select(
            "user_id", "ts", "value"
        ).coalesce(1).write.mode("overwrite").parquet(str(stage))
    stream = spark.readStream.schema(
        "user_id long, ts timestamp, value double"
    ).parquet(str(stage))
    sessions = user_sessions(stream, gap_s=6 * 3600.0, lateness="90 days")
    sink = f"stateful_sessions_{uuid.uuid4().hex[:8]}"
    q = (
        sessions.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink).select(
        "user_id", "session_start", "session_end", "n_events"
    )


@query(
    "stw_heavy_hitters",
    oracle="""
    SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
    FROM events GROUP BY user_id
    ORDER BY cnt DESC, user_id LIMIT 25
    """,
)
def stw_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 × X48: the Misra–Gries heavy-hitter sketch run as a REAL
    stateful streaming query (streaming/stateful.py
    `streaming_heavy_hitters`) over the events landing dir, graded
    batch-equivalently: the drained per-shard candidate emissions,
    reduced to each user's max (counts are monotone across
    micro-batches), must equal the exact batch top-25 by count.

    Determinism contract: the grading corpora keep every shard's
    distinct-user count far below the 4096 capacity (150 users at
    sf0.01, 15k at sf1 across 8 shards), so no eviction fires and the
    sketch is EXACT regardless of micro-batch boundaries; the
    eviction path is property-tested separately (mg_merge, the same
    pure transition function x48's batch kernel uses). Top-25 with
    the (cnt DESC, user_id) tie-break both sides.

    Scale: state is shards × cap rows total whatever the stream's
    key cardinality — the bounded-memory answer to "alert on hot
    keys" that a per-key streaming aggregate can't give."""
    from pdf_etl_engine_spark.streaming.stateful import (
        streaming_heavy_hitters,
    )

    src = table_path(sf_dir, "events")
    stage = pathlib.Path(scratch_dir("spark_graft_stream_hh", src))
    if not (stage / "_SUCCESS").exists():
        load_table(spark, sf_dir, "events").select(
            "user_id", "ts"
        ).coalesce(1).write.mode("overwrite").parquet(str(stage))
    stream = spark.readStream.schema(
        "user_id long, ts timestamp"
    ).parquet(str(stage))
    hh = streaming_heavy_hitters(stream)
    sink = f"stream_hh_{uuid.uuid4().hex[:8]}"
    q = (
        hh.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = (
        spark.table(sink)
        .groupBy("user_id")
        .agg(F.max("cnt").alias("cnt"))
    )
    return final.orderBy(F.desc("cnt"), "user_id").limit(25)


@query(
    "stw_incremental_dedup",
    oracle="""
    SELECT b.lang, count(*) AS n_accepted
    FROM documents b
    WHERE b.doc_id % 10 >= 7
      AND NOT EXISTS (SELECT 1 FROM documents c
                      WHERE c.doc_id % 10 < 7 AND c.text = b.text)
      AND NOT EXISTS (SELECT 1 FROM documents b2
                      WHERE b2.doc_id % 10 >= 7 AND b2.text = b.text
                        AND b2.doc_id < b.doc_id)
    GROUP BY b.lang
    """,
)
def stw_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 × X22: STREAMING near-dup ingest — the fingerprint-store
    dedup loop run as a real Structured Streaming query
    (streaming/dedupstream.py). The store is seeded with the corpus
    split's fingerprints; the batch split arrives as 4 doc_id-ordered
    single-file micro-batches; every micro-batch probes the store's
    sha layer, emits only survivors, and APPENDS their fingerprints
    (batch-id-keyed deltas — exactly-once by idempotent overwrite,
    replay-pinned in tests/test_streaming_dedup.py), so later
    micro-batches dedup against earlier accepted docs too.

    Graded batch-equivalently against x22's oracle semantics: the
    first-wins clause (min doc_id per text within the stream) is a
    no-op on the grading corpora (zero within-stream text dups) but
    makes the result independent of micro-batch boundaries by
    construction. The near (MinHash band) layer runs through the same
    loop with ``near=True`` — rows-only semantics, exercised by the
    test suite rather than this graded twin (the x22/x22b split).

    At 100 TB this is the shape dedup actually ships in: crawl shards
    land continuously, each is checked against (and folded into) the
    store at ingest; nothing ever re-reads accepted text."""
    import tempfile

    from pdf_etl_engine_spark.streaming import dedupstream

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 < 7)
    batch = docs.filter(F.col("doc_id") % 10 >= 7).select(
        "doc_id", "lang", "text"
    )
    stage = scratch_dir(
        "spark_graft_stream_dedup_src", table_path(sf_dir, "documents")
    )
    dedupstream.stage_ordered_quartiles(spark, batch, stage)
    work = tempfile.mkdtemp(prefix="spark_graft_stream_dedup_")
    store_dir = f"{work}/store"
    accepted_dir = f"{work}/accepted"
    # near=False everywhere for this store: the graded twin is the
    # exact layer only, so the seed skips the MinHash pass too (r15)
    dedupstream.seed_store(spark, store_dir, corpus, near=False)
    dedupstream.run_streaming_dedup(
        spark,
        stage,
        "doc_id long, lang string, text string",
        store_dir,
        accepted_dir,
        f"{work}/checkpoint",
        near=False,
    )
    return (
        spark.read.parquet(accepted_dir)
        .groupBy("lang")
        .agg(F.count("*").alias("n_accepted"))
    )


def _x47d_oracle_sql() -> str:
    from pdf_etl_engine_spark.operators.ann_index import _x47d_oracle

    return _x47d_oracle()


@query("stw_ivfpq_ingest", oracle=_x47d_oracle_sql())
def stw_ivfpq_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 × X47: STREAMING vector ingest for the persisted IVF-PQ
    index — embeddings arrive as 4 vec_id-ordered micro-batches, each
    encoded at ingest against the frozen coarse model (collected
    once; the append-without-retrain discipline) and written as
    cell-partitioned codes under a batch-keyed dir (exactly-once by
    idempotent overwrite, replay-pinned in
    tests/test_streaming_dedup.py). After the drain the probe runs
    from the streamed-in artifact with the same static cell pruning
    as x47e.

    Graded with the BATCH IVF-PQ oracle (x47d's) VERBATIM: the coarse
    model is the deterministic full-corpus Lloyd (a batch-trained
    artifact by design — the standard split: models train offline,
    ingest encodes online), and per-vector encoding is map-only, so
    the final code set — and hence the probe answer — is independent
    of micro-batch slicing by construction. At 100 TB this is how a
    standing similarity-search service actually ingests: vectors are
    encoded and appended as they land; nothing re-touches the corpus."""
    import tempfile

    from pdf_etl_engine_spark.operators import ann_index
    from pdf_etl_engine_spark.streaming import dedupstream

    emb = load_table(spark, sf_dir, "embeddings")
    stage = scratch_dir(
        "spark_graft_stream_vec_src", table_path(sf_dir, "embeddings")
    )
    dedupstream.stage_ordered_quartiles(
        spark,
        emb.select("vec_id", "embedding", "label"),
        stage,
        order_col="vec_id",
    )
    work = tempfile.mkdtemp(prefix="spark_graft_stream_ivfpq_")
    index_dir = f"{work}/index"
    # train-once: the coarse model is the batch artifact the stream
    # encodes against (build_ivfpq_index's training call)
    cent, *_ = ann_index._ivfpq_train(ann_index._ivfpq_fp(emb), "mixer")
    cent.write.mode("overwrite").parquet(f"{index_dir}/centroids")
    dedupstream.run_streaming_vector_ingest(
        spark,
        stage,
        "vec_id long, embedding array<float>, label int",
        index_dir,
        f"{work}/checkpoint",
    )
    return ann_index.probe_ivfpq_index(spark, sf_dir, index_dir)
