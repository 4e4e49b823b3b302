"""Joins (SURVEY.md §2.3).

The reference's joins are point lookups against Firestore/BigQuery
(folder metadata get main.py:675-687, share existence main.py:543-545,
nested-loop tenant scan main.py:783-791). Here each becomes a real
join with an explicit physical strategy:

* dimension enrich → **broadcast hash join** (dims are tiny; the fact
  side does not shuffle while every dimension fits under
  `autoBroadcastJoinThreshold`);
* existence / denial → **left semi / left anti** (no payload
  duplication, short-circuit probe);
* star-schema enrich → shuffle-free broadcasts up to
  `autoBroadcastJoinThreshold`, else AQE-planned sort-merge;
* as-of → union + running-window rewrite, NOT a theta join: O(n log n)
  with one shuffle on the partition key instead of a broadcast
  nested-loop product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pdf_etl_engine_spark.catalog import load_table, table_path
from pdf_etl_engine_spark.functions.stable import fixed_avg, fixed_sum
from pdf_etl_engine_spark.registry import query


@query(
    "j1_lookup_broadcast",
    oracle="""
    SELECT c_custkey, c_name, n_name, r_name
    FROM customer
    LEFT JOIN nation ON c_nationkey = n_nationkey
    LEFT JOIN region ON n_regionkey = r_regionkey
    """,
)
def j1_lookup_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: enrich fact rows with folder metadata by key — the
    reference's Firestore folder get (main.py:675-687) as a broadcast
    left join against the tiny dimension."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        customer.join(
            F.broadcast(nation),
            customer.c_nationkey == nation.n_nationkey,
            "left",
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey, "left")
        .select("c_custkey", "c_name", "n_name", "r_name")
    )


@query(
    "j2_semi_exists",
    oracle="""
    SELECT o_orderkey, o_custkey FROM orders o
    WHERE EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = o.o_custkey
                    AND c.c_mktsegment = 'BUILDING')
    """,
)
def j2_semi_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: "a share row exists" (main.py:543-545, 799-801) as a
    broadcast LEFT SEMI join."""
    orders = load_table(spark, sf_dir, "orders")
    building = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    return orders.join(F.broadcast(building), "o_custkey", "left_semi").select(
        "o_orderkey", "o_custkey"
    )


@query(
    "j3_anti",
    oracle="""
    SELECT o_orderkey, o_custkey FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = o.o_custkey
                        AND c.c_mktsegment = 'BUILDING')
    """,
)
def j3_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: the access-denied complement of J2 (inverse of
    main.py:547-548) as LEFT ANTI."""
    orders = load_table(spark, sf_dir, "orders")
    building = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    return orders.join(F.broadcast(building), "o_custkey", "left_anti").select(
        "o_orderkey", "o_custkey"
    )


@query(
    "j4_composite_key",
    oracle="""
    SELECT e.event_id, e.user_id, e.event_type, d.n_type_events, d.avg_type_value
    FROM events e
    JOIN (SELECT user_id, event_type,
                 count(*) AS n_type_events,
                 round((CAST(sum(CAST(round((value) * 100) AS BIGINT)) AS DOUBLE) / 100) / count(value) + 5e-10, 4) AS avg_type_value
          FROM events GROUP BY user_id, event_type) d
      ON e.user_id = d.user_id AND e.event_type = d.event_type
    """,
)
def j4_composite_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: composite-key join — the reference's `{owner}_{folder}_
    {email}` doc-id lookup (main.py:617-620) decomposed into its key
    columns instead of a concatenated string (concat keys defeat
    pushdown and skew statistics)."""
    events = load_table(spark, sf_dir, "events")
    dim = events.groupBy("user_id", "event_type").agg(
        F.count("*").alias("n_type_events"),
        fixed_avg("value", 100, 4).alias("avg_type_value"),
    )
    return events.join(dim, ["user_id", "event_type"]).select(
        "event_id", "user_id", "event_type", "n_type_events", "avg_type_value"
    )


@query(
    "j5_multiway_equi",
    oracle="""
    SELECT n_name,
           CAST((sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT))
                 + CASE WHEN sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)) < 0 THEN -50 ELSE 50 END) // 100
                AS DOUBLE) / 100 AS revenue,
           count(*) AS n_lines
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderstatus = 'F'
    GROUP BY n_name
    """,
)
def j5_multiway_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: star-schema enrich + aggregate (ext). Catalyst broadcasts
    every dimension under `autoBroadcastJoinThreshold` (10 MB). At
    sf0.1 that is all three, so the lineitem scan, the only large
    input, reaches the partial aggregate without a shuffle, with AQE
    on or off. At sf1 the cached orders and customer exceed the
    threshold: both joins plan as sort-merge and the fact side
    shuffles (97.8 MB written on 16 partitions, AQE on or off)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            fixed_sum("l_extendedprice * (1 - l_discount)", 10000, 2).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "j6_point_lookup",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
    FROM lineitem
    WHERE l_orderkey IN (10, 20, 30, 40, 50)
    """,
)
def j6_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: the reference's nested-loop folder search across all tenants
    (main.py:783-791) re-expressed as a broadcast semi-join of a probe
    set against one global table — at scale this is a pruned scan, not
    a per-tenant loop."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    probe = spark.createDataFrame(
        [(10,), (20,), (30,), (40,), (50,)], "l_orderkey bigint"
    )
    return lineitem.join(F.broadcast(probe), "l_orderkey", "left_semi").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity"
    )


@query(
    "j7_range_asof",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts, max(c.ts) AS asof_click_ts
    FROM events p
    LEFT JOIN events c
      ON c.user_id = p.user_id AND c.event_type = 'click' AND c.ts <= p.ts
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id, p.user_id, p.ts
    """,
)
def j7_range_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: as-of join — for each purchase, the latest click at-or-before
    it by the same user.

    NOT implemented as the oracle's theta join (which Spark would plan
    as a broadcast nested loop — O(purchases × clicks)). Instead the
    classic scalable rewrite: union both sides, one window partitioned
    by user ordered by (ts, side), running max of the click timestamp.
    One shuffle on user_id, linear work, no cross product — this is the
    shape that survives 100 TB.
    """
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.lit(None).cast("long").alias("event_id"),
        F.lit(0).alias("side"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.lit(1).alias("side")
    )
    # side=0 sorts clicks before purchases at equal ts → "<=" semantics.
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = clicks.unionByName(purchases).withColumn(
        "asof_click_ts",
        F.max(F.when(F.col("side") == 0, F.col("ts"))).over(w),
    )
    return merged.filter(F.col("side") == 1).select(
        "event_id", "user_id", "ts", "asof_click_ts"
    )


@query(
    "j8_skew_salted_join",
    oracle="""
    SELECT e.user_id, e.event_id, d.n_user_events
    FROM events e
    JOIN (SELECT user_id, count(*) AS n_user_events
          FROM events GROUP BY user_id) d
      ON e.user_id = d.user_id
    """,
)
def j8_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 (skew handling): a shuffle join made skew-proof by SALTING —
    the fact side's join key gains a random-free salt (hash-derived, so
    deterministic and replayable), the dimension side is replicated
    once per salt bucket, and the join runs on (key, salt). Hot keys
    spread across SALT partitions instead of one straggler task.
    Results are EXACTLY those of the plain join (the oracle), which is
    the point: salting is a physical rewrite, not a semantic one.
    AQE's skewJoin handles this automatically for sort-merge joins at
    runtime; explicit salting is for the cases AQE can't split (e.g.
    aggregations after the join keep the key partitioning).
    """
    salt_n = 8
    events = load_table(spark, sf_dir, "events")
    dim = events.groupBy("user_id").agg(F.count("*").alias("n_user_events"))

    salted_fact = events.select(
        "user_id",
        "event_id",
        F.pmod(F.xxhash64("event_id"), F.lit(salt_n)).alias("salt"),
    )
    salted_dim = dim.select(
        "user_id",
        "n_user_events",
        F.explode(F.sequence(F.lit(0), F.lit(salt_n - 1))).alias("salt"),
    ).withColumn("salt", F.col("salt").cast("long"))
    return salted_fact.join(salted_dim, ["user_id", "salt"]).select(
        "user_id", "event_id", "n_user_events"
    )


@query(
    "j9_interval_bucket_join",
    oracle="""
    WITH v AS (
      SELECT event_id AS v_id, user_id, ts AS v_ts
      FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT user_id, ts AS p_ts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT v.v_id, v.user_id,
           CAST(count(p.p_ts) AS BIGINT) AS n_purchases
    FROM v LEFT JOIN p
      ON p.user_id = v.user_id
     AND p.p_ts >= v.v_ts
     AND p.p_ts < v.v_ts + INTERVAL 1 HOUR
    GROUP BY v.v_id, v.user_id
    """,
)
def j9_interval_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9: interval-overlap join — purchases falling inside each
    click's 1-hour attribution window. The oracle's theta join is
    exactly what Spark would plan as a broadcast nested loop
    (O(clicks × purchases)); this is the scalable rewrite: BLOCK on
    the hour bucket. A 1-hour window spans at most two hour buckets,
    so each click explodes into ≤2 (user, bucket) probe keys, each
    purchase maps to exactly one, the join is a plain HASH join on
    (user_id, bucket), and the exact containment predicate filters
    inside the matched bucket — a purchase pairs with a window in at
    most one shared bucket, so no dedup is needed. Left-join back to
    the click side keeps zero-purchase windows at count 0.

    At 100 TB: work is ∝ matches + 2·|windows|, never |A|×|B|; skew
    on a hot (user, hour) is the j8 salting problem, same fix. This
    is the interval-join blocking every range-join engine (DuckDB's
    IEJoin, Databricks' range join hints) automates — expressed here
    with plain DataFrame ops so Catalyst plans it as equi-work."""
    events = load_table(spark, sf_dir, "events")
    hour = F.floor(F.unix_timestamp("ts") / 3600).cast("long")
    v = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("v_id"),
        "user_id",
        F.col("ts").alias("v_ts"),
        F.explode(
            F.array_distinct(F.array(hour, hour + 1))
        ).alias("bucket"),
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), hour.alias("bucket")
    )
    matched = (
        v.join(p, ["user_id", "bucket"])
        .filter(
            (F.col("p_ts") >= F.col("v_ts"))
            & (F.col("p_ts") < F.col("v_ts") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("v_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    windows = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("v_id"), "user_id"
    )
    return windows.join(matched, "v_id", "left").select(
        "v_id",
        "user_id",
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias(
            "n_purchases"
        ),
    )
