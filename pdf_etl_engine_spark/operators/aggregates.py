"""Aggregations (SURVEY.md §2.4).

The reference's only aggregates are existence counts (main.py:544,
800); A2-A6 are the extension inventory. Spark's hash aggregate does
partial (map-side) + final aggregation automatically — the shuffle
carries one row per group per task, not the raw data, which is the
property that matters at 100 TB. Floating aggregates are rounded in
both engines (oracle-drift rule, SURVEY.md §7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_etl_engine_spark.catalog import load_table, table_path
from pdf_etl_engine_spark.functions.stable import (
    fixed_avg,
    fixed_mean,
    fixed_sum,
    sql_to_fixed,
)
from pdf_etl_engine_spark.registry import query

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@query(
    "a1_count_exists",
    oracle="""
    SELECT count(*) AS n_rows, count(*) > 0 AS has_rows
    FROM orders WHERE o_custkey = 7
    """,
)
def a1_count_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: the reference's existence check `len(list(query)) > 0`
    (main.py:544, 800) — as an aggregate, not a client-side list."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(F.col("o_custkey") == 7).agg(
        F.count("*").alias("n_rows"),
        (F.count("*") > 0).alias("has_rows"),
    )


@query(
    "a2_groupby_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round((CAST(sum(CAST(round((l_quantity) * 100) AS BIGINT)) AS DOUBLE) / 100) + 5e-10, 2) AS sum_qty,
           round((CAST(sum(CAST(round((l_extendedprice) * 100) AS BIGINT)) AS DOUBLE) / 100) + 5e-10, 2) AS sum_base_price,
           CAST((sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT))
                 + CASE WHEN sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)) < 0 THEN -50 ELSE 50 END) // 100
                AS DOUBLE) / 100 AS sum_disc_price,
           round((CAST(sum(CAST(round((l_quantity) * 100) AS BIGINT)) AS DOUBLE) / 100) / count(l_quantity) + 5e-10, 4) AS avg_qty,
           round((CAST(sum(CAST(round((l_discount) * 100) AS BIGINT)) AS DOUBLE) / 100) / count(l_discount) + 5e-10, 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-31 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def a2_groupby_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: filter + groupBy + multi-agg (TPC-H Q1 shape). The shipdate
    predicate pushes to the parquet scan; partial aggregation reduces
    600k rows to 6 groups before the shuffle."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("2000-12-31").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            fixed_sum("l_quantity", 100, 2).alias("sum_qty"),
            fixed_sum("l_extendedprice", 100, 2).alias("sum_base_price"),
            fixed_sum("l_extendedprice * (1 - l_discount)", 10000, 2).alias("sum_disc_price"),
            fixed_avg("l_quantity", 100, 4).alias("avg_qty"),
            fixed_avg("l_discount", 100, 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "a3_count_distinct",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events,
           round((CAST(sum(CAST(round((value) * 100) AS BIGINT)) AS DOUBLE) / 100) / count(value) + 5e-10, 4) AS avg_value
    FROM events GROUP BY event_type
    """,
)
def a3_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: exact distinct count per group, written as the two-level
    aggregation (pre-aggregate on (group, key), then count groups)
    instead of `countDistinct` — same result, but avoids the Expand
    node and one shuffle stage, and at 100 TB the first level gets
    map-side partial aggregation on the composite key."""
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("event_type", "user_id").agg(
        F.count("*").alias("c"),
        F.count("value").alias("cv"),
        F.expr(f"sum({sql_to_fixed('value', 100)})").alias("s"),
    )
    return per_user.groupBy("event_type").agg(
        F.count("*").alias("n_users"),
        F.sum("c").alias("n_events"),
        # the mean of the exact per-user sums
        fixed_mean("sum(s)", 100, "sum(cv)", 4).alias("avg_value"),
    )


@query("a4_approx_count_distinct")  # rows-only: estimator differs by engine
def a4_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: HyperLogLog++ distinct estimate — the 100 TB substitute for
    A3 (no exact-distinct shuffle; fixed-size sketches merge)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users")
    )


@query(
    "a5_rollup",
    oracle="""
    SELECT r_name, n_name,
           count(*) AS n_customers,
           round((CAST(sum(CAST(round((c_acctbal) * 100) AS BIGINT)) AS DOUBLE) / 100) + 5e-10, 2) AS sum_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def a5_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: hierarchical rollup (region → nation → grand total)."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return joined.rollup("r_name", "n_name").agg(
        F.count("*").alias("n_customers"),
        fixed_sum("c_acctbal", 100, 2).alias("sum_acctbal"),
    )


@query(
    "a58_cube_grouping_sets",
    oracle="""
    SELECT r_name, n_name,
           count(*) AS n_customers,
           round((CAST(sum(CAST(round((c_acctbal) * 100) AS BIGINT)) AS DOUBLE) / 100) + 5e-10, 2) AS sum_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY GROUPING SETS ((r_name, n_name), (r_name), (n_name), ())
    """,
)
def a58_cube_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5+A8 graded together: explicit grouping sets spelling out the
    full cube of (region, nation) — which contains the ROLLUP hierarchy
    (region → nation → grand total) as a subset plus the nation-only
    marginal. One aggregation pass: Spark's Expand turns each input row
    into one row per grouping set before the partial agg, so the
    exchange still carries pre-aggregated partials. a5_rollup/a5b_cube/
    a8_grouping_sets remain registered for local parity."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return joined.groupingSets(
        [["r_name", "n_name"], ["r_name"], ["n_name"], []],
        "r_name",
        "n_name",
    ).agg(
        F.count("*").alias("n_customers"),
        fixed_sum("c_acctbal", 100, 2).alias("sum_acctbal"),
    )


@query(
    "a6_kv_pivot",
    oracle="""
    SELECT user_id,
           round((CAST(sum(CAST(round((CASE WHEN event_type = 'click' THEN value END) * 100) AS BIGINT)) AS DOUBLE) / 100) + 5e-10, 4) AS click,
           round((CAST(sum(CAST(round((CASE WHEN event_type = 'error' THEN value END) * 100) AS BIGINT)) AS DOUBLE) / 100) + 5e-10, 4) AS error,
           round((CAST(sum(CAST(round((CASE WHEN event_type = 'purchase' THEN value END) * 100) AS BIGINT)) AS DOUBLE) / 100) + 5e-10, 4) AS purchase,
           round((CAST(sum(CAST(round((CASE WHEN event_type = 'signup' THEN value END) * 100) AS BIGINT)) AS DOUBLE) / 100) + 5e-10, 4) AS signup,
           round((CAST(sum(CAST(round((CASE WHEN event_type = 'view' THEN value END) * 100) AS BIGINT)) AS DOUBLE) / 100) + 5e-10, 4) AS view
    FROM events GROUP BY user_id
    """,
)
def a6_kv_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: key-value → wide-row pivot — the reference's row build turns
    one PDF's `{kpi: value}` map into one wide row (main.py:726-741).
    Pivot values are declared explicitly: an unlisted-values pivot
    needs an extra distinct pass over 100 TB."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(fixed_sum("value", 100, 4))
    )
