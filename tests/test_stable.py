"""Exact fixed-point money aggregates (functions/stable.py).

* ``sql_to_fixed`` — the per-row scale-to-long — must return what
  ``CAST(round(x) AS BIGINT)`` returns on every double: checked on over
  a million random and adversarial values, with 0 mismatches allowed.
* ``fixed_sum`` rounds an exact scale-10⁴ sum to cents in integer
  arithmetic, half away from zero; on the two benchmark seeds whose
  sums hit an exact half-cent, engine and oracle must agree.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pdf_etl_engine_spark import catalog, registry
from pdf_etl_engine_spark.functions.stable import fixed_avg, fixed_sum, sql_to_fixed

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench"))
import analytics  # noqa: E402
import datagen  # noqa: E402

from test_oracle_parity import _normalize  # noqa: E402

registry.load_all()


def _raw_doubles(rng: np.random.Generator) -> np.ndarray:
    """Values rounded at scale 1: uniform, exact ties and their
    neighbours, and the hand-picked edges."""
    uniform = rng.uniform(-1e6, 1e6, 300_000)
    # ties k + 0.5 with |k| log-uniform up to 2^51, so every binade
    # where k + 0.5 is representable gets its share
    k = np.floor(np.exp2(rng.uniform(0, 51, 100_000)))
    k = np.concatenate([k, [0.0, 1.0, 2.0, 2.0**51 - 1, 2.0**51]])
    ties = np.concatenate([k + 0.5, -(k + 0.5)])
    edges = np.array([
        0.49999999999999994, -0.49999999999999994,
        2.0**52 + 1, -(2.0**52 + 1), 2.0**53 - 1,
        0.0, -0.0, 0.5, -0.5, 1.5, -1.5, 2.5, -2.5,
    ])
    return np.concatenate([
        uniform, ties, np.nextafter(ties, np.inf), np.nextafter(ties, -np.inf), edges,
    ])


def test_to_fixed_matches_round_on_a_million_doubles(spark, tmp_path):
    rng = np.random.default_rng(20261019)
    x = _raw_doubles(rng)
    # 2-decimal grid values, scaled by 100 and by 10^4
    g = np.round(rng.uniform(-1e6, 1e6, x.size), 2)
    path = str(tmp_path / "doubles.parquet")
    mask = np.zeros(x.size, dtype=bool)
    mask[0] = True  # one NULL in each column
    pq.write_table(
        pa.table({"x": pa.array(x, mask=mask), "g": pa.array(g, mask=mask)}), path
    )
    df = spark.read.parquet(path)

    def mismatches(col: str, scale: int) -> str:
        old = f"CAST(round({col} * {scale}) AS BIGINT)"
        return f"sum(CASE WHEN {sql_to_fixed(col, scale)} <=> {old} THEN 0 ELSE 1 END)"

    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.expr(mismatches("x", 1)).alias("x1"),
        F.expr(mismatches("g", 100)).alias("g100"),
        F.expr(mismatches("g", 10000)).alias("g10000"),
    ).collect()[0]
    assert row["n"] * 3 >= 1_000_000
    assert (row["x1"], row["g100"], row["g10000"]) == (0, 0, 0), row


def test_to_fixed_raises_on_nan_like_round(spark):
    prior = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        df = spark.createDataFrame([(math.nan,)], "x double")
        for expr in (sql_to_fixed("x", 100), "CAST(round(x * 100) AS BIGINT)"):
            with pytest.raises(Exception, match="CAST_OVERFLOW"):
                df.select(F.expr(expr)).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prior)


def test_fixed_sum_rounds_half_cents_away_from_zero(spark):
    # sums at scale 10^4: 0.0050 -> 0.01, 0.0049 -> 0.00, -0.0050 -> -0.01,
    # and a tie at 2·10⁹, where a 5e-10 nudge is below half an ulp
    df = spark.createDataFrame(
        [(1, 0.0025), (1, 0.0025), (2, 0.0049), (3, -0.0025), (3, -0.0025),
         (4, 1e9 + 0.0025), (4, 1e9 + 0.0025), (5, None)],
        "k int, v double",
    )
    got = dict(
        df.groupBy("k")
        .agg(fixed_sum("v", 10000, 2).alias("s"))
        .select("k", "s")
        .collect()
    )
    assert got == {1: 0.01, 2: 0.0, 3: -0.01, 4: 2000000000.01, 5: None}
    avg = df.filter("k = 1").agg(fixed_avg("v", 10000, 4).alias("a")).collect()[0]
    assert avg["a"] == 0.0025


@pytest.mark.parametrize("seed", [238, 2009173456])
def test_half_cent_tie_seeds_match_oracle(spark, tmp_path, seed):
    """The benchmark seeds whose scale-10⁴ discounted-price sums land
    on an exact half-cent (a2 groups R/O and A/O): a double-plus-nudge
    rounding loses the nudge at 10⁹ and rounds them down."""
    sf_dir = str(tmp_path / f"seed{seed}")
    # the benchmark's exact table set: each table's random stream
    # depends on the set it is generated with
    datagen.write_tables(seed, analytics.TABLES, sf_dir)
    con = duckdb.connect()
    try:
        for t in analytics.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for name in ("a2_groupby_pricing_summary", "j5_multiway_equi"):
            sdf = registry.QUERIES[name](spark, sf_dir)
            res = con.execute(registry.ORACLES[name])
            dcols = [d[0] for d in res.description]
            assert _normalize([tuple(r) for r in sdf.collect()], sdf.columns) == (
                _normalize(res.fetchall(), dcols)
            ), name
    finally:
        con.close()
        for key in [k for k in catalog._DF_CACHE if sf_dir in k]:
            catalog._DF_CACHE.pop(key).unpersist()
