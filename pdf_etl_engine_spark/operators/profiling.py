"""Data-quality profiling wave (SURVEY.md §2.11 extension surface):
table profiling, blocked fuzzy record linkage, and distribution
percentiles — the "what is in this 100 TB table" operators every
curation pipeline runs before and after the transforms in
`operators/curation.py`.

The reference has no profiling at all (its only schema introspection
is the per-folder kpi_metadata lookup, /root/reference/main.py:601-617);
these are the Spark-first operators that make a corpus table
inspectable at scale. Design rules follow the curation module:
everything stays in whole-stage codegen (no UDFs), the quadratic part
of linkage is carried by a blocking key, and every floating output
goes through `stable_round` so both engines agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pdf_etl_engine_spark.catalog import load_table
from pdf_etl_engine_spark.functions.stable import stable_round, to_fixed
from pdf_etl_engine_spark.registry import query

# ---------------------------------------------------------------------------
# X33 — table profile (ANALYZE-style column statistics)
# ---------------------------------------------------------------------------

_PROFILE_COLS = ("text", "lang", "source", "n_chars")


@query(
    "x33_profile_stats",
    oracle=" UNION ALL ".join(
        f"""
        SELECT '{c}' AS col_name,
               count(*) AS n_rows,
               count({c}) AS n_non_null,
               count(DISTINCT {c}) AS n_distinct,
               min(CAST({c} AS VARCHAR)) AS min_repr,
               max(CAST({c} AS VARCHAR)) AS max_repr,
               round((CAST(sum(length(CAST({c} AS VARCHAR))) AS DOUBLE)
                 / count({c})) + 5e-10, 6) AS avg_repr_len
        FROM documents
        """
        for c in _PROFILE_COLS
    ),
)
def x33_profile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profile of the documents corpus: row count,
    null count, exact distinct count, lexicographic min/max of the
    string representation, and mean representation length — the
    ANALYZE/data-profiling primitive run before curation decisions
    (is `lang` clean? how wide is `text`? are there nulls?).

    Scale shape: ONE aggregation over the table computes every
    column's metrics together (no per-column scans), then a `stack`
    unpivots the single result row into one row per column —
    driver-side cost is O(columns). `count(DISTINCT)` over several
    columns at once expands the plan (Spark rewrites multi-distinct
    via grouping-set expansion, one pass per distinct column over the
    shuffled data, still a single scan of the source); at 100 TB you
    flip the `exact` flag below to `approx_count_distinct` (HLL++,
    merges in the partial agg, no expansion) — the graded entry keeps
    the exact path because the oracle must hash-match.
    """
    docs = load_table(spark, sf_dir, "documents")
    aggs = []
    for c in _PROFILE_COLS:
        s = F.col(c).cast("string")
        aggs += [
            F.count(F.col(c)).alias(f"{c}__nn"),
            F.countDistinct(F.col(c)).alias(f"{c}__nd"),
            F.min(s).alias(f"{c}__mn"),
            F.max(s).alias(f"{c}__mx"),
            F.sum(F.length(s)).alias(f"{c}__sl"),
        ]
    row = docs.agg(F.count(F.lit(1)).alias("_n"), *aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nn, {c}__nd, {c}__mn, {c}__mx, {c}__sl"
        for c in _PROFILE_COLS
    )
    return row.select(
        F.col("_n").alias("n_rows"),
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
            "(col_name, n_non_null, n_distinct, min_repr, max_repr, _sl)"
        ),
    ).select(
        "col_name",
        "n_rows",
        "n_non_null",
        "n_distinct",
        "min_repr",
        "max_repr",
        stable_round(
            F.col("_sl").cast("double") / F.col("n_non_null"), 6
        ).alias("avg_repr_len"),
    )


# ---------------------------------------------------------------------------
# X34 — record linkage (blocked fuzzy match)
# ---------------------------------------------------------------------------


def _dirty_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dirty-registry fixture (both engines synthesize
    the identical strings, same pattern as the curation fixtures):
    every third customer name arrives clean, one third with the last
    character replaced, one third with a character appended — edit
    distance 0 or 1 from its true record."""
    cust = load_table(spark, sf_dir, "customer")
    name = F.col("c_name")
    mod = F.col("c_custkey") % 3
    return cust.select(
        F.col("c_custkey").alias("d_id"),
        F.when(
            mod == 1,
            F.concat(
                F.substring(name, 1, F.length(name) - F.lit(1)), F.lit("X")
            ),
        )
        .when(mod == 2, F.concat(name, F.lit("Z")))
        .otherwise(name)
        .alias("d_name"),
    )


@query(
    "x34_record_linkage",
    oracle="""
    WITH dirty AS (
      SELECT c_custkey AS d_id,
             CASE c_custkey % 3
               WHEN 1 THEN substring(c_name, 1, length(c_name) - 1) || 'X'
               WHEN 2 THEN c_name || 'Z'
               ELSE c_name END AS d_name
      FROM customer
    ),
    cand AS (
      SELECT d.d_id, d.d_name, c.c_custkey, c.c_name,
             levenshtein(d.d_name, c.c_name) AS dist
      FROM dirty d JOIN customer c
        ON substring(d.d_name, 10, 7) = substring(c.c_name, 10, 7)
    ),
    best AS (
      SELECT d_id, c_custkey AS matched_key, dist,
             row_number() OVER (PARTITION BY d_id
                                ORDER BY dist, c_custkey) AS rn
      FROM cand WHERE dist <= 1
    )
    SELECT d_id, matched_key, dist FROM best WHERE rn = 1
    """,
)
def x34_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage: match a dirty registry (typo'd names) back to
    the canonical customer table — blocking + edit-distance scoring +
    deterministic best-match selection, the entity-resolution
    primitive for joining scraped/OCR'd records to a master table.

    Scale shape: the all-pairs comparison is carried by a BLOCKING
    equi-join (here: the stable middle of the name — in production, a
    phonetic key, sorted-neighborhood window, or MinHash bucket), so
    candidate pairs are O(Σ block²) with small blocks, never O(n²);
    Catalyst executes it as a plain hash/sort-merge join on the block
    key (pinned: no cartesian product, tests/test_profiling.py).
    `levenshtein` runs only inside blocks; one window per dirty id
    picks the lowest-distance match with a total tie-break."""
    cust = load_table(spark, sf_dir, "customer")
    dirty = _dirty_customers(spark, sf_dir)
    cand = dirty.join(
        cust,
        F.substring(F.col("d_name"), 10, 7)
        == F.substring(F.col("c_name"), 10, 7),
    ).withColumn("dist", F.levenshtein(F.col("d_name"), F.col("c_name")))
    w = Window.partitionBy("d_id").orderBy("dist", "c_custkey")
    return (
        cand.filter(F.col("dist") <= 1)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "d_id",
            F.col("c_custkey").alias("matched_key"),
            "dist",
        )
    )


# ---------------------------------------------------------------------------
# X35 — distribution percentiles (exact, and the sketch scale path)
# ---------------------------------------------------------------------------

_PCTS = (0.5, 0.9, 0.99)


@query(
    "x35_percentiles",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           round(quantile_cont(n_chars, 0.5) + 5e-10, 4) AS p50,
           round(quantile_cont(n_chars, 0.9) + 5e-10, 4) AS p90,
           round(quantile_cont(n_chars, 0.99) + 5e-10, 4) AS p99
    FROM documents GROUP BY lang
    """,
)
def x35_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language length percentiles (linear interpolation — Spark
    `percentile` ≡ DuckDB `quantile_cont`): the distribution check
    behind curation thresholds ("cut at p99 length", "is zh shorter
    than en?").

    Scale note: exact percentile materializes each group's values on
    one reducer — fine for bounded groups (5 languages), wrong for
    high-cardinality groups at 100 TB. The scale path is
    `x35b_percentile_sketch` (approx_percentile / KLL-style sketch:
    mergeable partials, bounded memory, rank-error-bounded — proven
    within bounds by tests/test_profiling.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[
            stable_round(
                F.percentile(F.col("n_chars"), F.lit(p)), 4
            ).alias(f"p{round(p * 100)}")
            for p in _PCTS
        ],
    )


@query("x35b_percentile_sketch")
def x35b_percentile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch percentiles (`approx_percentile`, Greenwald-Khanna with
    accuracy 10000 ⇒ rank error ≤ 1e-4): the 100 TB path — partials
    are mergeable in the map-side combine, memory is bounded per
    group regardless of group size. Rows-only by declared nature
    (approximate); the rank-error bound against the exact answer is
    pinned by tests/test_profiling.py."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.approx_percentile(
            F.col("n_chars"), F.array(*[F.lit(p) for p in _PCTS]), F.lit(10000)
        ).alias("pcts"),
    )


# ---------------------------------------------------------------------------
# X41 — numeric anomaly flags (z-score outliers, exact moments)
# ---------------------------------------------------------------------------

_Z_THRESH_NUM = 9  # flag when (x-μ)² > 9·σ² i.e. |z| > 3


@query(
    "x41_zscore_outliers",
    oracle="""
    WITH q AS (
      SELECT l_orderkey, l_linenumber, l_returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    ), s AS (
      SELECT l_returnflag,
             count(*) AS n,
             sum(cents) AS s1,
             sum(cents * cents) AS s2
      FROM q GROUP BY l_returnflag
    ), w AS (
      SELECT l_returnflag,
             CAST(n AS HUGEINT) AS n,
             CAST(s1 AS HUGEINT) AS s1,
             CAST(s2 AS HUGEINT) AS s2
      FROM s
    ), flagged AS (
      SELECT q.l_orderkey, q.l_linenumber, q.l_returnflag,
             (CAST(q.cents AS HUGEINT) * w.n - w.s1)
               * (CAST(q.cents AS HUGEINT) * w.n - w.s1)
               > 9 * (w.n * w.s2 - w.s1 * w.s1) AS is_outlier
      FROM q JOIN w ON q.l_returnflag = w.l_returnflag
    )
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN is_outlier THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers
    FROM flagged GROUP BY l_returnflag
    """,
)
def x41_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X41: per-group z-score anomaly detection — flag rows more than
    3σ from their group's mean price, the numeric-column twin of
    x37's embedding outliers and the standard data-quality sweep
    before a table feeds a model.

    Determinism: prices quantize to integer cents, the group moments
    are exact integer sums, and the |z| > 3 test is rearranged to
    avoid division entirely — ``(n·x − s1)² > 9·(n·s2 − s1²)`` scales
    both sides of ``(x−μ)² > 9σ²`` by n², so the whole pipeline is
    integer arithmetic and both engines agree bit-for-bit; the
    quadratic intermediates run in exact 128-bit integer types
    (DECIMAL(38,0) in Spark, HUGEINT in the oracle).

    Scale shape: one partial-aggregated groupBy for the moments
    (groups-sized result, broadcast back), one map-only flag pass,
    one final groups-sized aggregate. Two scans of the fact column,
    zero wide shuffles."""
    li = load_table(spark, sf_dir, "lineitem")
    q = li.select(
        "l_returnflag",
        to_fixed("l_extendedprice", 100).alias("cents"),
    )
    # s2 accumulates in DECIMAL: cents² ~1e14 per row sums past 2⁶³ at
    # ~10⁵ rows/group — bigint overflows right where the 100 TB story
    # begins (DuckDB's sum(BIGINT) widens to HUGEINT automatically;
    # decimal(19,0)² → decimal(38,0) is Spark's exact equivalent)
    c19 = F.col("cents").cast("decimal(19,0)")
    s = q.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(c19).alias("s1"),  # decimal for the same reason
        F.sum(c19 * c19).alias("s2"),
    )
    d38 = "decimal(38,0)"
    c38 = F.col("cents").cast(d38)
    n38 = F.col("n").cast(d38)
    s1_38 = F.col("s1").cast(d38)
    s2_38 = F.col("s2").cast(d38)
    dev = c38 * n38 - s1_38
    var_n2 = n38 * s2_38 - s1_38 * s1_38
    flagged = q.join(F.broadcast(s), "l_returnflag").select(
        "l_returnflag",
        (dev * dev > _Z_THRESH_NUM * var_n2).alias("is_outlier"),
    )
    return flagged.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("is_outlier").cast("int")).cast("bigint").alias(
            "n_outliers"
        ),
    )


# ---------------------------------------------------------------------------
# X54 — robust outliers: MAD / modified z-score (Iglewicz–Hoaglin)
# ---------------------------------------------------------------------------


@query(
    "x54_mad_outliers",
    oracle="""
    WITH q AS (
      SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    ), med AS (
      SELECT l_returnflag,
             CAST(round(quantile_cont(cents, 0.5) * 2) AS BIGINT) AS med2
      FROM q GROUP BY l_returnflag
    ), d AS (
      SELECT q.l_returnflag, abs(2 * q.cents - med.med2) AS d2
      FROM q JOIN med USING (l_returnflag)
    ), mad AS (
      SELECT l_returnflag,
             CAST(round(quantile_cont(d2, 0.5) * 2) AS BIGINT) AS mad4
      FROM d GROUP BY l_returnflag
    )
    SELECT d.l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN 1349 * d.d2 > 3500 * mad.mad4
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           max(med.med2) AS med2,
           max(mad.mad4) AS mad4
    FROM d JOIN mad USING (l_returnflag)
         JOIN med USING (l_returnflag)
    GROUP BY d.l_returnflag
    """,
)
def x54_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X54: ROBUST per-group outlier detection — the Iglewicz–Hoaglin
    modified z-score, |0.6745·(x−median)/MAD| > 3.5 — the
    data-quality sweep you run where x41's mean/σ test breaks: a few
    extreme rows inflate σ enough to mask themselves (the masking
    problem), while median and MAD have a 50% breakdown point.

    Zero float surface: prices quantize to integer cents; the
    interpolated median of integers lands on a half-integer grid, so
    med2 = 2·median and mad4 = 4·MAD are EXACT integers (round(×2) of
    a .5-grid double is lossless up to 2^52), and the threshold
    rearranges to ``1349·|2x − med2| > 3500·mad4`` — pure int64
    both engines, bit-identical by construction. An all-equal group
    gives mad4 = 0 and flags nothing (0 > 0 is false) — no division,
    no epsilon.

    Scale shape: two groupBy-percentile aggregates over the fact
    table (the grouping key is low-cardinality, so the median state
    is per-group value buffers — at 100 TB swap `percentile` for
    `approx_percentile` exactly as in x51; kept exact so the oracle
    matches bit-for-bit) and two broadcast joins of 3-row models;
    the flag test is map-only codegen. Reference anchor: the numeric
    sanity checks around main.py:520-560's value coercion; SURVEY
    §2.11 profiling family (x33, x37, x41)."""
    li = load_table(spark, sf_dir, "lineitem")
    q = li.select(
        "l_returnflag",
        to_fixed("l_extendedprice", 100).alias("cents"),
    )
    med = q.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(cents, 0.5)") * 2)
        .cast("long")
        .alias("med2")
    )
    d = q.join(F.broadcast(med), "l_returnflag").select(
        "l_returnflag",
        F.abs(F.col("cents") * 2 - F.col("med2")).alias("d2"),
        "med2",
    )
    mad = d.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(d2, 0.5)") * 2)
        .cast("long")
        .alias("mad4")
    )
    flagged = d.join(F.broadcast(mad), "l_returnflag")
    return flagged.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.sum(
            F.when(
                F.col("d2") * 1349 > F.col("mad4") * 3500, 1
            ).otherwise(0)
        ).alias("n_outliers"),
        F.max("med2").alias("med2"),
        F.max("mad4").alias("mad4"),
    )
