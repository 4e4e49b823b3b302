"""Scalar-kernel queries (SURVEY.md §2.8): the reference's coercion and
inference kernels run as whole-column Catalyst expressions and graded
against DuckDB renderings of the same rules.

This is the reference's real computational core — `convert_value_for_bq`
(main.py:219-250) and `infer_kpi_type_fallback` (main.py:165-202) — but
instead of per-row Python at RPC speed, each kernel is one codegen'd
expression over the column. Inputs are the shared synthetic fixtures
(operators/synth.py) so both engines see identical strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_etl_engine_spark.catalog import load_table, table_path
from pdf_etl_engine_spark.functions import kernel
from pdf_etl_engine_spark.operators import synth
from pdf_etl_engine_spark.functions.stable import fixed_sum
from pdf_etl_engine_spark.registry import query


@query(
    "f2_coerce_number",
    oracle=f"""
    WITH vals AS (
      SELECT l_returnflag, {synth.CURRENCY_EXPR} AS raw_value FROM lineitem
    ), parsed AS (
      SELECT l_returnflag, {synth.sql_to_number('raw_value')} AS num FROM vals
    )
    SELECT l_returnflag,
           count(num) AS n_parsed,
           CAST(count(*) - count(num) AS BIGINT) AS n_null,
           round((CAST(sum(CAST(round((num) * 100) AS BIGINT)) AS DOUBLE) / 100) + 5e-10, 2) AS total
    FROM parsed GROUP BY l_returnflag
    """,
)
def f2_coerce_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2/F3: numeric coercion — currency strip, percent, accounting
    negatives, sentinel→NULL, unparseable→NULL (main.py:229-239)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    # the strip gets a projection of its own: the parse reads its
    # result six times, so the optimizer does not inline it and every
    # row runs the regex once
    vals = lineitem.select(
        "l_returnflag",
        kernel.clean_numeric(F.expr(synth.CURRENCY_EXPR)).alias("cleaned"),
    )
    parsed = vals.select(
        "l_returnflag", kernel.cleaned_to_number(F.col("cleaned")).alias("num")
    )
    return parsed.groupBy("l_returnflag").agg(
        F.count("num").alias("n_parsed"),
        (F.count("*") - F.count("num")).alias("n_null"),
        fixed_sum("num", 100, 2).alias("total"),
    )


@query(
    "f5_parse_date",
    oracle=f"""
    WITH vals AS (
      SELECT o_orderkey, {synth.DATE_STR_EXPR} AS raw_value FROM orders
    ), parsed AS (
      SELECT o_orderkey, {synth.sql_parse_date('raw_value')} AS d FROM vals
    )
    SELECT CAST(year(d) AS INTEGER) AS parse_year,
           count(*) AS n,
           count(DISTINCT d) AS n_days
    FROM parsed GROUP BY 1
    """,
)
def f5_parse_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: date coercion via the explicit format chain (stand-in for
    dateutil fuzzy parse, main.py:241-247); unparseable → NULL bucket."""
    orders = load_table(spark, sf_dir, "orders")
    vals = orders.select(
        "o_orderkey", F.expr(synth.DATE_STR_EXPR).alias("raw_value")
    )
    parsed = vals.select(
        "o_orderkey", kernel.parse_date(F.col("raw_value")).alias("d")
    )
    return parsed.groupBy(
        F.year("d").alias("parse_year")
    ).agg(
        F.count("*").alias("n"),
        F.countDistinct("d").alias("n_days"),
    )


@query(
    "f58_fenced_json_dates",
    oracle=f"""
    WITH vals AS (
      SELECT o_orderkey,
             concat('```json', chr(10), '{{"d": "', {synth.DATE_STR_EXPR},
                    '"}}', chr(10), '```') AS fenced
      FROM orders
    ), stripped AS (
      SELECT o_orderkey,
             json_extract_string(
               regexp_replace(fenced, '```json\\s*|```', '', 'g'),
               '$.d') AS raw_value
      FROM vals
    ), parsed AS (
      SELECT o_orderkey, {synth.sql_parse_date('raw_value')} AS d
      FROM stripped
    )
    SELECT CAST(year(d) AS INTEGER) AS parse_year,
           count(*) AS n,
           count(DISTINCT d) AS n_days
    FROM parsed GROUP BY 1
    """,
)
def f58_fenced_json_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5+F8+F9 graded together, chained exactly as the reference's
    extraction flow runs them: the LLM reply arrives fenced
    (main.py:141-145), is stripped, parsed as JSON (main.py:709-715),
    and each extracted value goes through the date format chain
    (main.py:241-247). One scan of `orders`, every step a codegen'd
    Column expression — strip → from_json map → element → parse_date →
    year bucket. f5/f8 remain registered for local parity."""
    orders = load_table(spark, sf_dir, "orders")
    fenced = F.concat(
        F.lit('```json\n{"d": "'),
        F.expr(synth.DATE_STR_EXPR),
        F.lit('"}\n```'),
    )
    raw = kernel.json_to_map(kernel.strip_md_fences(fenced)).getItem("d")
    parsed = orders.select(kernel.parse_date(raw).alias("d"))
    return parsed.groupBy(F.year("d").alias("parse_year")).agg(
        F.count("*").alias("n"),
        F.countDistinct("d").alias("n_days"),
    )


@query(
    "f13_infer_type",
    oracle=f"""
    WITH vals AS (
      SELECT doc_id, {synth.MIXED_EXPR} AS raw_value FROM documents
    )
    SELECT {synth.sql_infer_type('raw_value')} AS inferred_type,
           count(*) AS n
    FROM vals GROUP BY 1
    """,
)
def f13_infer_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13: the full type-inference decision tree (main.py:165-202) as
    one nested CASE expression — no UDF, stays in codegen."""
    docs = load_table(spark, sf_dir, "documents")
    vals = docs.select("doc_id", F.expr(synth.MIXED_EXPR).alias("raw_value"))
    return vals.groupBy(
        kernel.infer_type(F.col("raw_value")).alias("inferred_type")
    ).agg(F.count("*").alias("n"))


@query(
    "f213_infer_coerce",
    oracle=f"""
    WITH vals AS (
      SELECT doc_id, {synth.MIXED_EXPR} AS raw_value FROM documents
    ), t AS (
      SELECT {synth.sql_infer_type('raw_value')} AS inferred_type,
             {synth.sql_to_number('raw_value')} AS num
      FROM vals
    )
    SELECT inferred_type,
           count(*) AS n,
           count(num) AS n_numeric,
           round((CAST(sum(CAST(round((num) * 100) AS BIGINT)) AS DOUBLE) / 100)
                 + 5e-10, 2) AS num_total
    FROM t GROUP BY inferred_type
    """,
)
def f213_infer_coerce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13+F2 graded together on the same mixed-type fixture: the full
    inference decision tree (main.py:165-202) buckets every value, and
    the numeric-coercion kernel (main.py:229-239) runs over the same
    column — exactly the reference's infer-then-coerce ingest flow, as
    two codegen'd expressions sharing one scan."""
    docs = load_table(spark, sf_dir, "documents")
    raw = F.expr(synth.MIXED_EXPR)
    vals = docs.select(
        kernel.infer_type(raw).alias("inferred_type"),
        kernel.to_number(raw).alias("num"),
    )
    return vals.groupBy("inferred_type").agg(
        F.count("*").alias("n"),
        F.count("num").alias("n_numeric"),
        fixed_sum("num", 100, 2).alias("num_total"),
    )


@query(
    "f1011_path_email",
    oracle=f"""
    WITH rows_in AS (
      SELECT doc_id, {synth.PATH_EXPR} AS file_path,
             concat('Doc.', doc_id, '@Example.COM') AS email
      FROM documents
    )
    SELECT doc_id,
           string_split(file_path, '/')[2] AS uid,
           string_split(file_path, '/')[3] AS folder_id,
           string_split(file_path, '/')[len(string_split(file_path, '/'))]
             AS file_name,
           CAST(len(string_split(file_path, '/')) AS INTEGER) AS n_parts,
           regexp_replace(lower(email), '[@.]', '_', 'g') AS email_key,
           lower(email) AS email_lower
    FROM rows_in
    """,
)
def f1011_path_email(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10+F11 graded together: object-path decomposition
    (main.py:667-672, 728) and the email share-key sanitizer
    (main.py:74, 617) over one scan of `documents`."""
    docs = load_table(spark, sf_dir, "documents")
    rows_in = docs.select(
        "doc_id",
        F.expr(synth.PATH_EXPR).alias("file_path"),
        F.concat(F.lit("Doc."), F.col("doc_id"), F.lit("@Example.COM")).alias(
            "email"
        ),
    )
    p = kernel.path_parts(F.col("file_path"))
    return rows_in.select(
        "doc_id",
        p["uid"].alias("uid"),
        p["folder_id"].alias("folder_id"),
        p["file_name"].alias("file_name"),
        p["n_parts"].alias("n_parts"),
        kernel.sanitize_email(F.col("email")).alias("email_key"),
        F.lower(F.col("email")).alias("email_lower"),
    )


@query(
    "f10_split_path",
    oracle=f"""
    WITH paths AS (SELECT doc_id, {synth.PATH_EXPR} AS file_path FROM documents)
    SELECT doc_id,
           string_split(file_path, '/')[2] AS uid,
           string_split(file_path, '/')[3] AS folder_id,
           string_split(file_path, '/')[len(string_split(file_path, '/'))]
             AS file_name,
           CAST(len(string_split(file_path, '/')) AS INTEGER) AS n_parts
    FROM paths
    """,
)
def f10_split_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10: path decomposition (main.py:667-672, 728)."""
    docs = load_table(spark, sf_dir, "documents")
    paths = docs.select("doc_id", F.expr(synth.PATH_EXPR).alias("file_path"))
    p = kernel.path_parts(F.col("file_path"))
    return paths.select(
        "doc_id",
        p["uid"].alias("uid"),
        p["folder_id"].alias("folder_id"),
        p["file_name"].alias("file_name"),
        p["n_parts"].alias("n_parts"),
    )


@query(
    "f11_sanitize_email",
    oracle="""
    SELECT c_custkey,
           regexp_replace(lower(concat(c_name, '@Example.COM')), '[@.]', '_', 'g')
             AS email_key,
           lower(concat(c_name, '@Example.COM')) AS email_lower
    FROM customer
    """,
)
def f11_sanitize_email(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11: email lowering + `[@.]`→`_` share-key sanitizer
    (main.py:74, 617)."""
    customer = load_table(spark, sf_dir, "customer")
    email = F.concat(F.col("c_name"), F.lit("@Example.COM"))
    return customer.select(
        "c_custkey",
        kernel.sanitize_email(email).alias("email_key"),
        F.lower(email).alias("email_lower"),
    )


@query(
    "f8_strip_fences_json",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(
             regexp_replace(concat('```json', chr(10), props, chr(10), '```'),
                            '```json\\s*|```', '', 'g'),
             '$.k') AS INTEGER) AS k_val
    FROM events
    """,
)
def f8_strip_fences_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8/F9: strip LLM markdown fences then parse JSON to a map
    (main.py:141-145, 709-715). The fence wrap is synthesized around
    the real `props` payload; `from_json` to map<string,string> then
    element access — all JVM-side."""
    events = load_table(spark, sf_dir, "events")
    fenced = F.concat(
        F.lit("```json"), F.lit("\n"), F.col("props"), F.lit("\n"), F.lit("```")
    )
    stripped = kernel.strip_md_fences(fenced)
    kmap = kernel.json_to_map(stripped)
    return events.select(
        "event_id",
        kmap.getItem("k").try_cast("int").alias("k_val"),
    )
