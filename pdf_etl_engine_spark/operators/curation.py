"""Data-curation operators for LLM training pipelines (SURVEY.md §2.11
extension surface, second wave): PII redaction, benchmark-contamination
detection, boilerplate/HTML stripping, stratified sampling, leakage-free
dataset splits, TF-IDF distinctive terms, and Gopher-style intra-doc
repetition scoring.

These extend the reference's curation story (the reference's only text
processing is the fenced-JSON cleanup in main.py:563-571); everything
here is what a 100 TB pretraining-data pipeline layers on top. Design
rules shared by all operators in this module:

* All fixtures are synthesized deterministically from ``doc_id`` inside
  the query (both engines build the identical string), because the
  testdata corpus is clean word-soup — same pattern as the f2 paren
  fixtures.
* No O(n²) candidate generation: contamination uses an equi-join on the
  n-gram key (the benchmark side is broadcast — eval sets are tiny
  relative to the corpus); splits join on content key; everything else
  is per-row scalar work inside whole-stage codegen.
* Cross-engine determinism: integer arithmetic only for sampling keys
  and scores (Knuth multiplicative hash mod 2^32, ``div`` integer
  division), ``stable_round`` for the few ratio columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pdf_etl_engine_spark.catalog import load_table
from pdf_etl_engine_spark.functions.stable import stable_round
from pdf_etl_engine_spark.functions.texthash import (
    char_codes,
    kr_roll,
    kr_roll_sql,
    words as _words,
)
from pdf_etl_engine_spark.registry import query


def _ngrams(words: Column, n: int) -> Column:
    """Word n-grams as space-joined strings; empty array when the doc
    has fewer than ``n`` words (DuckDB twin: ``list_transform(range(1,
    greatest(len(ws)-n+2,1)), i -> array_to_string(list_slice(ws,i,
    i+n-1),' '))``). Stays inside codegen — no UDF."""
    size = F.size(words)
    idx = F.when(size >= n, F.sequence(F.lit(1), size - (n - 1))).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(idx, lambda i: F.array_join(F.slice(words, i, n), " "))


# ---------------------------------------------------------------------------
# X15 — PII detection + redaction
# ---------------------------------------------------------------------------

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+1-555-[0-9]{4}"
_SSN_RE = r"[0-9]{3}-[0-9]{2}-[0-9]{4}"
_IP_RE = r"([0-9]{1,3}\.){3}[0-9]{1,3}"


@query(
    "x15_pii_redact",
    oracle=f"""
    WITH fixture AS (
      SELECT doc_id, lang,
             text || ' Contact: user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or +1-555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  || ' ssn 123-45-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.17' AS pii_text
      FROM documents
    )
    SELECT doc_id, lang,
           CAST(len(regexp_extract_all(pii_text, '{_EMAIL_RE}')) AS INTEGER)
             AS n_emails,
           CAST(len(regexp_extract_all(pii_text, '{_PHONE_RE}')) AS INTEGER)
             AS n_phones,
           CAST(len(regexp_extract_all(pii_text, '{_SSN_RE}')) AS INTEGER)
             AS n_ssns,
           CAST(len(regexp_extract_all(pii_text, '{_IP_RE}')) AS INTEGER)
             AS n_ips,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(pii_text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                 '{_SSN_RE}', '<SSN>', 'g'),
               '{_PHONE_RE}', '<PHONE>', 'g'),
             '{_IP_RE}', '<IP>', 'g') AS redacted
    FROM fixture
    """,
)
def x15_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X15: PII scrubbing — detect and redact emails, US phone numbers,
    SSNs, and IPv4 addresses with chained ``regexp_replace``. The
    corpus is synthetic, so each doc gets a deterministic PII suffix
    built from ``doc_id`` and the scrubber is verified against it.

    Scale: pure per-row regex inside whole-stage codegen — no shuffle,
    no UDF; at 100 TB this is a map-only stage bounded by scan
    throughput. Redaction order matters (email before SSN/phone so the
    address's digits cannot be re-matched); both engines apply the same
    chain."""
    docs = load_table(spark, sf_dir, "documents")
    pii = F.concat(
        F.col("text"),
        F.lit(" Contact: user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ssn 123-45-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".17"),
    )
    fixture = docs.select("doc_id", "lang", pii.alias("pii_text"))

    def count_of(pat: str) -> Column:
        return F.size(
            F.regexp_extract_all(F.col("pii_text"), F.lit(pat), F.lit(0))
        )

    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("pii_text"), _EMAIL_RE, "<EMAIL>"),
                _SSN_RE,
                "<SSN>",
            ),
            _PHONE_RE,
            "<PHONE>",
        ),
        _IP_RE,
        "<IP>",
    )
    return fixture.select(
        "doc_id",
        "lang",
        count_of(_EMAIL_RE).alias("n_emails"),
        count_of(_PHONE_RE).alias("n_phones"),
        count_of(_SSN_RE).alias("n_ssns"),
        count_of(_IP_RE).alias("n_ips"),
        redacted.alias("redacted"),
    )


# ---------------------------------------------------------------------------
# X16 — benchmark contamination detection
# ---------------------------------------------------------------------------

@query(
    "x16_contamination",
    oracle="""
    WITH ws AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), w -> w <> '') AS toks
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, greatest(len(toks) - 3, 1)),
                    i -> array_to_string(list_slice(toks, i, i + 4), ' ')))
               AS g
      FROM ws
    ),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
    cand AS (SELECT * FROM grams WHERE doc_id % 97 <> 0)
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_ngrams,
           CAST(count(b.g) AS BIGINT) AS n_overlap,
           round(count(b.g) / count(*) + 5e-10, 4) AS overlap_ratio,
           count(b.g) * 4 >= count(*) AS contaminated
    FROM cand c LEFT JOIN bench b ON c.g = b.g
    GROUP BY c.doc_id
    """,
)
def x16_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X16: train/eval contamination check — the docs whose
    ``doc_id % 97 == 0`` stand in for a held-out benchmark; every other
    doc is scored by the fraction of its distinct word 5-grams that
    appear anywhere in the benchmark (the standard n-gram-overlap
    decontamination rule).

    Scale: the benchmark's distinct-5-gram set is tiny relative to a
    100 TB corpus (eval suites are MBs), so it is ``broadcast()`` and
    the whole check is a map-side hash join over the exploded candidate
    grams — no shuffle of corpus text, and the per-doc re-aggregation
    groups on ``doc_id``, which is the parquet write order, so AQE
    coalesces it cheaply."""
    docs = load_table(spark, sf_dir, "documents")
    grams = (
        docs.select(
            "doc_id", F.explode(_ngrams(_words(), 5)).alias("g")
        )
        .distinct()
    )
    bench = (
        grams.filter(F.col("doc_id") % 97 == 0).select("g").distinct()
        .withColumn("hit", F.lit(1))
    )
    cand = grams.filter(F.col("doc_id") % 97 != 0)
    joined = cand.join(F.broadcast(bench), "g", "left")
    n_overlap = F.count("hit")
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_ngrams"),
        n_overlap.alias("n_overlap"),
        stable_round(F.count("hit") / F.count("*"), 4).alias("overlap_ratio"),
        (F.count("hit") * 4 >= F.count("*")).alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# X17 — HTML/boilerplate stripping
# ---------------------------------------------------------------------------

@query(
    "x17_html_strip",
    oracle="""
    WITH fixture AS (
      SELECT doc_id,
             '<html><body><h1>Doc' || CAST(doc_id AS VARCHAR)
               || '</h1><p>' || text
               || '</p><script>var_x=1;</script><footer>(c)2024</footer>'
               || '</body></html>' AS raw_html
      FROM documents
    )
    SELECT doc_id,
           CAST(length(raw_html) AS INTEGER) AS n_raw_chars,
           CAST(length(trim(regexp_replace(regexp_replace(regexp_replace(
             raw_html, '<script>.*?</script>', '', 'g'),
             '<[^>]+>', chr(10), 'g'),
             '\\s+', chr(32), 'g'))) AS INTEGER) AS n_clean_chars,
           substr(trim(regexp_replace(regexp_replace(regexp_replace(
             raw_html, '<script>.*?</script>', '', 'g'),
             '<[^>]+>', chr(10), 'g'),
             '\\s+', chr(32), 'g')), 1, 40) AS clean_prefix
    FROM fixture
    """,
)
def x17_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X17: boilerplate removal — wrap each doc in a deterministic HTML
    shell (script block, header, footer), then strip: drop ``<script>``
    bodies (non-greedy), replace remaining tags with newlines, collapse
    whitespace, trim. The char-count delta is the boilerplate fraction
    a web-corpus cleaner reports.

    Scale: chained per-row regex, map-only, codegen'd — same posture as
    X15. The non-greedy scan is linear in doc length for both RE2
    (DuckDB) and the JDK engine at these pattern shapes."""
    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("<html><body><h1>Doc"),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit("</p><script>var_x=1;</script><footer>(c)2024</footer>"),
        F.lit("</body></html>"),
    )
    fixture = docs.select("doc_id", raw.alias("raw_html"))
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.col("raw_html"), r"<script>.*?</script>", ""
                ),
                r"<[^>]+>",
                "\n",
            ),
            r"\s+",
            " ",
        )
    )
    return fixture.select(
        "doc_id",
        F.length("raw_html").alias("n_raw_chars"),
        F.length(clean).alias("n_clean_chars"),
        F.substring(clean, 1, 40).alias("clean_prefix"),
    )


# ---------------------------------------------------------------------------
# X18 — stratified deterministic sampling
# ---------------------------------------------------------------------------

@query(
    "x18_stratified_sample",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, lang, source,
             ((doc_id % 1000003) * 2654435761) % 4294967296 AS skey
      FROM documents
    )
    SELECT doc_id, lang, source, CAST(sample_rank AS INTEGER) AS sample_rank
    FROM (
      SELECT doc_id, lang, source,
             row_number() OVER (PARTITION BY lang
                                ORDER BY skey, doc_id) AS sample_rank
      FROM keyed
    ) WHERE sample_rank <= 20
    """,
)
def x18_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X18: stratified fixed-size sampling — exactly 20 docs per ``lang``
    stratum, chosen by a Knuth multiplicative hash of ``doc_id`` (mod
    2^32) so the sample is deterministic, uniform-ish, and reproducible
    across engines and runs (integer arithmetic only; a production run
    would use ``xxhash64`` — the structure is identical).

    Scale: this is the top-k-per-group pattern (T3): partial top-20 per
    partition before the shuffle means the wire carries at most
    20 × n_partitions rows per stratum, not the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    skey = ((F.col("doc_id") % 1000003) * 2654435761) % F.lit(4294967296)
    w = Window.partitionBy("lang").orderBy("skey", "doc_id")
    return (
        docs.select("doc_id", "lang", "source", skey.alias("skey"))
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= 20)
        .select("doc_id", "lang", "source", "sample_rank")
    )


# ---------------------------------------------------------------------------
# X19 — leakage-free train/val/test split
# ---------------------------------------------------------------------------

@query(
    "x19_leakage_split",
    oracle="""
    WITH reps AS (
      SELECT text, min(doc_id) AS rep FROM documents GROUP BY text
    ),
    tagged AS (
      SELECT d.doc_id, d.lang, r.rep,
             CASE WHEN r.rep % 100 < 80 THEN 'train'
                  WHEN r.rep % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents d JOIN reps r ON d.text = r.text
    )
    SELECT split,
           count(*) AS n_docs,
           count(DISTINCT rep) AS n_clusters,
           CAST(count(*) - count(DISTINCT rep) AS BIGINT) AS n_extra_dups,
           count(DISTINCT lang) AS n_langs
    FROM tagged GROUP BY split
    """,
)
def x19_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X19: leakage-free dataset split — duplicate documents must land
    in the SAME split (else val/test leak into train). Cluster key is
    exact content (at 100 TB: a 128-bit content hash, same plan shape);
    the cluster representative's id decides the 80/10/10 split and every
    member inherits it via an equi-join on the content key.

    Scale: groupBy(text) and the join both shuffle on the content key —
    one shuffle each, identically partitioned, so AQE reuses the
    exchange. No window, no broadcast of anything corpus-sized."""
    docs = load_table(spark, sf_dir, "documents")
    reps = docs.groupBy("text").agg(F.min("doc_id").alias("rep"))
    split = (
        F.when(F.col("rep") % 100 < 80, "train")
        .when(F.col("rep") % 100 < 90, "val")
        .otherwise("test")
    )
    tagged = docs.join(reps, "text").select(
        "doc_id", "lang", "rep", split.alias("split")
    )
    return tagged.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("rep").alias("n_clusters"),
        (F.count("*") - F.countDistinct("rep")).alias("n_extra_dups"),
        F.countDistinct("lang").alias("n_langs"),
    )


# ---------------------------------------------------------------------------
# X20 — TF-IDF distinctive terms per language
# ---------------------------------------------------------------------------

@query(
    "x20_tfidf_terms",
    oracle="""
    WITH words AS (
      SELECT doc_id, lang,
             unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS w
      FROM documents
    ),
    tf AS (SELECT lang, w AS word, count(*) AS tf FROM words GROUP BY lang, w),
    df AS (SELECT w AS word, count(DISTINCT doc_id) AS df FROM words GROUP BY w),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT lang, word, tf, df,
             (tf * n_docs * 1000) // df AS score_milli
      FROM tf JOIN df USING (word) CROSS JOIN n
    )
    SELECT lang, word, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           CAST(score_milli AS BIGINT) AS score_milli
    FROM (
      SELECT *, row_number() OVER (PARTITION BY lang
                                   ORDER BY score_milli DESC, word) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
)
def x20_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X20: top-5 distinctive terms per language by TF-IDF with a linear
    idf (``tf * N / df``), kept in scaled integer arithmetic
    (``div``, milli-units) so both engines agree bit-for-bit — no
    float log in the graded output.

    Scale: tf and df are both partial-aggregated before their shuffles
    (word-keyed — bounded by vocabulary, not corpus). The tf⋈df join
    is word-keyed on BOTH sides with NO static broadcast hint
    (VERDICT r5 #5): a real corpus vocabulary — noise tokens included
    — can exceed any broadcast limit, so only the single-row N is
    unconditionally broadcast, and AQE is free to upgrade the df side
    to a runtime broadcast when its actual size qualifies. The final
    top-5 is a per-lang window over a vocabulary-sized frame."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", "lang", F.explode(_words()).alias("word")
    )
    tf = words.groupBy("lang", "word").agg(F.count("*").alias("tf"))
    df = words.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df, "word")
        .crossJoin(F.broadcast(n))
        .withColumn("score_milli", F.expr("tf * n_docs * 1000 div df"))
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("score_milli"), F.asc("word")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "word", "tf", "df", "score_milli")
    )


# ---------------------------------------------------------------------------
# X21 — intra-document repetition (Gopher-style quality rule)
# ---------------------------------------------------------------------------

@query(
    "x21_repetition",
    oracle="""
    WITH ws AS (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), w -> w <> '') AS toks
      FROM documents
    ),
    grams AS (
      SELECT doc_id, lang,
             unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                    i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
               AS g
      FROM ws
    )
    SELECT doc_id, lang,
           CAST(count(*) AS BIGINT) AS n_trigrams,
           count(DISTINCT g) AS n_distinct,
           round((count(*) - count(DISTINCT g)) / count(*) + 5e-10, 4)
             AS rep_ratio,
           (count(*) - count(DISTINCT g)) * 5 > count(*) AS too_repetitive
    FROM grams GROUP BY doc_id, lang
    """,
)
def x21_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X21: intra-doc repetition score — duplicate word-trigram fraction
    per document, the Gopher/MassiveText quality rule that catches
    boilerplate-heavy and looping machine-generated text (flag at
    >20 % duplicate trigrams).

    Scale: the trigram explode is per-doc and immediately re-grouped on
    ``doc_id`` — with the corpus already partitioned by doc this is a
    local aggregation (partial counts collapse before any wire
    transfer); nothing corpus-wide is shuffled."""
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", "lang", F.explode(_ngrams(_words(), 3)).alias("g")
    )
    n = F.count("*")
    nd = F.countDistinct("g")
    return grams.groupBy("doc_id", "lang").agg(
        n.alias("n_trigrams"),
        nd.alias("n_distinct"),
        stable_round((n - nd) / n, 4).alias("rep_ratio"),
        ((n - nd) * 5 > n).alias("too_repetitive"),
    )


@query(
    "x23_mixture_plan",
    oracle="""
    WITH per_src AS (
      SELECT source,
             count(*) AS n_docs,
             sum(len(list_filter(string_split(text, ' '),
                                 w -> w <> ''))) AS n_tokens
      FROM documents GROUP BY source
    ), tot AS (
      SELECT *, sum(n_tokens) OVER () AS corpus_tokens,
             count(*) OVER () AS n_sources
      FROM per_src
    )
    SELECT source, n_docs, n_tokens,
           round(CAST(n_tokens AS DOUBLE) / corpus_tokens + 5e-10, 6)
             AS corpus_frac,
           round(least(1.0, (10000.0 / n_sources) / n_tokens) + 5e-10, 6)
             AS sample_rate,
           CAST(round(least(1.0, (10000.0 / n_sources) / n_tokens)
                      * n_tokens, 0) AS BIGINT) AS sampled_tokens
    FROM tot
    """,
)
def x23_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X23: corpus mixture planning — the step before sampling a
    pretraining mix. Per-source token mass → corpus fraction → the
    per-source sampling rate that hits an equal-share token budget
    (10k tokens here — small enough that the rate<1 branch is the one
    exercised at every test SF), capped at 1.0 for under-represented sources
    (upsampling is a separate policy decision). This is the
    DoReMi/The-Pile-style accounting every large pretraining run does
    over its source taxonomy.

    Scale shape: stage 1 is a partial-aggregated groupBy(source) —
    token counting collapses map-side, the wire carries one row per
    source; stage 2's window runs over #sources rows (tens), not the
    corpus. Nothing corpus-wide is ever shuffled or re-read."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(_words())
    per_src = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(toks).alias("n_tokens"),
    )
    w = Window.partitionBy()
    budget_per_src = F.lit(10_000.0) / F.count("*").over(w)
    # a zero-token source must not abort the job under ANSI mode:
    # DuckDB's x/0 on DOUBLE is NULL and least() skips NULLs (rate
    # 1.0) — mirror that exactly instead of throwing DIVIDE_BY_ZERO
    rate = F.least(
        F.lit(1.0),
        F.when(
            F.col("n_tokens") != 0, budget_per_src / F.col("n_tokens")
        ),
    )
    return per_src.select(
        "source",
        "n_docs",
        "n_tokens",
        stable_round(
            F.col("n_tokens") / F.sum("n_tokens").over(w), 6
        ).alias("corpus_frac"),
        stable_round(rate, 6).alias("sample_rate"),
        F.round(rate * F.col("n_tokens"), 0).cast("bigint").alias(
            "sampled_tokens"
        ),
    )


@query(
    "x24_chunk_dedup",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM documents
    ), chunks AS (
      SELECT doc_id, lang,
             array_to_string(ws[(i - 1) * 20 + 1 : i * 20], ' ') AS chunk
      FROM toks,
           UNNEST(range(1, CAST(ceil(len(ws) / 20.0) AS BIGINT) + 1))
             AS t(i)
    ), shared AS (
      SELECT chunk FROM chunks
      GROUP BY chunk HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT c.lang,
           count(*) AS n_chunks,
           count(*) FILTER (WHERE c.chunk IN (SELECT chunk FROM shared))
             AS n_shared_chunks
    FROM chunks c GROUP BY c.lang
    """,
)
def x24_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X24: chunk-level (paragraph) dedup accounting — per language,
    how many 20-token chunks are shared verbatim across ≥2 documents.
    This is the boilerplate-removal primitive (headers, license
    blocks, navigation text recur across crawled pages even when whole
    documents differ) that document-level dedup (x2/x3) cannot see.

    Scale shape: chunking is a per-doc array transform (map-only);
    the shared-chunk detection shuffles once on the chunk key with
    map-side partial counts. At 100 TB the shuffle key would be
    ``sha2(chunk)``/``xxhash64(chunk)`` (16-64 bytes/chunk instead of
    the text — same groups, narrower wire); the oracle-graded form
    keys on text so both engines compare identical values."""
    docs = load_table(spark, sf_dir, "documents")
    ws = _words()
    n_chunks = F.ceil(F.size(ws) / F.lit(20.0)).cast("int")
    # gate on >=1 chunk: sequence(1, 0) runs DESCENDING ([1, 0]) and
    # would emit two phantom empty chunks per zero-word doc where the
    # oracle's range(1, 1) emits none
    chunk_arr = F.when(
        n_chunks >= 1,
        F.transform(
            F.sequence(F.lit(1), n_chunks),
            lambda i: F.concat_ws(" ", F.slice(ws, (i - 1) * 20 + 1, 20)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    chunks = docs.select(
        "doc_id", "lang", F.explode(chunk_arr).alias("chunk")
    )
    shared = (
        chunks.groupBy("chunk")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("chunk")
    )
    tagged = chunks.join(
        shared.withColumn("is_shared", F.lit(1)), "chunk", "left"
    )
    return tagged.groupBy("lang").agg(
        F.count("*").alias("n_chunks"),
        F.count("is_shared").alias("n_shared_chunks"),
    )


# ---------------------------------------------------------------------------
# X25 — sequence packing (training-batch assembly accounting)
# ---------------------------------------------------------------------------

_PACK_CAP = 256  # tokens per packed training sequence (toy-scale)


@query(
    "x25_sequence_pack",
    oracle=f"""
    WITH toks AS (
      SELECT source, doc_id,
             len(list_filter(string_split(text, ' '), w -> w <> ''))
               AS n_toks
      FROM documents
    ), c AS (
      SELECT source, doc_id, n_toks,
             sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum
      FROM toks
    )
    SELECT source,
           count(*) AS n_docs,
           sum(n_toks) AS n_tokens,
           CAST(ceil(CAST(max(cum) AS DOUBLE) / {_PACK_CAP}) AS BIGINT)
             AS n_sequences,
           count(*) FILTER (WHERE n_toks > 0
             AND floor((cum - 1) / {_PACK_CAP})
                 > floor((cum - n_toks) / {_PACK_CAP})) AS n_split_docs,
           round(CAST(sum(n_toks) AS DOUBLE)
                 / (ceil(CAST(max(cum) AS DOUBLE) / {_PACK_CAP})
                    * {_PACK_CAP}) + 5e-10, 6) AS avg_fill
    FROM c GROUP BY source
    """,
)
def x25_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X25: sequence-packing accounting — the concat-and-chop packing
    every GPT-style pretraining run performs: per source, documents
    are concatenated in a deterministic order (doc_id) and sliced into
    fixed-capacity token sequences. Reports, per source, the number of
    packed sequences the corpus yields, how many documents straddle a
    sequence boundary (those get split attention masks / need special
    handling), and the fill ratio (1.0 − padding waste). This is the
    planning signal for choosing capacity vs. padding-loss tradeoffs
    before launching a tokenization job over 100 TB.

    Scale shape: token counting is map-only; the only shuffle is the
    window's hash partition on ``source``. A single giant source would
    make one pack stream per source a straggler — at scale you shard
    each source into K independent pack streams (partitionBy(source,
    pmod(xxhash64(doc_id), K))), which changes nothing semantically
    (each stream is packed independently; counts add). The graded form
    keeps one stream per source so the DuckDB twin reproduces the
    identical cumulative sums."""
    docs = load_table(spark, sf_dir, "documents")
    n_toks = F.size(_words())
    d = docs.select("source", "doc_id", n_toks.alias("n_toks"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.withColumn("cum", F.sum("n_toks").over(w))
    cap = F.lit(_PACK_CAP)
    is_split = (F.col("n_toks") > 0) & (
        F.floor((F.col("cum") - 1) / cap)
        > F.floor((F.col("cum") - F.col("n_toks")) / cap)
    )
    n_seq = F.ceil(F.max("cum") / cap)
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
        n_seq.alias("n_sequences"),
        F.sum(is_split.cast("bigint")).alias("n_split_docs"),
        stable_round(
            F.when(
                n_seq != 0,
                F.sum("n_toks") / (n_seq * cap).cast("double"),
            ),
            6,
        ).alias("avg_fill"),
    )


# ---------------------------------------------------------------------------
# X26 — URL normalization + domain-blocklist filtering
# ---------------------------------------------------------------------------

_URL_HOSTS = [
    "Example.COM", "www.example.com", "news.site.org", "ads.tracker.net",
    "tracker.net", "blog.example.com", "cdn.spam.biz", "docs.site.org:443",
]
_URL_BLOCKLIST = ["tracker.net", "spam.biz"]


@query(
    "x26_url_blocklist",
    oracle=f"""
    WITH u AS (
      SELECT source,
             list_extract({_URL_HOSTS!r}, CAST(doc_id % 8 AS INTEGER) + 1)
               AS raw_host
      FROM documents
    ), n AS (
      SELECT source,
             regexp_replace(regexp_replace(lower(raw_host),
               ':[0-9]+$', ''), '^www\\.', '') AS host
      FROM u
    ), f AS (
      SELECT source, host,
             list_has_any(
               list_transform(
                 range(1, len(string_split(host, '.')) + 1),
                 i -> array_to_string(
                        list_slice(string_split(host, '.'), i,
                                   len(string_split(host, '.'))), '.')),
               {_URL_BLOCKLIST!r}) AS blocked
      FROM n
    )
    SELECT source,
           count(*) AS n_docs,
           count(*) FILTER (WHERE blocked) AS n_blocked,
           count(*) FILTER (WHERE NOT blocked) AS n_kept,
           count(DISTINCT CASE WHEN blocked THEN host END)
             AS n_blocked_hosts
    FROM f GROUP BY source
    """,
)
def x26_url_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X26: crawl-curation URL hygiene — normalize each document's
    source URL (lowercase host, strip default-ish port, strip a
    leading ``www.``) and drop documents whose host falls under a
    blocked registered domain INCLUDING subdomains
    (``ads.tracker.net`` is blocked by ``tracker.net``). URLs are
    synthesized deterministically from ``doc_id`` (both engines build
    the identical value — corpus has no URL column; same fixture
    pattern as x15/x16).

    Scale design — the subdomain match is NOT a LIKE-join: each host
    explodes into its domain-suffix chain (``a.b.c → [a.b.c, b.c,
    c]``, bounded by label count) and membership is an
    ``arrays_overlap`` against the constant blocklist — pure map-side
    codegen, zero shuffle before the final aggregate. A million-entry
    blocklist swaps the literal for a broadcast equi-join on the
    exploded suffix; either way no nested-loop LIKE scan."""
    docs = load_table(spark, sf_dir, "documents")
    raw_host = F.element_at(
        F.array(*[F.lit(h) for h in _URL_HOSTS]),
        (F.col("doc_id") % 8).cast("int") + 1,
    )
    host = F.regexp_replace(
        F.regexp_replace(F.lower(raw_host), ":[0-9]+$", ""),
        r"^www\.", "",
    )
    ws = F.split(host, r"\.")
    suffixes = F.transform(
        F.sequence(F.lit(1), F.size(ws)),
        lambda i: F.array_join(F.slice(ws, i, F.size(ws) - i + 1), "."),
    )
    blocked = F.arrays_overlap(
        suffixes, F.array(*[F.lit(b) for b in _URL_BLOCKLIST])
    )
    d = docs.select(
        "source", host.alias("host"), blocked.alias("blocked")
    )
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("blocked").cast("bigint")).alias("n_blocked"),
        F.sum((~F.col("blocked")).cast("bigint")).alias("n_kept"),
        F.countDistinct(
            F.when(F.col("blocked"), F.col("host"))
        ).alias("n_blocked_hosts"),
    )


# ---------------------------------------------------------------------------
# X27 — corpus-model surprisal (perplexity-style quality filter)
# ---------------------------------------------------------------------------


@query(
    "x27_ngram_surprisal",
    oracle="""
    WITH tris AS (
      SELECT doc_id, substr(text, CAST(i AS INTEGER), 3) AS tri
      FROM documents, UNNEST(range(1, len(text) - 1)) AS t(i)
      WHERE len(text) >= 3
    ), freq AS (
      SELECT tri, count(*) AS c FROM tris GROUP BY tri
    ), tot AS (SELECT sum(c) AS n FROM freq)
    SELECT doc_id,
           count(*) AS n_tris,
           round(CAST(sum(CAST(round(
                   (-log2(CAST(c AS DOUBLE) / n)) * 1000000) AS BIGINT))
                 AS DOUBLE) / 1000000 / count(*) + 5e-10, 4)
             AS avg_surprisal
    FROM tris JOIN freq USING (tri), tot
    GROUP BY doc_id
    """,
)
def x27_ngram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X27: perplexity-style quality scoring — the CCNet/KenLM filter
    in its deterministic, self-trained form. The corpus's own char
    -trigram distribution is the language model (no external model in
    this container); each document's score is its mean trigram
    surprisal, −log2 p(tri), under that model. Low = typical fluent
    text, high = gibberish/encoding junk — the standard pretraining
    quality signal after the rule-based x7 pass.

    Determinism across engines: per-trigram surprisals are rounded to
    1e-6 BEFORE the per-doc sum (fixed-point long accumulation —
    order-free), so libm last-ulp differences can't surface; the
    final 4-decimal round then sits ~1e-9 away from any boundary.

    Scale shape: ONE map-only Arrow kernel turns each document into
    its per-doc trigram COUNTS (doc-local pre-aggregation — the LSH
    bucket kernels' Arrow discipline applied to strings), so the only rows that
    ever shuffle are (doc_id, tri, k) with the trigram packed into a
    single BIGINT: three 21-bit Unicode code points in 63 bits, a
    bijection with the oracle's 3-char substring key, so every group
    and count is identical by construction. The r10 JVM form
    (explode(sequence)+substring → hash aggregate) pushed one row PER
    CHARACTER (15M at sf1) through the aggregate and measured 5.4× the
    oracle; the kernel emits the ~2× smaller per-doc-distinct set and
    hashes integers, not strings. The model table is corpus-bounded
    (distinct trigrams), NOT doc-bounded; at 100 TB you'd
    min-count-cutoff the tail before the join (same lever as x20's
    min-df) and let AQE pick broadcast vs shuffle. The total-mass
    scalar rides a single-row window over the aggregated model, never
    the corpus."""
    import numpy as np
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents")

    def count_tris(batches):
        # per-doc np.unique beats a batch-wide lexsort 6× (measured at
        # sf1: 1.2 s vs 6.9 s single-threaded for 50k docs / 15M chars)
        for batch in batches:
            dids, tris, ks = [], [], []
            for did, t in zip(batch["doc_id"].to_numpy(), batch["text"]):
                if t is None or len(t) < 3:
                    continue
                # utf-32-le = exact code points; packing matches
                # DuckDB's code-point substr(text, i, 3) 1:1
                codes = np.frombuffer(
                    t.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                u, k = np.unique(
                    (codes[:-2] << 42) | (codes[1:-1] << 21) | codes[2:],
                    return_counts=True,
                )
                dids.append(np.full(len(u), did, dtype=np.int64))
                tris.append(u)
                ks.append(k)
            if dids:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(dids),
                        "tri": np.concatenate(tris),
                        "k": np.concatenate(ks),
                    }
                )

    # scoring weights each rounded surprisal by its count
    # (k·round(lp) ≡ summing round(lp) k times — bit-identical to the
    # per-occurrence oracle)
    dt = docs.select("doc_id", "text").mapInPandas(
        count_tris, "doc_id bigint, tri bigint, k bigint"
    )
    # KNOWN double-execution, deliberate: dt feeds BOTH the model
    # aggregate and the score join, and their exchanges differ (one
    # has a partial aggregate) so ReuseExchange cannot deduplicate —
    # the Arrow kernel runs twice per execution. Materializing dt
    # (localCheckpoint) was tried in r12 and REVERTED: storing the
    # ~15M-row (doc_id, tri, k) relation OOMs a default-heap session
    # at sf1 (AGGREGATE_OUT_OF_MEMORY), while the second kernel pass
    # costs only ~1.4 s — recompute is strictly cheaper than storage
    # here. At 100 TB the model aggregate would be built once and
    # persisted as a table, not recomputed per query.
    w = Window.partitionBy()
    freq = (
        dt.groupBy("tri")
        .agg(F.sum("k").alias("c"))
        .withColumn("n", F.sum("c").over(w))
    )
    lp_fixed = F.round(
        -F.log2(F.col("c").cast("double") / F.col("n")) * 1_000_000
    ).cast("bigint")
    scored = dt.join(freq, "tri").select(
        "doc_id", "k", (F.col("k") * lp_fixed).alias("klp")
    )
    return scored.groupBy("doc_id").agg(
        F.sum("k").alias("n_tris"),
        stable_round(
            F.sum("klp").cast("double") / 1_000_000 / F.sum("k"), 4
        ).alias("avg_surprisal"),
    )


# ---------------------------------------------------------------------------
# X28 — containment near-dup (doc-inside-doc detection)
# ---------------------------------------------------------------------------


@query(
    "x28_containment_dedup",
    oracle="""
    WITH ws0 AS (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM documents
    ), snip AS (
      SELECT -doc_id - 1 AS doc_id, lang,
             ws[1:greatest(CAST(floor(len(ws) * 0.4) AS BIGINT), 5)] AS ws
      FROM ws0 WHERE doc_id % 7 = 0
    ), corpus AS (
      SELECT doc_id, lang, ws FROM ws0
      UNION ALL SELECT doc_id, lang, ws FROM snip
    ), grams AS (
      SELECT doc_id, lang,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(ws) - 4, 0) + 1),
               i -> array_to_string(list_slice(ws, i, i + 4), ' ')))) AS sh
      FROM corpus
    ), rare AS (
      SELECT sh FROM grams GROUP BY sh HAVING count(*) <= 10
    ), g2 AS (
      SELECT g.doc_id, g.lang, g.sh FROM grams g JOIN rare USING (sh)
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id
    ), pairs AS (
      SELECT a.doc_id AS da, b.doc_id AS db, a.lang AS lang,
             count(*) AS inter
      FROM g2 a JOIN g2 b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3
    ), scored AS (
      SELECT p.lang,
             CAST(p.inter AS DOUBLE) / least(sa.n, sb.n) AS containment
      FROM pairs p
      JOIN sizes sa ON p.da = sa.doc_id
      JOIN sizes sb ON p.db = sb.doc_id
      WHERE CAST(p.inter AS DOUBLE) / least(sa.n, sb.n) >= 0.8
    )
    SELECT lang, count(*) AS n_pairs,
           round(CAST(sum(CAST(round(containment * 1000000) AS BIGINT))
                 AS DOUBLE) / 1000000 / count(*) + 5e-10, 4)
             AS avg_containment
    FROM scored GROUP BY lang
    """,
)
def x28_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X28: CONTAINMENT near-dup — detects a document living inside
    another (quotes, repost chains, page-with-boilerplate absorbing an
    article), which symmetric Jaccard (x3c) misses because the union
    penalizes the size gap. Fixture: every 7th document spawns a
    40%-prefix snippet (both engines synthesize it identically —
    x16's pattern); detection must recover those pairs via 5-gram
    shingle intersection over min-size: |A∩B| / min(|A|,|B|) ≥ 0.8.

    Scale design: candidate pairs come ONLY from docs sharing a RARE
    shingle (document frequency ≤ 10 — the df cutoff that kills the
    boilerplate-shingle quadratic blowup, standard in suffix-array
    dedup pipelines); the pair aggregation shuffles on the shingle
    key with map-side partials. Per-pair ratios accumulate fixed-point
    (order-free) before the 4-decimal round, like x27."""
    docs = load_table(spark, sf_dir, "documents")
    ws = _words()
    base = docs.select("doc_id", "lang", ws.alias("ws"))
    snip = base.filter(F.col("doc_id") % 7 == 0).select(
        (-F.col("doc_id") - 1).alias("doc_id"),
        "lang",
        F.slice(
            F.col("ws"),
            1,
            F.greatest(
                F.floor(F.size("ws") * 0.4).cast("int"), F.lit(5)
            ),
        ).alias("ws"),
    )
    corpus = base.unionByName(snip)
    size = F.size("ws")
    idx = F.when(
        size >= 5, F.sequence(F.lit(1), size - 4)
    ).otherwise(F.array().cast("array<int>"))
    sh_arr = F.array_distinct(
        F.transform(
            idx, lambda i: F.array_join(F.slice(F.col("ws"), i, 5), " ")
        )
    )
    grams = corpus.select(
        "doc_id", "lang", F.explode(sh_arr).alias("sh")
    )
    rare = grams.groupBy("sh").count().filter(F.col("count") <= 10).select("sh")
    g2 = grams.join(rare, "sh")
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = g2.alias("a"), g2.alias("b")
    pairs = (
        a.join(b, "sh")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            F.col("a.lang").alias("lang"),
        )
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("da"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("db"), F.col("n").alias("nb"))
    containment = F.col("inter").cast("double") / F.least("na", "nb")
    scored = (
        pairs.join(sa, "da")
        .join(sb, "db")
        .filter(containment >= 0.8)
        .select("lang", containment.alias("containment"))
    )
    return scored.groupBy("lang").agg(
        F.count("*").alias("n_pairs"),
        stable_round(
            F.sum(
                F.round(F.col("containment") * 1_000_000).cast("bigint")
            ).cast("double")
            / 1_000_000
            / F.count("*"),
            4,
        ).alias("avg_containment"),
    )


# ---------------------------------------------------------------------------
# X36 — Gopher-style composite quality rule battery
# ---------------------------------------------------------------------------

# Rule thresholds, centered on the measured sf0.01 corpus quantiles so
# every rule actually fires on part of the data (10%/90% quantiles:
# n_words 21/88, mean_wlen 4.26/4.77, frac_unique 0.32/0.75,
# top_bigram_frac 0.022/0.071).
_G_MIN_WORDS = 25
_G_WLEN_LO, _G_WLEN_HI = 4.0, 5.0
_G_MIN_UNIQUE = 0.35
_G_MAX_TOP_BIGRAM = 0.06
_G_STOPWORDS = ("the", "a", "of", "to", "and")


@query(
    "x36_gopher_rules",
    oracle=f"""
    WITH ws AS (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), w -> w <> '') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id, lang,
             CAST(len(toks) AS INTEGER) AS n_words,
             list_reduce([CAST(0 AS BIGINT)] ||
                         list_transform(toks, w -> CAST(len(w) AS BIGINT)),
                         (a, x) -> a + x) AS char_sum,
             CAST(len(list_distinct(toks)) AS INTEGER) AS n_unique,
             list_has_any(toks, {list(_G_STOPWORDS)}) AS has_stopword,
             list_transform(range(1, greatest(len(toks), 1)),
                            i -> array_to_string(list_slice(toks, i, i + 1),
                                                 ' ')) AS grams
      FROM ws
    ), t AS (
      SELECT doc_id, lang, n_words, n_unique, has_stopword,
             CAST(char_sum AS DOUBLE) / n_words AS mwl,
             CAST(n_unique AS DOUBLE) / n_words AS fu,
             CAST(coalesce(list_max(list_transform(list_distinct(grams),
                    g -> len(list_filter(grams, x -> x = g)))), 0) AS DOUBLE)
               / greatest(len(grams), 1) AS tbf
      FROM s
    )
    SELECT doc_id, lang, n_words,
           round(mwl + 5e-10, 4) AS mean_word_len,
           round(fu + 5e-10, 4) AS frac_unique,
           round(tbf + 5e-10, 4) AS top_bigram_frac,
           has_stopword,
           n_words >= {_G_MIN_WORDS} AS r_len,
           mwl BETWEEN {_G_WLEN_LO} AND {_G_WLEN_HI} AS r_wlen,
           fu >= {_G_MIN_UNIQUE} AS r_unique,
           has_stopword AS r_stop,
           tbf <= {_G_MAX_TOP_BIGRAM} AS r_rep,
           (n_words >= {_G_MIN_WORDS}
            AND mwl BETWEEN {_G_WLEN_LO} AND {_G_WLEN_HI}
            AND fu >= {_G_MIN_UNIQUE} AND has_stopword
            AND tbf <= {_G_MAX_TOP_BIGRAM}) AS keep
    FROM t
    """,
)
def x36_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X36: the Gopher/MassiveText composite quality-rule battery as a
    SINGLE map-only pass — word-count bounds, mean-word-length band,
    unique-word fraction, stopword requirement, and top-bigram
    dominance, each emitted as its own flag plus the conjunctive
    ``keep`` decision (so a pipeline can audit WHICH rule dropped a
    document, not just that it was dropped). Extends x21's single
    repetition rule to the full filter set the Gopher paper applies
    before training.

    Determinism: every ratio is a double quotient of EXACT integers
    (token counts, char sums, bigram mode counts), so the rule
    comparisons agree across engines bit-for-bit; displayed ratios go
    through ``stable_round``.

    Scale shape: the scalar metrics (counts, char sums, unique
    fraction, stopword test) are array folds inside whole-stage
    codegen — map-only. The per-doc top-bigram mode is the one metric
    that is genuinely quadratic as an array expression (O(distinct ×
    grams) string compares per doc — measured 13× slower than the
    explode at sf0.1), so it takes the x21 shape instead: explode →
    partial-aggregated groupBy(doc_id, gram) → per-doc max, rejoined
    to the map-only metrics (doc-keyed build side, broadcast at test
    scale, plain hash join at corpus scale). Nothing corpus-wide
    shuffles; the gram traffic is ∝ corpus tokens, the same wire cost
    every dedup/LM operator in this module already pays."""
    docs = load_table(spark, sf_dir, "documents")
    ws = _words()
    n = F.size(ws)
    char_sum = F.aggregate(
        F.transform(ws, F.length),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )
    n_unique = F.size(F.array_distinct(ws))
    has_stop = F.arrays_overlap(
        ws, F.array(*[F.lit(s) for s in _G_STOPWORDS])
    )
    grams = _ngrams(ws, 2)
    top = (
        docs.select("doc_id", F.explode(grams).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_cnt"), F.sum("c").alias("n_grams"))
    )
    base = docs.select(
        "doc_id",
        "lang",
        n.alias("n_words"),
        F.when(n != 0, char_sum.cast("double") / n).alias("mwl"),
        F.when(n != 0, n_unique.cast("double") / n).alias("fu"),
        has_stop.alias("has_stopword"),
    ).join(top, "doc_id", "left")
    base = base.withColumn(
        "tbf",
        F.coalesce(F.col("top_cnt"), F.lit(0)).cast("double")
        / F.greatest(F.coalesce(F.col("n_grams"), F.lit(0)), F.lit(1)),
    )
    r_len = F.col("n_words") >= _G_MIN_WORDS
    r_wlen = F.col("mwl").between(_G_WLEN_LO, _G_WLEN_HI)
    r_unique = F.col("fu") >= _G_MIN_UNIQUE
    r_rep = F.col("tbf") <= _G_MAX_TOP_BIGRAM
    return base.select(
        "doc_id",
        "lang",
        "n_words",
        stable_round(F.col("mwl"), 4).alias("mean_word_len"),
        stable_round(F.col("fu"), 4).alias("frac_unique"),
        stable_round(F.col("tbf"), 4).alias("top_bigram_frac"),
        "has_stopword",
        r_len.alias("r_len"),
        r_wlen.alias("r_wlen"),
        r_unique.alias("r_unique"),
        F.col("has_stopword").alias("r_stop"),
        r_rep.alias("r_rep"),
        (r_len & r_wlen & r_unique & F.col("has_stopword") & r_rep).alias(
            "keep"
        ),
    )


# ---------------------------------------------------------------------------
# X38 — dataset card (per-language release report)
# ---------------------------------------------------------------------------


@query(
    "x38_dataset_card",
    oracle="""
    WITH m AS (
      SELECT doc_id, lang, source, text,
             len(list_filter(string_split(text, ' '), w -> w <> ''))
               AS n_tokens,
             len(list_filter(string_split(text, ' '),
                 w -> list_contains(['the','a','an','and','or','of','to',
                                     'in','is','it'], w))) AS n_stop
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           count(DISTINCT source) AS n_sources,
           sum(n_tokens) AS n_tokens,
           round(CAST(sum(n_tokens) AS DOUBLE) / count(*) + 5e-10, 4)
             AS mean_tokens,
           round(CAST(sum(CASE WHEN n_tokens >= 5
                               AND n_stop <= 0.9 * n_tokens
                          THEN 1 ELSE 0 END) AS DOUBLE) / count(*) + 5e-10, 4)
             AS quality_pass_rate,
           round(CAST(count(*) - count(DISTINCT text) AS DOUBLE) / count(*)
                 + 5e-10, 4) AS dup_rate
    FROM m GROUP BY lang
    """,
)
def x38_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X38: the dataset card — the per-language release report every
    corpus publication ships (The Pile / RedPajama / FineWeb dataset
    cards): document and source counts, token mass, mean length, the
    x7 quality-gate pass rate, and the exact-duplicate rate (x2's
    definition: docs minus distinct texts). One query a release
    pipeline runs LAST, after the filters in this module, to describe
    what is actually being shipped.

    Determinism: the gate test uses the integer form
    ``n_stop <= 0.9 * n_tokens`` (no division), counts are exact
    ints, and every emitted rate is an exact-int quotient through
    ``stable_round``.

    Scale shape: per-doc metrics are map-only array folds; the single
    shuffle is the groupBy(lang) with partial aggregation — except
    the two exact distincts (source, text), which expand the
    aggregate; at 100 TB flip text-distinct to a sha2 key (identical
    answer, 32-byte wire rows) and source-distinct to
    approx_count_distinct if the source taxonomy is unbounded."""
    docs = load_table(spark, sf_dir, "documents")
    ws = _words()
    stop_arr = F.array(
        *[
            F.lit(s)
            for s in (
                "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
            )
        ]
    )
    n_tokens = F.size(ws)
    n_stop = F.size(F.filter(ws, lambda w: F.array_contains(stop_arr, w)))
    m = docs.select(
        "lang",
        "source",
        "text",
        n_tokens.alias("n_tokens"),
        ((n_tokens >= 5) & (n_stop <= 0.9 * n_tokens))
        .cast("int")
        .alias("passes"),
    )
    n = F.count(F.lit(1))
    return m.groupBy("lang").agg(
        n.alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_tokens").alias("n_tokens"),
        stable_round(F.sum("n_tokens").cast("double") / n, 4).alias(
            "mean_tokens"
        ),
        stable_round(F.sum("passes").cast("double") / n, 4).alias(
            "quality_pass_rate"
        ),
        stable_round(
            (n - F.countDistinct("text")).cast("double") / n, 4
        ).alias("dup_rate"),
    )


# ---------------------------------------------------------------------------
# X40 — mixture sampling (executing the x23 plan)
# ---------------------------------------------------------------------------


@query(
    "x40_mixture_sample",
    oracle="""
    WITH d AS (
      SELECT doc_id, source,
             len(list_filter(string_split(text, ' '), w -> w <> ''))
               AS nt
      FROM documents
    ), per_src AS (
      SELECT source, count(*) AS n_docs, sum(nt) AS n_tokens
      FROM d GROUP BY source
    ), tot AS (
      SELECT *, count(*) OVER () AS n_sources FROM per_src
    ), plan AS (
      SELECT source, n_docs, n_tokens,
             CAST(round(least(1.0, (10000.0 / n_sources) / n_tokens)
                        * 1000000, 0) AS BIGINT) AS rate_ppm
      FROM tot
    ), kept AS (
      SELECT d.source, d.nt
      FROM d JOIN plan USING (source)
      WHERE ((d.doc_id % 1000003) * 2654435761 + 12345) % 4294967296 % 1000000
            < plan.rate_ppm
    ), ks AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
             CAST(sum(nt) AS BIGINT) AS kept_tokens
      FROM kept GROUP BY source
    )
    SELECT p.source, p.n_docs, p.n_tokens, p.rate_ppm,
           coalesce(ks.n_kept, CAST(0 AS BIGINT)) AS n_kept,
           coalesce(ks.kept_tokens, CAST(0 AS BIGINT)) AS kept_tokens
    FROM plan p LEFT JOIN ks ON p.source = ks.source
    """,
)
def x40_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X40: EXECUTE the x23 mixture plan — per-source Bernoulli
    sampling at the planned rate, selected by a deterministic hash of
    doc_id against the rate in parts-per-million (never an RNG: the
    same corpus and budget reproduce the same sample on any cluster,
    and a re-run after adding sources keeps previously-kept docs
    stable wherever their source's rate is unchanged). Closes the
    plan → sample loop: x23 decides the rates, this applies them and
    reports what was actually drawn per source.

    Determinism: the keep test is pure integer arithmetic
    (Knuth-hash ppm vs the plan's integer rate_ppm; the ppm threshold
    itself is the only rounded float, computed identically in both
    engines from exact counts).

    Scale shape: the plan is sources-sized and broadcast; the keep
    filter is map-only over the corpus scan; one groupBy(source)
    carries partial counts. Nothing corpus-wide shuffles — a 100 TB
    mixture draw is one scan."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "source", F.size(_words()).alias("nt")
    )
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("nt").alias("n_tokens")
    )
    w = Window.partitionBy()
    plan = per_src.withColumn(
        "rate_ppm",
        F.round(
            F.least(
                F.lit(1.0),
                # NULL (not DIVIDE_BY_ZERO) for a zero-token source;
                # least skips NULLs in both engines — x23 discipline
                F.when(
                    F.col("n_tokens") != 0,
                    (10000.0 / F.count(F.lit(1)).over(w))
                    / F.col("n_tokens"),
                ),
            )
            * 1_000_000,
            0,
        ).cast("bigint"),
    )
    # doc_id reduced mod 1000003 BEFORE the Knuth multiply: the raw
    # product wraps Spark's bigint for doc_id >= ~3.5e9 (and DuckDB
    # raises on the overflow) — the reduction keeps the product inside
    # 63 bits at any corpus size (ADVICE r6 #2; same discipline as x10).
    hash_ppm = (
        ((F.col("doc_id") % 1000003) * 2654435761 + 12345)
        % 4294967296 % 1_000_000
    )
    kept = (
        d.join(F.broadcast(plan.select("source", "rate_ppm")), "source")
        .filter(hash_ppm < F.col("rate_ppm"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("nt").alias("kept_tokens"),
        )
    )
    return plan.join(kept, "source", "left").select(
        "source",
        "n_docs",
        "n_tokens",
        "rate_ppm",
        F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
        F.coalesce(F.col("kept_tokens"), F.lit(0)).alias("kept_tokens"),
    )


# Shared regex dialect: RE2 (DuckDB) ∩ java.util.regex (Spark) — no
# lookaround, no backrefs; \b \d and bounded quantifiers mean the same
# thing in both. Applied in a fixed order so the redacted text is
# byte-identical across engines.
_PII_EMAIL = _EMAIL_RE  # one email definition for x15 AND x44
_PII_SSN = r"\b\d{3}-\d{2}-\d{4}\b"
_PII_PHONE = r"\b\d{3}[- ]\d{3}[- ]\d{4}\b"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


@query(
    "x44_pii_redact",
    oracle=f"""
    WITH seeded AS (
      SELECT doc_id,
             text || ' Contact user' || CAST(doc_id AS VARCHAR)
                  || '@mail.example.com or 555-'
                  || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.7 ssn 123-45-6789.' AS t
      FROM documents
    ), counted AS (
      SELECT doc_id, t,
             length(regexp_extract_all(t, '{_PII_EMAIL}')) AS n_email,
             length(regexp_extract_all(t, '{_PII_SSN}')) AS n_ssn,
             length(regexp_extract_all(t, '{_PII_PHONE}')) AS n_phone,
             length(regexp_extract_all(t, '{_PII_IPV4}')) AS n_ipv4
      FROM seeded
    ), redacted AS (
      SELECT doc_id, n_email, n_ssn, n_phone, n_ipv4,
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                   '{_PII_SSN}', '<SSN>', 'g'),
                 '{_PII_PHONE}', '<PHONE>', 'g'),
               '{_PII_IPV4}', '<IP>', 'g') AS red
      FROM counted
    )
    SELECT doc_id,
           CAST(n_email AS BIGINT) AS n_email,
           CAST(n_ssn AS BIGINT) AS n_ssn,
           CAST(n_phone AS BIGINT) AS n_phone,
           CAST(n_ipv4 AS BIGINT) AS n_ipv4,
           CAST(length(red) AS BIGINT) AS red_len,
           right(red, 120) AS red_tail
    FROM redacted
    """,
)
def x44_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-surface PII scrubbing — the redaction pass every training-data
    pipeline runs before export. PII-bearing suffixes are seeded
    deterministically from doc_id (the raw corpus is synthetic and
    PII-free) IDENTICALLY in both engines, then emails / SSNs / phone
    numbers / IPv4 addresses are counted and replaced with typed
    placeholders in one fixed order, so the redacted text — graded via
    its length and 120-char tail — is byte-identical cross-engine.

    100 TB shape: map-only (regexp count + replace inside whole-stage
    codegen, no UDF, no shuffle); composes in front of
    export_training_shards the way x36's rule flags do."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"),
        F.lit(" Contact user"), F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 ssn 123-45-6789."),
    )
    red = t
    for pat, tag in ((_PII_EMAIL, "<EMAIL>"), (_PII_SSN, "<SSN>"),
                     (_PII_PHONE, "<PHONE>"), (_PII_IPV4, "<IP>")):
        red = F.regexp_replace(red, pat, tag)
    staged = docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit(_PII_EMAIL), F.lit(0)))
        .cast("long").alias("n_email"),
        F.size(F.regexp_extract_all(t, F.lit(_PII_SSN), F.lit(0)))
        .cast("long").alias("n_ssn"),
        F.size(F.regexp_extract_all(t, F.lit(_PII_PHONE), F.lit(0)))
        .cast("long").alias("n_phone"),
        F.size(F.regexp_extract_all(t, F.lit(_PII_IPV4), F.lit(0)))
        .cast("long").alias("n_ipv4"),
        red.alias("red"),
    )
    return staged.select(
        "doc_id",
        "n_email",
        "n_ssn",
        "n_phone",
        "n_ipv4",
        F.length("red").cast("long").alias("red_len"),
        F.expr("right(red, 120)").alias("red_tail"),
    )


# ---------------------------------------------------------------------------
# X46 — substring-span dedup (ExactSubstr-style duplicated-span detection)
# ---------------------------------------------------------------------------

_SPAN_G = 40  # duplicated-substring detection length (chars)


def substring_dup_spans(
    docs: DataFrame, gram_len: int = _SPAN_G, sample_mod: int = 1
) -> DataFrame:
    """Character-level duplicated-span detection — the scalable form
    of suffix-array substring dedup ("deduplicating training data"
    family): any substring of length >= gram_len duplicated anywhere
    in the corpus (another document or another offset of the same
    document) is detected via its rolling grams, and per-document
    overlapping gram hits merge into maximal [span_start, span_end)
    intervals. sample_mod=1 is EXACT for >=gram_len duplicates;
    sample_mod=m keeps only grams with h1 % m == 0 — CONTENT-DEFINED
    sampling (identical substrings hash identically, so both copies
    select the same grams regardless of their alignment; a fixed
    positional stride would miss copies at offsets non-congruent mod
    the stride) — cutting the gram shuffle m× at a probabilistic
    detection floor: a duplicate of length L carries L-gram_len+1
    grams, so it is missed with probability (1-1/m)^(L-g+1) — under
    2% once L >= gram_len + 4m.

    Returns (doc_id, span_start, span_end, span_len) — 0-based char
    offsets, end exclusive. Sampled mode reports spans clipped to
    the selected grams (edges land on selected positions, always
    inside the true duplicated region).

    Scale shape: gram hashing is per-row array math inside
    whole-stage codegen (O(len·G) multiply-mods, map-only — a
    rolling-hash Arrow kernel would drop the G constant to O(len) if
    profiling ever shows the fold dominating); the corpus-wide
    duplicate test is ONE shuffle of (doc_id, pos, h1, h2) rows —
    28 bytes per emitted gram, no text payload — partitioned on the
    16-byte double hash, with the sampling filter applied BEFORE the
    exchange; the island merge is one doc_id-partitioned window
    (re-usable partitioning if the corpus is already bucketed by
    doc_id). At 100 TB with sample_mod=1 the gram shuffle is
    ~28 B/char; production would set sample_mod 8-16 to keep it
    under ~4 B/char. No O(n²) anywhere: candidate positions never
    pair up — the window count on the hash key marks them in
    place."""
    g = gram_len
    n = F.length("text")
    pos_arr = F.when(
        n >= g, F.sequence(F.lit(0), n - g)
    ).otherwise(F.array().cast("array<int>"))
    d = docs.select(
        "doc_id", char_codes(F.col("text")).alias("cs"), pos_arr.alias("ps")
    )
    # two independent 31-bit hashes key a gram: a false match needs
    # both to collide (~2^-62 per position pair)
    grams = F.transform(
        F.col("ps"),
        lambda i: F.struct(
            i.cast("long").alias("pos"),
            kr_roll(F.slice(F.col("cs"), i + 1, g), 131, 7).alias("h1"),
            kr_roll(F.slice(F.col("cs"), i + 1, g), 137, 11).alias("h2"),
        ),
    )
    gr = d.select("doc_id", F.explode(grams).alias("g")).select(
        "doc_id", "g.pos", "g.h1", "g.h2"
    )
    if sample_mod > 1:
        # content-defined sampling: selection depends only on the
        # gram's bytes, so duplicated content selects identically on
        # every copy; filter sits before the hash-key exchange
        gr = gr.filter(F.col("h1") % sample_mod == 0)
    dup = (
        gr.withColumn(
            "cnt", F.count("*").over(Window.partitionBy("h1", "h2"))
        )
        .filter(F.col("cnt") >= 2)
        .select("doc_id", "pos")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(
        F.coalesce(F.col("pos") - F.lag("pos").over(w_doc), F.lit(g + 1))
        > g,
        1,
    ).otherwise(0)
    islands = dup.withColumn("brk", brk).withColumn(
        "island", F.sum("brk").over(w_doc)
    )
    return islands.groupBy("doc_id", "island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + g).alias("span_end"),
        (F.max("pos") + g - F.min("pos")).alias("span_len"),
    ).select("doc_id", "span_start", "span_end", "span_len")


def _span_gram_cte(g: int = _SPAN_G) -> str:
    """Shared oracle CTE chain: unsampled double-hash grams -> global
    duplicate mark -> per-doc island merge (term-for-term twin of
    substring_dup_spans at sample_mod=1)."""
    codes = (
        f"list_transform(range(i + 1, i + {g} + 1), "
        "j -> CAST(ascii(substr(text, CAST(j AS INTEGER), 1)) AS BIGINT))"
    )
    return f"""
    WITH c AS (
      SELECT doc_id, text, length(text) AS n FROM documents
    ), g AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             {kr_roll_sql(codes, 131, 7)} AS h1,
             {kr_roll_sql(codes, 137, 11)} AS h2
      FROM c, UNNEST(range(0, greatest(n - {g - 1}, 0))) AS t(i)
    ), d AS (
      SELECT doc_id, pos, count(*) OVER (PARTITION BY h1, h2) AS cnt
      FROM g
    ), m AS (
      SELECT doc_id, pos,
             CASE WHEN coalesce(pos - lag(pos) OVER (
                    PARTITION BY doc_id ORDER BY pos), {g + 1}) > {g}
                  THEN 1 ELSE 0 END AS brk
      FROM d WHERE cnt >= 2
    ), isl AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM m
    ), spans AS (
      SELECT doc_id, min(pos) AS span_start, max(pos) + {g} AS span_end,
             max(pos) + {g} - min(pos) AS span_len
      FROM isl GROUP BY doc_id, island
    )
    """


@query(
    "x46_substring_span_dedup",
    oracle=_span_gram_cte()
    + "SELECT doc_id, span_start, span_end, span_len FROM spans",
)
def x46_substring_span_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X46: exact duplicated-substring span detection at G=40 chars —
    the operator behind suffix-array substring dedup of pretraining
    corpora, re-expressed as rolling grams + a hash-key window count
    + per-doc island merge (see substring_dup_spans). Where x24
    (chunk dedup) sees only aligned 20-token chunks and x28
    (containment) scores whole documents, this returns the exact
    character intervals a span-removal pass would cut.

    Reference anchor: the reference dedups whole uploads by content
    (main.py:694-715); this is the sub-document form a 100 TB corpus
    needs. Graded bit-exact: both engines compute the identical
    Karp-Rabin double hash, so gram grouping, duplicate marking, and
    island merging agree row-for-row."""
    docs = load_table(spark, sf_dir, "documents")
    return substring_dup_spans(docs)


@query(
    "x46b_dup_span_ratio",
    oracle=_span_gram_cte()
    + """
    SELECT c.doc_id,
           CAST(c.n AS BIGINT) AS n_chars_text,
           coalesce(s.dup_chars, 0) AS dup_chars,
           round(coalesce(s.dup_chars, 0) / CAST(c.n AS DOUBLE) + 5e-10,
                 4) AS dup_ratio
    FROM c LEFT JOIN (
      SELECT doc_id, sum(span_len) AS dup_chars FROM spans GROUP BY doc_id
    ) s ON s.doc_id = c.doc_id
    """,
)
def x46b_dup_span_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X46b: per-document duplicated-character accounting over the
    x46 spans — the removal-decision aggregate (docs above a
    dup_ratio cutoff get span-cut or dropped before training). Every
    document appears (zero-span docs report 0/0.0) so the output
    composes directly with x36/x7 quality gates as another per-doc
    feature column."""
    docs = load_table(spark, sf_dir, "documents")
    spans = substring_dup_spans(docs)
    per_doc = spans.groupBy("doc_id").agg(
        F.sum("span_len").alias("dup_chars")
    )
    return (
        docs.select("doc_id", F.length("text").cast("long").alias(
            "n_chars_text"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_chars_text",
            F.coalesce(F.col("dup_chars"), F.lit(0)).cast("long").alias(
                "dup_chars"
            ),
            stable_round(
                F.when(
                    F.col("n_chars_text") != 0,
                    F.coalesce(F.col("dup_chars"), F.lit(0))
                    / F.col("n_chars_text"),
                ),
                4,
            ).alias("dup_ratio"),
        )
    )


@query(
    "x46c_span_cut",
    oracle=_span_gram_cte()
    + """
    , ss AS (
      SELECT doc_id,
             list({'s': span_start, 'e': span_end} ORDER BY span_start)
               AS sp
      FROM spans GROUP BY doc_id
    ), cut AS (
      SELECT c.doc_id, c.n,
             CASE WHEN ss.sp IS NULL THEN c.text ELSE
               array_to_string(list_transform(range(1, len(ss.sp) + 1),
                 i -> substr(c.text,
                   CAST(CASE WHEN i = 1 THEN 0
                        ELSE ss.sp[CAST(i - 1 AS INTEGER)].e END
                        + 1 AS INTEGER),
                   CAST(ss.sp[CAST(i AS INTEGER)].s
                        - CASE WHEN i = 1 THEN 0
                          ELSE ss.sp[CAST(i - 1 AS INTEGER)].e END
                        AS INTEGER))), '')
               || substr(c.text,
                    CAST(ss.sp[CAST(len(ss.sp) AS INTEGER)].e + 1
                         AS INTEGER))
             END AS cleaned,
             coalesce(len(ss.sp), 0) AS n_spans
      FROM c LEFT JOIN ss ON ss.doc_id = c.doc_id
    )
    SELECT doc_id,
           CAST(n_spans AS BIGINT) AS n_spans,
           CAST(length(cleaned) AS BIGINT) AS cleaned_len,
           right(cleaned, 120) AS cleaned_tail
    FROM cut
    """,
)
def x46c_span_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X46c: apply the x46 spans — return each document's text with
    every duplicated >=G-char span REMOVED (the actual corpus edit an
    ExactSubstr dedup pass performs), graded byte-identically via the
    cleaned length and tail (the x44 redaction convention). Islands
    are disjoint by construction (merged with gaps > 0), so the cut
    is a straight gap-concatenation: segment i spans
    (prev_end, start_i], plus the tail after the last span.

    Scale shape: adds to x46's two exchanges only the spans-side
    groupBy (already doc_id-partitioned — reuses the island
    Exchange) and one LEFT equi-join back to documents on doc_id;
    the splice itself is per-row string math in codegen."""
    docs = load_table(spark, sf_dir, "documents")
    spans = substring_dup_spans(docs)
    ss = spans.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct(
                F.col("span_start").alias("s"),
                F.col("span_end").alias("e"),
            ))
        ).alias("sp")
    )
    t = F.col("text")
    sp = F.col("sp")

    def prev_end(i: Column) -> Column:
        return F.when(
            i == 1, F.lit(0).cast("long")
        ).otherwise(F.element_at(sp, (i - 1).cast("int"))["e"])

    segs = F.transform(
        F.sequence(F.lit(1), F.size(sp)),
        lambda i: t.substr(
            (prev_end(i) + 1).cast("int"),
            (F.element_at(sp, i.cast("int"))["s"] - prev_end(i)).cast(
                "int"
            ),
        ),
    )
    tail_start = (
        F.element_at(sp, F.size(sp))["e"] + 1
    ).cast("int")
    cleaned = F.when(sp.isNull(), t).otherwise(
        F.concat(
            F.array_join(segs, ""),
            t.substr(tail_start, F.length(t)),
        )
    )
    staged = docs.join(ss, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.size(sp), F.lit(0)).cast("long").alias("n_spans"),
        cleaned.alias("cleaned"),
    )
    return staged.select(
        "doc_id",
        "n_spans",
        F.length("cleaned").cast("long").alias("cleaned_len"),
        F.expr("right(cleaned, 120)").alias("cleaned_tail"),
    )


# ---------------------------------------------------------------------------
# X52 — line-level boilerplate removal (RefinedWeb/CCNet line dedup)
# ---------------------------------------------------------------------------

_X52_DF_MIN = 3  # lines present in >= this many docs are boilerplate


@query(
    "x52_line_boilerplate",
    oracle=f"""
    WITH lined AS (
      SELECT doc_id,
             'nav menu home'
             || chr(10) || 'body ' || CAST(doc_id AS VARCHAR) || ' '
                || substr(text, 1, 40)
             || chr(10) || CASE WHEN doc_id % 2 = 0
                  THEN 'subscribe to our newsletter'
                  ELSE 'detail ' || CAST(doc_id AS VARCHAR) END
             || chr(10) || 'pair ' || CAST(doc_id // 2 AS VARCHAR)
             || chr(10) || 'pair ' || CAST(doc_id // 2 AS VARCHAR)
             || chr(10) || 'copyright example corp' AS t
      FROM documents
    ),
    split AS (
      SELECT doc_id, string_split(t, chr(10)) AS parts FROM lined
    ),
    lines AS (
      SELECT doc_id, parts[CAST(pos AS INTEGER)] AS line, pos
      FROM split, UNNEST(range(1, len(parts) + 1)) AS u(pos)
    ),
    firsts AS (
      SELECT doc_id, line, pos,
             CASE WHEN lag(doc_id) OVER (
                    PARTITION BY line ORDER BY doc_id, pos)
                  IS DISTINCT FROM doc_id
                  THEN 1 ELSE 0 END AS first_in_doc
      FROM lines
    ),
    marked AS (
      SELECT doc_id, line, pos,
             sum(first_in_doc) OVER (PARTITION BY line) AS df
      FROM firsts
    ),
    cleaned AS (
      SELECT doc_id,
             CAST(count(*) FILTER (WHERE df >= {_X52_DF_MIN}) AS BIGINT)
               AS n_removed,
             coalesce(
               string_agg(line, chr(10) ORDER BY pos)
                 FILTER (WHERE df < {_X52_DF_MIN}), '') AS clean
      FROM marked GROUP BY doc_id
    )
    SELECT doc_id, n_removed,
           CAST(length(clean) AS BIGINT) AS clean_len,
           right(clean, 120) AS clean_tail
    FROM cleaned
    """,
)
def x52_line_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X52: line-level boilerplate removal — the RefinedWeb/CCNet line
    dedup pass: any LINE that appears in >= 3 documents corpus-wide
    (nav menus, subscribe banners, copyright footers) is stripped from
    every document; per-doc line order is preserved for the kept
    lines. Where x24 sees 20-token chunks, x28 whole docs, and x46
    character spans, this is the newline-granularity pass real web
    corpora run FIRST.

    The corpus is single-line word-soup, so multi-line fixtures are
    synthesized from doc_id identically in both engines (the x44/x15
    convention): per doc — a universal nav line, a unique body line, a
    newsletter banner on even docs (df ≈ half the corpus), a 'pair'
    line shared by EXACTLY TWO docs and repeated TWICE within each
    (4 occurrences corpus-wide but document frequency 2 — below the
    threshold, must survive: the fixture itself pins that the
    threshold counts DOCUMENTS, not occurrences), and a universal
    copyright line. Graded on removed-count + cleaned length +
    120-char tail (the x44 byte-identity convention).

    Scale shape: the document-frequency test is ONE shuffle of
    (doc_id, line, pos) rows partitioned on the line key — a
    lag-based first-in-doc flag plus a window sum, both over the SAME
    line partitioning (one exchange, two window functions), mark
    boilerplate in place: no self-join, no pair relation, no distinct
    sub-aggregation (the x46 discipline at line granularity; at
    100 TB you would hash the line to a 16-byte key before the
    exchange, exactly like the span grams, and df-cutoff the tail).
    Reassembly is one doc_id-keyed aggregation: sort the kept
    (pos, line) structs in-row, join with the newline —
    deterministic, no second window. Rows per doc are bounded by
    line count; nothing is quadratic."""
    docs = load_table(spark, sf_dir, "documents")
    nl = F.lit("\n")
    t = F.concat(
        F.lit("nav menu home"),
        nl, F.lit("body "), F.col("doc_id").cast("string"), F.lit(" "),
        F.substring("text", 1, 40),
        nl,
        F.when(
            F.col("doc_id") % 2 == 0,
            F.lit("subscribe to our newsletter"),
        ).otherwise(
            F.concat(F.lit("detail "), F.col("doc_id").cast("string"))
        ),
        nl, F.lit("pair "),
        F.floor(F.col("doc_id") / 2).cast("long").cast("string"),
        # the pair line REPEATS within the doc: occurrence count 4
        # corpus-wide but document frequency 2 — distinguishes df
        # counting from occurrence counting in the graded fixture
        nl, F.lit("pair "),
        F.floor(F.col("doc_id") / 2).cast("long").cast("string"),
        nl, F.lit("copyright example corp"),
    )
    lines = docs.select(
        "doc_id", F.posexplode(F.split(t, "\n")).alias("pos0", "line")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "line")
    # document frequency, not occurrence frequency: count each
    # (line, doc_id) once — a lag-based first-occurrence flag, then a
    # line-keyed window sum. Both windows partition by line, so they
    # share ONE exchange (still mark-in-place, no join).
    w_line = Window.partitionBy("line").orderBy("doc_id", "pos")
    prev_doc = F.lag("doc_id").over(w_line)
    first_in_doc = F.when(
        prev_doc.isNull() | (prev_doc != F.col("doc_id")), 1
    ).otherwise(0)
    marked = lines.withColumn("first_in_doc", first_in_doc).withColumn(
        "df", F.sum("first_in_doc").over(Window.partitionBy("line"))
    )
    kept = F.when(
        F.col("df") < _X52_DF_MIN, F.struct("pos", "line")
    )
    cleaned = marked.groupBy("doc_id").agg(
        F.count(F.when(F.col("df") >= _X52_DF_MIN, 1)).alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept)),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("clean"),
    )
    return cleaned.select(
        "doc_id",
        "n_removed",
        F.length("clean").cast("long").alias("clean_len"),
        F.expr("right(clean, 120)").alias("clean_tail"),
    )
