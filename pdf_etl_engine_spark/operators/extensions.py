"""Extension operators (SURVEY.md §2.11, BASELINE.json north_star):
dedup, similarity search, multimodal columns, text analysis — the
operations a large-scale training-data pipeline needs.

Scale notes per operator are in the docstrings; the common theme: no
O(n²) anything — candidate generation is always hash/LSH-bucketed so
the shuffle key carries the quadratic part, and Python appears only in
Arrow-batched form where arrays genuinely beat built-ins.
"""

from __future__ import annotations

import threading

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pdf_etl_engine_spark.catalog import load_table, table_path
from pdf_etl_engine_spark.functions.stable import stable_round
from pdf_etl_engine_spark.functions.texthash import (
    M as KR_M,
    kr_roll,
    kr_roll_sql,
    word_hashes,
    word_hashes_sql,
    words as _words,
)
from pdf_etl_engine_spark.registry import query

# Tiny English stopword list for X1/quality scoring (public knowledge).
STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


# ---------------------------------------------------------------------------
# X1 — text tokenize + stats
# ---------------------------------------------------------------------------

@query(
    "x1_token_stats",
    oracle="""
    SELECT word, count(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word
    ORDER BY n DESC, word
    LIMIT 25
    """,
)
def x1_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: tokenize + global term frequencies, top-25. explode→groupBy
    does partial aggregation before the shuffle, so the wire carries
    (word, partial_count), not tokens — the property that keeps this
    viable over 100 TB of text."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("word")
    ).filter(F.col("word") != "")
    return (
        words.groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "word")
        .limit(25)
    )


@query(
    "x1b_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
             AS INTEGER) AS n_bpe_ish_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_char_est_tokens
    FROM documents
    """,
)
def x1b_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1b: token counting three ways — whitespace, a BPE-ish regex
    segmentation (letter runs / digit runs / single punctuation), and
    the chars/4 heuristic."""
    docs = load_table(spark, sf_dir, "documents")
    bpe_re = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(bpe_re), F.lit(0))).alias(
            "n_bpe_ish_tokens"
        ),
        F.ceil(F.length("text") / 4.0).alias("n_char_est_tokens"),
    )


# ---------------------------------------------------------------------------
# X2 — exact deduplication
# ---------------------------------------------------------------------------

@query(
    "x2_dedup_exact",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           count(DISTINCT text) AS n_unique,
           CAST(count(*) - count(DISTINCT text) AS BIGINT) AS n_dup_rows
    FROM documents GROUP BY lang
    """,
)
def x2_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: exact-duplicate accounting per language. At 100 TB you never
    `count(DISTINCT text)` over raw text — you group on a 128-bit
    content hash; here the exact form is used so the oracle can verify,
    and the hash form is the rows-only twin below."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("text").alias("n_unique"),
        (F.count("*") - F.countDistinct("text")).alias("n_dup_rows"),
    )


@query(
    "x2b_dedup_keep_first",
    oracle="""
    SELECT lang, count(*) AS n_kept FROM (
      SELECT lang, row_number() OVER (PARTITION BY text
                                      ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1 GROUP BY lang
    """,
)
def x2b_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2b: dedup keeping the lowest doc_id per text — deterministic
    keep-first (dropDuplicates' keeper is arbitrary, so rank-and-filter
    is the reproducible form)."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("text").orderBy("doc_id")
    return (
        docs.select("lang", "doc_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .groupBy("lang")
        .agg(F.count("*").alias("n_kept"))
    )


# ---------------------------------------------------------------------------
# X3 — near-duplicate detection (MinHash + LSH, SimHash)
# ---------------------------------------------------------------------------

_N_HASHES = 16
_BANDS = 4  # 4 rows/band → candidate if any band signature collides


def _shingles(text_col: Column, k: int = 3) -> Column:
    """Word k-shingles as an array column (distinct)."""
    words = F.split(text_col, " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(words) - k, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)))
    )


def minhash_signature(shingles: Column, n_hashes: int = _N_HASHES) -> Column:
    """MinHash signature of a shingle-array column: per seed, min over
    shingles of a seeded 64-bit hash. Pure array expressions — computed
    per-row in codegen, no shuffle, no UDF. Pass a projected
    ``_shingles`` column, not the expression: each of the n_hashes
    seeds reads it, and an attribute is read, not rebuilt, per seed
    (CollapseProject keeps the projection because the expression is
    not cheap and is referenced more than once)."""
    return F.array(
        *[
            F.array_min(
                F.transform(shingles, lambda s: F.xxhash64(s, F.lit(seed)))
            )
            for seed in range(n_hashes)
        ]
    )


def minhash_bands(sig: str) -> Column:
    """The _BANDS band signatures of a MinHash signature column: each
    band's _N_HASHES/_BANDS rows joined and hashed to one 64-bit key."""
    rows = _N_HASHES // _BANDS

    def band(b: int) -> Column:
        return F.concat_ws(
            ",", *[F.element_at(sig, b * rows + r + 1) for r in range(rows)]
        )

    return F.array(*[F.xxhash64(band(b)) for b in range(_BANDS)])


@query("x3_dedup_near_minhash")  # rows-only: hash functions are engine-specific
def x3_dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: MinHash+LSH near-dup candidates: shingle → 16 minhashes →
    4 bands of 4 → candidates collide on (band_id, band_signature).
    The self-join runs on the banded signature — the shuffle key
    carries the candidate generation, never an all-pairs product —
    and the banded rows are ID-ONLY (r12: the 16-long signature used
    to ride the band shuffle 4× per doc and both sides of the
    self-join — the payload-through-the-shuffle pattern
    fused_lsh_pairs' docstring flags; signatures now re-attach to the
    deduped pairs via two doc_id equi-joins against the
    corpus-bounded sig relation). The estimated Jaccard (signature
    agreement) filters candidates at the end."""
    docs = load_table(spark, sf_dir, "documents")
    sig = docs.select("doc_id", _shingles(F.col("text")).alias("sh")).select(
        "doc_id", minhash_signature(F.col("sh")).alias("sig")
    )
    bands = sig.select(
        "doc_id", F.posexplode(minhash_bands("sig")).alias("band_id", "band_sig")
    )
    left = bands.alias("l")
    right = bands.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_sig") == F.col("r.band_sig"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .join(sig.select(F.col("doc_id").alias("doc_a"),
                         F.col("sig").alias("sig_a")), "doc_a")
        .join(sig.select(F.col("doc_id").alias("doc_b"),
                         F.col("sig").alias("sig_b")), "doc_b")
    )
    est = stable_round(
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda a, b: a == b),
                lambda x: x,
            )
        )
        / F.lit(_N_HASHES),
        4,
    )
    return pairs.select("doc_a", "doc_b", est.alias("est_jaccard")).orderBy(
        "doc_a", "doc_b"
    )


def simhash16(hashes: Column) -> Column:
    """16-bit SimHash of a per-word hash array: bit b is the sign of
    the ±1 votes of the hashes' bit b (set when more hashes have it
    set than clear). Pass a projected column: each of the 16 votes
    reads it (see minhash_signature)."""

    def vote(b: int) -> Column:
        return F.aggregate(
            hashes,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )

    sim = F.lit(0).cast("long")
    for b in range(16):
        sim = sim + F.when(vote(b) > 0, 1 << b).otherwise(0)
    return sim


@query("x3b_dedup_simhash")  # rows-only: engine-specific hash
def x3b_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3b: 16-bit SimHash buckets over xxhash64 word hashes; near-dups
    share buckets. Returns bucket histogram (largest first). All array
    expressions, zero Python."""
    docs = load_table(spark, sf_dir, "documents")
    hs = F.transform(F.split(F.col("text"), " "), lambda w: F.xxhash64(w))
    return (
        docs.select(hs.alias("hs"))
        .select(simhash16(F.col("hs")).alias("simhash_bucket"))
        .groupBy("simhash_bucket")
        .agg(F.count("*").alias("n_docs"))
        .orderBy(F.desc("n_docs"), "simhash_bucket")
        .limit(50)
    )


@query(
    "x3c_ngram_jaccard",
    oracle="""
    WITH grams AS (
      SELECT doc_id, lang,
             list_distinct(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
               i -> concat_ws(' ', string_split(text, ' ')[i],
                              string_split(text, ' ')[i+1],
                              string_split(text, ' ')[i+2]))) AS g
      FROM documents
    )
    SELECT lang,
           count(*) AS n_docs,
           round(avg(len(g)) + 5e-10, 4) AS avg_distinct_3grams
    FROM grams GROUP BY lang
    """,
)
def x3c_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3c: the n-gram layer under Jaccard dedup, oracle-checked:
    distinct word-3-gram counts per doc, aggregated per language."""
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select("lang", _shingles(F.col("text"), 3).alias("g"))
    return grams.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        stable_round(F.avg(F.size("g")), 4).alias("avg_distinct_3grams"),
    )


# ---------------------------------------------------------------------------
# X4 — similarity search over embeddings
# ---------------------------------------------------------------------------

def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _as_double(a: Column) -> Column:
    return F.transform(a, lambda x: x.cast("double"))


@query(
    "x4_cosine_topk",
    oracle="""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id, e.label,
             round(
               list_sum(list_transform(list_zip(e.embedding, q.qv),
                        s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(e.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(q.qv,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
               + 5e-10,
               4) AS cos_sim
      FROM embeddings e, q
      WHERE e.vec_id <> 0
    )
    SELECT vec_id, label, cos_sim FROM scored
    ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
)
def x4_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: brute-force cosine top-k against a query vector (vec_id 0),
    scoring every other vector. This is the exact baseline; the LSH
    probes x4b/x4f score only their candidates through the same
    _cosine_topk."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _cosine_topk(
        emb.filter(F.col("vec_id") != 0), emb.filter(F.col("vec_id") == 0)
    )


def _cosine_topk(cand: DataFrame, qrow: DataFrame, k: int = 10) -> DataFrame:
    """The one exact cosine top-k of the X4 family: every candidate row
    (vec_id, label, embedding) scored against the one-row query
    ``qrow``'s embedding, rounded to 4 places, top-k by (cos_sim desc,
    vec_id). Dot/norm via zip_with+aggregate array lambdas —
    JVM-side, no UDF; the query rides a broadcast, and the top-k is
    TakeOrderedAndProject: per-partition heaps, no global sort."""
    qv = qrow.select(_as_double(F.col("embedding")).alias("qv"))
    scored = cand.crossJoin(F.broadcast(qv)).select(
        "vec_id",
        "label",
        stable_round(
            _dot(_as_double(F.col("embedding")), F.col("qv"))
            / (
                F.sqrt(_dot(_as_double(F.col("embedding")),
                            _as_double(F.col("embedding"))))
                * F.sqrt(_dot(F.col("qv"), F.col("qv")))
            ),
            4,
        ).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), "vec_id").limit(k)


def _hyperplane(idx: int) -> Column:
    """Deterministic pseudo-random hyperplane ``idx`` sized to the
    embedding column: component j = centered hash of (idx, j) — a
    seedable stand-in for a gaussian draw (sign-LSH only needs
    symmetric components)."""
    return F.transform(
        F.sequence(F.lit(0), F.size(F.col("embedding")) - 1),
        lambda j: (F.pmod(F.xxhash64(F.lit(idx), j), F.lit(10007)) / 5003.5)
        - 1.0,
    )


def _lsh_buckets(n_tables: int, n_bits: int) -> Column:
    """Multi-table sign-LSH over ``embedding``: array of n_tables
    structs (t, bucket) where bucket is a k-bit signature from table
    t's own hyperplanes. Recall tuning is the standard (k, L) trade:
    per-table match probability p^k, overall 1-(1-p^k)^L with
    p = 1 - theta/pi. tests/test_extensions_recall.py measures the
    resulting recall against the exact operators."""
    tables = []
    for t in range(n_tables):
        bits = [
            F.when(
                _dot(_as_double(F.col("embedding")),
                     _hyperplane(t * n_bits + i)) > 0,
                F.lit(1 << i).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
            for i in range(n_bits)
        ]
        sig = bits[0]
        for b in bits[1:]:
            sig = sig + b
        tables.append(F.struct(F.lit(t).alias("t"), sig.alias("b")))
    return F.array(*tables)


# ---------------------------------------------------------------------------
# X6 / text analysis
# ---------------------------------------------------------------------------

@query(
    "x6_text_analysis_agg",
    oracle=f"""
    WITH scored AS (
      SELECT lang, source, n_chars,
             len(list_filter(string_split(text, ' '), w -> w <> ''))
               AS n_tokens,
             len(list_filter(string_split(text, ' '),
                 w -> list_contains({list(STOPWORDS)!r}, w))) AS n_stop
      FROM documents
    )
    SELECT lang, source,
           count(*) AS n_docs,
           round(avg(n_chars) + 5e-10, 4) AS avg_chars,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN n_tokens >= 5
                     AND n_stop <= 0.9 * n_tokens THEN 1 ELSE 0 END) AS BIGINT)
             AS n_quality_pass,
           CAST(sum(CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_looks_english
    FROM scored GROUP BY lang, source
    """,
)
def x6_text_analysis_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 (+X7/X8 evidence): per-(lang, source) document statistics,
    the quality-gate pass count (token floor + stopword-ratio ceiling,
    the pretraining-corpus filter from x7), and the stopword-hit
    language-ID vote count (x8) — all integer aggregates, so the
    cross-engine comparison is exact. One scan, one shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    words = _words()
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size(words)
    n_stop = F.size(
        F.filter(F.split(F.col("text"), " "), lambda w: F.array_contains(stop_arr, w))
    )
    scored = docs.select(
        "lang",
        "source",
        "n_chars",
        n_tokens.alias("n_tokens"),
        n_stop.alias("n_stop"),
    )
    quality = (F.col("n_tokens") >= 5) & (
        F.col("n_stop") <= 0.9 * F.col("n_tokens")
    )
    return scored.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        stable_round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum(quality.cast("long")).alias("n_quality_pass"),
        F.sum((F.col("n_stop") >= 2).cast("long")).alias("n_looks_english"),
    )


@query(
    "x7_quality_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             len(list_filter(string_split(text, ' '), w -> w <> ''))
               AS n_tokens,
             len(list_filter(string_split(text, ' '),
                 w -> list_contains({list(STOPWORDS)!r}, w))) AS n_stop,
             length(text) AS n_chars_text
      FROM documents
    )
    SELECT doc_id, lang,
           CAST(n_tokens AS INTEGER) AS n_tokens,
           round(n_stop / greatest(n_tokens, 1) + 5e-10, 4) AS stop_ratio,
           round(n_chars_text / greatest(n_tokens, 1) + 5e-10, 4) AS avg_word_len,
           (n_tokens >= 5 AND n_stop / greatest(n_tokens, 1) BETWEEN 0.0 AND 0.9)
             AS quality_pass
    FROM toks
    """,
)
def x7_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 (text analysis): per-doc quality signals — token count,
    stopword ratio, mean word length, and a pass/fail gate of the kind
    used to filter pretraining corpora. Pure array/scalar expressions."""
    docs = load_table(spark, sf_dir, "documents")
    words = _words()
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size(words)
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
    denom = F.greatest(n_tokens, F.lit(1))
    stop_ratio = stable_round(n_stop / denom, 4)
    return docs.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        stop_ratio.alias("stop_ratio"),
        stable_round(F.length("text") / denom, 4).alias("avg_word_len"),
        ((n_tokens >= 5) & (n_stop / denom <= 0.9)).alias("quality_pass"),
    )


@query(
    "x8_lang_id_heuristic",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             len(list_filter(string_split(text, ' '),
                 w -> list_contains({list(STOPWORDS)!r}, w))) >= 2
               AS looks_english
      FROM documents
    )
    SELECT lang, looks_english, count(*) AS n
    FROM scored GROUP BY lang, looks_english
    """,
)
def x8_lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8 (text analysis): stopword-hit language-ID heuristic vs the
    labeled `lang` column — the confusion table an n-gram langid would
    be validated with."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    hits = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
    return (
        docs.select("lang", (hits >= 2).alias("looks_english"))
        .groupBy("lang", "looks_english")
        .agg(F.count("*").alias("n"))
    )


@query("x9_fingerprint")  # rows-only: engine-specific hash function
def x9_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9 (text analysis): document fingerprinting — full-content
    64-bit hash plus a winnowing-style min-hash over word 5-gram
    hashes (the rolling-hash fingerprint used for contamination
    checks)."""
    docs = load_table(spark, sf_dir, "documents")
    grams = _shingles(F.col("text"), 5)
    return docs.select(
        "doc_id",
        F.xxhash64("text").alias("content_hash"),
        F.array_min(F.transform(grams, lambda g: F.xxhash64(g))).alias(
            "winnow_fingerprint"
        ),
    )


# ---------------------------------------------------------------------------
# X5 — multimodal (binary) columns
# ---------------------------------------------------------------------------

@query("x5_multimodal_binary")  # rows-only: binary plumbing, no SQL twin
def x5_multimodal_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: opaque binary payload + typed metadata carried through a
    distributed transform — an Arrow-batched mapInPandas over
    (id, content, meta) rows. The payload here is the utf-8 encoding
    of `text`, so the per-row decode_media verdict is 'unsupported'
    (text/plain has no media magic); x5b/x5c run the same plumbing
    over real decodable payloads."""
    from pdf_etl_engine_spark.sources.multimodal import with_binary_features

    docs = load_table(spark, sf_dir, "documents")
    binary = docs.select(
        "doc_id",
        F.encode(F.col("text"), "utf-8").alias("content"),
        F.struct(
            F.col("lang").alias("lang"),
            F.col("n_chars").alias("n_chars"),
            F.lit("text/plain").alias("mime"),
        ).alias("meta"),
    )
    return with_binary_features(binary).orderBy("doc_id")


@query(
    "x5b_media_decode",
    oracle="""
    SELECT CASE WHEN doc_id % 5 IN (0, 2, 3) THEN 'image'
                WHEN doc_id % 5 = 1 THEN 'audio' END AS kind,
           count(*) AS n_docs,
           sum(CASE WHEN doc_id % 5 = 0 THEN (doc_id % 1024) + 1
                    WHEN doc_id % 5 = 2 THEN (doc_id % 32) + 1
                    WHEN doc_id % 5 = 3 THEN (doc_id % 512) + 1
               END) AS sum_width,
           sum(CASE WHEN doc_id % 5 = 1
                    THEN CAST((n_chars % 100) + 1 AS DOUBLE)
               END) AS sum_duration
    FROM documents GROUP BY 1
    """,
)
def x5b_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5b: REAL multimodal decode, oracle-graded end-to-end. Each
    document synthesizes a valid BMP/WAV header, a complete PNG
    (zlib-inflated + defiltered on decode — VERDICT r5 #4), a JPEG
    SOI+SOF0 frame, or an unsupported codec payload, with dimensions
    /duration as pure functions of (doc_id, n_chars); ``decode_media``
    parses them back from the BYTES (sources/multimodal.py) and the
    aggregate must match what SQL recomputes from the formulas.
    Unsupported payloads surface as the NULL-kind group — the
    quarantine contract is part of the graded result. Scale shape:
    two Arrow-batched map stages, zero shuffles before the final
    partial agg."""
    from pdf_etl_engine_spark.sources.multimodal import (
        with_media_metadata,
        with_synth_media,
    )

    docs = load_table(spark, sf_dir, "documents")
    meta = with_media_metadata(with_synth_media(docs))
    return meta.groupBy("kind").agg(
        F.count("*").alias("n_docs"),
        F.sum("width").alias("sum_width"),
        F.sum("duration_s").alias("sum_duration"),
    )


@query(
    "x5d_media_formats",
    oracle="""
    SELECT CASE doc_id % 11
             WHEN 0 THEN 'bmp' WHEN 1 THEN 'wav' WHEN 2 THEN 'png'
             WHEN 3 THEN 'jpeg' WHEN 4 THEN 'jpeg' WHEN 5 THEN 'gif'
             WHEN 6 THEN 'tiff' WHEN 7 THEN 'flac' WHEN 8 THEN 'mp3'
             WHEN 9 THEN 'avi'
           END AS format,
           count(*) AS n_docs,
           sum(CASE doc_id % 11
                 WHEN 0 THEN (doc_id % 64) + 1
                 WHEN 2 THEN (doc_id % 32) + 1
                 WHEN 3 THEN (doc_id % 96) + 1
                 WHEN 4 THEN (doc_id % 64) + 1
                 WHEN 5 THEN (doc_id % 16) + 1
                 WHEN 6 THEN (doc_id % 32) + 1
                 WHEN 9 THEN (doc_id % 24) + 1
               END) AS sum_width,
           sum(CASE doc_id % 11
                 WHEN 1 THEN CAST((n_chars % 60) + 1 AS DOUBLE)
                 WHEN 7 THEN CAST((n_chars % 30) + 1 AS DOUBLE)
                 WHEN 8 THEN CAST((doc_id % 20) + 1 AS DOUBLE)
                 WHEN 9 THEN CAST((n_chars % 4) + 1 AS DOUBLE)
               END) AS sum_duration
    FROM documents GROUP BY 1
    """,
)
def x5d_media_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5d (r6): the FULL decoder surface graded end-to-end — every
    document synthesizes a REAL payload in one of eleven classes
    (pixel-bearing BMP, WAV, PNG, baseline JPEG, progressive JPEG
    with successive approximation, GIF with LZW data, TIFF strip,
    FLAC STREAMINFO, MP3 frames, MJPEG-in-AVI whose first frame is
    Huffman-decoded in-sample, or an unsupported codec), and
    ``decode_media`` must Huffman-decode / inflate / demux each one
    to report back dimensions and durations the SQL oracle recomputes
    from the (doc_id, n_chars) formulas. The unsupported class
    surfaces as the NULL-format quarantine group. Scale shape: two
    Arrow-batched map stages, zero shuffles before the final agg."""
    from pdf_etl_engine_spark.sources.multimodal import (
        with_media_metadata,
        with_synth_media_formats,
    )

    docs = load_table(spark, sf_dir, "documents")
    meta = with_media_metadata(with_synth_media_formats(docs))
    return meta.groupBy("format").agg(
        F.count("*").alias("n_docs"),
        F.sum("width").alias("sum_width"),
        F.sum("duration_s").alias("sum_duration"),
    )


@query(
    "x5c_resize_pipeline",
    oracle="""
    SELECT CASE WHEN doc_id % 5 IN (2, 3) THEN 'resized'
                WHEN doc_id % 5 = 0 THEN 'quarantined'
                ELSE 'unsupported' END AS status,
           count(*) AS n_docs,
           sum(CASE WHEN doc_id % 5 IN (2, 3) THEN 12 END) AS sum_width
    FROM documents GROUP BY 1
    """,
)
def x5c_resize_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5c (r6): the resize pipeline graded end-to-end against an
    independent prediction. Synth payloads (x5b's) go through the REAL
    decode → nearest-neighbor resample → PNG re-encode path
    (sources/multimodal.resize_image): complete PNGs and scan-bearing
    JPEGs resize ('resized'), the header-only BMPs fail pixel decode
    with ValueError ('quarantined'), WAV/gzip payloads have no pixel
    decoder ('unsupported') — the oracle recomputes each class from
    the doc_id formulas without touching any codec. Scale shape: two
    Arrow-batched map stages, zero shuffles before the final agg."""
    from pdf_etl_engine_spark.sources.multimodal import (
        with_resized_images,
        with_synth_media,
    )

    docs = load_table(spark, sf_dir, "documents")
    resized = with_resized_images(with_synth_media(docs), 12, 7)
    status = (
        F.when(F.col("resize_error").isNull(), F.lit("resized"))
        .when(F.col("resize_error").startswith("ValueError"),
              F.lit("quarantined"))
        .otherwise(F.lit("unsupported"))
    )
    return resized.groupBy(status.alias("status")).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("resize_error").isNull(), F.col("width")))
        .alias("sum_width"),
    )


@query(
    "x4c_embedding_near_dup",
    oracle="""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
             sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_sum(list_transform(list_zip(a.e, b.e),
                 s -> s[1] * s[2])) / (a.nrm * b.nrm) + 5e-10, 4) AS cos_sim
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE list_sum(list_transform(list_zip(a.e, b.e), s -> s[1] * s[2]))
          / (a.nrm * b.nrm) >= 0.25
    """,
)
def x4c_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, exact form (north_star
    dedup family): all pairs with cosine ≥ 0.25. This O(n²) exact
    variant is the ORACLE BASELINE; the scale path is x4d, which
    generates candidates from shared LSH buckets so the shuffle key —
    not a cross join — carries the pair generation."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        _as_double(F.col("embedding")).alias("e"),
        F.sqrt(_dot(_as_double(F.col("embedding")),
                    _as_double(F.col("embedding")))).alias("nrm"),
    )
    a, b = v.alias("a"), v.alias("b")
    cos = _dot(F.col("a.e"), F.col("b.e")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .filter(cos >= 0.25)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            stable_round(cos, 4).alias("cos_sim"),
        )
    )


# --- the LSH near-dup family: bindings of ONE engine ------------------------
# Every near-dup pair query below (x4d, x4i, x4j2, x4m, x4n) and x14b's
# edge source is a parameter binding of fused_lsh_pairs: L tables, k
# bits, modulus M, plane family and probe radius. The arithmetic family
# has deterministic integer-component planes (component_j of plane p =
# (31p + 17j) mod M − ⌊M/2⌋) and every dot product is a LEFT-FOLD — the
# x4g discipline — so both engines run identical IEEE sequences and
# every bucket bit agrees exactly.


@query("x4d_embedding_near_dup_lsh")  # rows-only: approximate recall
def x4d_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path for x4c: MULTI-TABLE LSH pair generation with the
    hash-mixed plane family. A pair is a candidate if the two vectors
    share a bucket in ANY of L=12 tables of k=3 bits (the permissive
    x4c threshold cos≥0.25 means p as low as ≈0.58, so recall needs
    small k and many tables: 1-(1-0.58³)^12 ≈ 0.92 at the threshold,
    higher for closer pairs — measured ≥0.8 by
    tests/test_extensions_recall.py). Candidate generation and exact
    cosine rescoring run per (table, bucket) group — no cross join."""
    return _lsh_near_dup(spark, sf_dir, 12, 3, 61, plane="mixed")


def _arith_bucket_sql(t: int, k: int, mod: int) -> str:
    """DuckDB twin of one table's k-bit arithmetic-LSH bucket: plane p
    has integer components (31p + 17j) mod M − ⌊M/2⌋, and each dot is
    the same left-fold sequence the Spark side runs, so the bucket
    integers agree bit-for-bit. M must exceed L·k so no two planes
    coincide (x4i: M=61 covers 36 planes; x4j2: M=127 covers 120)."""
    half = mod // 2
    bits = []
    for i in range(k):
        p = t * k + i
        fold = (
            "list_reduce([CAST(0.0 AS DOUBLE)] || "
            "list_transform(range(0, 64), j -> "
            "CAST(embedding[CAST(j AS INTEGER) + 1] AS DOUBLE) * "
            f"CAST((31 * {p} + 17 * j) % {mod} - {half} AS DOUBLE)), "
            "(a, x) -> a + x)"
        )
        bits.append(f"(CASE WHEN {fold} > 0 THEN {1 << i} ELSE 0 END)")
    return " + ".join(bits)


def _arith_lsh_oracle(n_tables: int, n_bits: int, mod: int) -> str:
    """DuckDB oracle for the arithmetic-LSH near-dup pipeline at any
    (L, k, M) parameterization: distinct (table, bucket) candidate
    pairs, then the exact fold-ordered cosine at cos ≥ 0.25."""
    branches = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS t,"
        f" {_arith_bucket_sql(t, n_bits, mod)} AS b FROM embeddings"
        for t in range(n_tables)
    )
    return f"""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
             sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    ), tb AS (
      {branches}
    ), cand AS (
      SELECT DISTINCT a.vec_id AS va, b2.vec_id AS vb
      FROM tb a JOIN tb b2
        ON a.t = b2.t AND a.b = b2.b AND a.vec_id < b2.vec_id
    )
    SELECT c.va AS vec_a, c.vb AS vec_b,
           round(list_sum(list_transform(list_zip(x.e, y.e),
                 s -> s[1] * s[2])) / (x.nrm * y.nrm) + 5e-10, 4) AS cos_sim
    FROM cand c JOIN v x ON x.vec_id = c.va JOIN v y ON y.vec_id = c.vb
    WHERE list_sum(list_transform(list_zip(x.e, y.e), s -> s[1] * s[2]))
          / (x.nrm * y.nrm) >= 0.25
"""


@query("x4i_lsh_near_dup_arith", oracle=_arith_lsh_oracle(12, 3, 61))
def x4i_lsh_near_dup_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 near-dup, LSH SCALE PATH, oracle-graded end to end: the
    arithmetic-plane binding at the grading corpora's bucket width
    (L=12, k=3, M=61 covering 36 distinct planes). Pair candidates
    come from shared (table, bucket) groups, never a cross join, and
    exact cosine rescoring keeps only true near-dups (cos ≥ 0.25).
    Deterministic integer planes + fold-ordered dots make every
    bucket bit AND every rescored cosine bit-identical across
    engines, so blocking and rescore grade hash-exact. Recall vs the
    exact x4c baseline is ~0.90 on the graded corpus
    (tests/test_extensions_recall.py).

    k is a CORPUS-SIZE parameter (k ≈ log2(n / target_bucket)): k=3
    keeps this oracle a fixed string for the ~2k-vector grading
    corpora, and its buckets go dense at sf1's 20k vectors. x4j2 is
    the same family at k=10 (M=127), the width sf1 runs at."""
    return _lsh_near_dup(spark, sf_dir, 12, 3, 61)


_X4J_L, _X4J_K, _X4J_MOD = 12, 10, 127


def _arith_plane_coefs(n_planes: int, mod: int):
    """[n_planes, 64] float64 arithmetic-family coefficients
    ((31p + 17j) % mod − mod//2) — THE bit-exactness contract with
    _arith_bucket_sql; every consumer (fused_lsh_pairs, the tests)
    must build planes through here so the families can't drift."""
    import numpy as np

    half = mod // 2
    return np.array(
        [[(31 * p + 17 * j) % mod - half for j in range(64)]
         for p in range(n_planes)],
        dtype=np.float64,
    )


def _bucket_kernel_from_coefs(coefs, n_tables: int, n_bits: int):
    """Arrow-vectorized sign-LSH bucket assignment for ANY [L·k, 64]
    float64 plane matrix (arithmetic or hash-mixed family): one
    pandas_udf computing all L·k plane dots per vector with numpy, in
    the SAME strict fold order the oracle's list_reduce runs — ``dots``
    starts at 0.0 and accumulates ``e_j · c_{p,j}`` in index order,
    each operation an IEEE float64 multiply/add identical to the
    JVM's, so each family stays bit-exact against its own SQL twin.
    Spark has no native dense linear algebra: a higher-order-function
    fold interprets one lambda call per element (CodegenFallback) and
    measured 34 s for sf1's 20k × 120 × 64 steps, where this kernel
    does the identical arithmetic in 1-2 s over Arrow batches."""
    import numpy as np
    import pandas as pd

    # no type hints: extensions.py uses `from __future__ import
    # annotations`, which stringifies them and breaks pandas_udf's
    # hint-based eval-type inference; the bare form infers SCALAR
    @F.pandas_udf("array<int>")
    def bucket_arr(s):
        emb = np.stack(s.to_numpy()).astype(np.float64)  # exact f32→f64
        dots = np.zeros((len(emb), n_tables * n_bits))
        for j in range(64):  # strict fold order per (row, plane)
            dots += emb[:, j : j + 1] * coefs[:, j][None, :]
        bits = dots > 0
        out = np.zeros((len(emb), n_tables), dtype=np.int32)
        for t in range(n_tables):
            for i in range(n_bits):
                out[:, t] |= bits[:, t * n_bits + i].astype(np.int32) << i
        return pd.Series(list(out))

    return bucket_arr


class _VectorMatrixHandle:
    """Lazy (sorted vec_ids, float64 matrix, norms) — the build side
    every Arrow rescore kernel probes. Construction stores ONLY the
    parquet path: plan-only callers (tools/explain_audit.py,
    test_plans' plan_of) schedule no job and materialize nothing
    (ADVICE r10). The matrix is read executor-side on first kernel
    use, straight from the embeddings parquet (the "broadcast via
    shared storage" pattern — on a cluster each executor PROCESS
    reads the ~10 MB-at-sf1 file once from the same storage a
    TorrentBroadcast would ultimately serve it from, with no driver
    collect and nothing to unpersist), then cached per-process in a
    2-entry module cache keyed by path. Norms accumulate in strict
    j-order so they match the oracles' list_sum/list_reduce folds
    bit-for-bit; the flat-values decode is the identical f32→f64
    widening the old driver-side toPandas build produced. x4k is the
    one consumer: exact kNN needs every vector, while the LSH
    near-dup bindings hold one bucket of vectors per group
    (fused_lsh_pairs)."""

    def __init__(self, path: str):
        self.path = path

    def __reduce__(self):  # never pickle the cached matrix
        return (_VectorMatrixHandle, (self.path,))

    def get(self):
        import numpy as np

        with _VEC_MATRIX_LOCK:
            hit = _VEC_MATRIX_CACHE.get(self.path)
            if hit is not None:
                return hit
            import pyarrow.parquet as pq

            tb = pq.read_table(self.path, columns=["vec_id", "embedding"])
            ids = tb["vec_id"].to_numpy()
            arr = tb["embedding"].combine_chunks()
            flat = arr.values.to_numpy()
            mat = flat.reshape(len(ids), -1).astype(np.float64)
            order = np.argsort(ids)
            ids_sorted = np.ascontiguousarray(ids[order])
            mat = np.ascontiguousarray(mat[order])
            norms_sq = np.zeros(len(mat))
            for j in range(mat.shape[1]):  # strict fold order = nrm
                norms_sq += mat[:, j] * mat[:, j]
            # r16 (ADVICE r15): a zero-norm embedding would make every
            # downstream cosine division NaN — and the k-NN kernel's
            # ascending k-th order statistic sorts NaN LAST, silently
            # over-tightening the capture threshold and dropping valid
            # neighbors. Pathological input either way (the oracle's
            # cosines would be NaN too): fail loud at the one place
            # the matrix is built instead of mis-ranking quietly.
            assert (norms_sq > 0.0).all(), (
                "zero-norm embedding row(s) in "
                f"{self.path}: cosine similarity is undefined"
            )
            entry = (ids_sorted, mat, np.sqrt(norms_sq))
            while len(_VEC_MATRIX_CACHE) >= 2:  # bounded: keep 2 SFs
                _VEC_MATRIX_CACHE.pop(next(iter(_VEC_MATRIX_CACHE)))
            _VEC_MATRIX_CACHE[self.path] = entry
            return entry


_VEC_MATRIX_CACHE: dict = {}
_VEC_MATRIX_LOCK = threading.Lock()


def _vector_matrix(sf_dir: str) -> _VectorMatrixHandle:
    return _VectorMatrixHandle(table_path(sf_dir, "embeddings"))


def _bucket_allpairs_kernel(
    threshold: float,
    coefs=None,
    n_tables: int = 0,
    n_bits: int = 0,
    probe_hamming: int = 0,
):
    """applyInPandas kernel for the fused co-located near-dup: each
    call receives ONE (table, bucket) group's vectors and computes
    that bucket's all-pairs cosine block locally, emitting only the
    ID pairs at or above ``threshold``. Bit-exactness: rows are
    sorted by vec_id (so the upper triangle IS the a<b pair set), and
    both the pair dot products and the norms accumulate in strict
    j-order from 0.0 — the same IEEE float64 sequence as the
    oracles' list_sum folds, so every emitted score is hash-identical
    to the oracle's.

    Multi-probe groups (r12): when the group carries an ``h`` column
    (home-vs-probe flag from the Hamming-1 probe emission), only
    pairs where AT LEAST ONE side is home are scored — probe∧probe
    pairs sit at bucket Hamming distance 2 and belong to no
    candidate set; dropping them here keeps the emitted pair set
    exactly {pairs with home-bucket Hamming distance ≤ 1}, the set
    the SQL oracle derives from home buckets alone via
    bit_count(xor(a.b, b.b)) <= 1.

    r16 first-collision emission (VERDICT r15 #3 — cut the pair-dedup
    exchange): when ``coefs`` is given, the kernel recomputes every
    group row's home bucket in EVERY table (the identical strict-fold
    dot loop as _bucket_kernel_from_coefs/_probe_bucket_kernel, so the
    recomputed homes are bit-equal to the shuffled ones) and emits a
    surviving pair ONLY from the group whose table t is the FIRST
    table in which the pair's home buckets collide (xor==0 for exact
    buckets; xor having ≤1 set bit for Hamming-1). Each candidate
    pair meets with home-involvement in exactly one group per
    colliding table (d=0: the shared home bucket; d=1: the canonical
    probe descends into the mate's home — r15), so first-collision
    emission makes the union over groups duplicate-free BY
    CONSTRUCTION and fused_lsh_pairs' trailing
    dropDuplicates(vec_a, vec_b) — a full Exchange of every surviving
    candidate pair — is deleted outright (guide §2.4). The emitted
    VALUE per pair is unchanged: cos comes from the strict j-order
    fold over the pair's own vectors, identical in whichever group
    computes it, and the per-table recompute costs m·64·(L·k)
    multiply-adds — ~3% of the m×m GEMM screen.

    r16 allocation discipline (guide §5, the x4k lesson): the screen
    is normalized IN PLACE (two broadcast divisions; the screen has a
    1e-6 margin against the strict fold, so the ≤1-ulp reassociation
    between a/(b·c) and (a/b)/c is absorbed) and candidate selection
    uses an m×m boolean mask + nonzero instead of materializing the
    m(m-1)/2 triu_indices int64 arrays — peak per-call temporaries
    drop from ~5 m² eq-f64 to ~1 m² f64 + 2 m² bool."""
    import numpy as np
    import pandas as pd

    def pairs(pdf):
        m = len(pdf)
        if m < 2:
            return pd.DataFrame(
                {
                    "vec_a": np.empty(0, np.int64),
                    "vec_b": np.empty(0, np.int64),
                    "cos_raw": np.empty(0, np.float64),
                }
            )
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        home = (
            pdf["h"].to_numpy()[order].astype(bool)
            if "h" in pdf.columns
            else None
        )
        G = np.stack(pdf["embedding"].to_numpy()[order]).astype(np.float64)
        nsq = np.zeros(m)
        for j in range(G.shape[1]):  # strict fold order = oracle nrm
            nsq += G[:, j] * G[:, j]
        nrm = np.sqrt(nsq)
        # two-phase block: a BLAS GEMM SCREENS the m×m block (its
        # reassociated sums differ from the fold by ≲1e-14 — the
        # 1e-6 margin makes a screening miss impossible), then ONLY
        # the surviving pairs are re-accumulated in strict j-order,
        # so every EMITTED value is the exact fold the oracle
        # computes. The all-pairs strict fold this replaces streamed
        # a full m² float64 temp per dimension — memory-bound at
        # dense buckets (x14b's m≈2500: 136 s → ~10 s at sf1, r11).
        screen = G @ G.T
        screen /= nrm[:, None]
        screen /= nrm[None, :]
        cand = screen >= threshold - 1e-6
        cand &= ~np.tri(m, dtype=bool)  # strict upper triangle: a < b
        if home is not None:
            cand &= home[:, None] | home[None, :]
        ia, ib = np.nonzero(cand)
        A, B = G[ia], G[ib]
        acc = np.zeros(len(ia))
        for j in range(G.shape[1]):  # strict fold order = list_sum
            acc += A[:, j] * B[:, j]
        cos = acc / (nrm[ia] * nrm[ib])
        keep = cos >= threshold
        ia, ib, cos = ia[keep], ib[keep], cos[keep]
        if coefs is not None and len(ia):
            dots = np.zeros((m, n_tables * n_bits))
            for j in range(64):  # strict fold order = bucket kernels
                dots += G[:, j : j + 1] * coefs[:, j][None, :]
            bits = dots > 0
            H = np.zeros((m, n_tables), dtype=np.int64)
            for ti in range(n_tables):
                for i in range(n_bits):
                    H[:, ti] |= bits[:, ti * n_bits + i].astype(
                        np.int64
                    ) << i
            X = H[ia] ^ H[ib]
            if probe_hamming == 0:
                coll = X == 0
            else:  # ≤1 differing bit ⇔ xor is 0 or a power of two
                coll = (X & (X - 1)) == 0
            t_grp = int(pdf["t"].iloc[0])
            # every surviving pair met here with home-involvement, so
            # it MUST collide in this group's table — fail loud if the
            # recomputed homes ever disagree with the shuffled buckets
            assert coll[:, t_grp].all(), (
                "first-collision mask: recomputed home buckets do not "
                f"collide in the emitting table t={t_grp}"
            )
            emit = coll.argmax(axis=1) == t_grp
            ia, ib, cos = ia[emit], ib[emit], cos[emit]
        return pd.DataFrame(
            {
                "vec_a": ids[ia],
                "vec_b": ids[ib],
                "cos_raw": cos,
            }
        )

    return pairs


def _embedding_count(sf_dir: str) -> int:
    """Row count from the embeddings parquet FOOTER — driver-side file
    metadata IO only, the same information Spark's own planner reads;
    schedules no Spark job, so construction-time use keeps the repo's
    no-job invariant (tests/test_plans.py)."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(table_path(sf_dir, "embeddings")).metadata.num_rows


def adaptive_lsh_bits(
    n: int, target_occupancy: int = 300, floor: int = 3
) -> int:
    """The k-scales-with-corpus lever (x4i docstring) made executable:
    k = max(floor, ceil(log2(n / target_occupancy))) keeps expected
    bucket occupancy ≈ target, so the per-group all-pairs block stays
    bounded no matter the corpus size. Grading corpora (≤2.4k vectors)
    resolve to the floor k=3 — bit-identical to the fixed
    parameterization the tests pin; sf1's 20k resolve to k=7
    (occupancy ~156); 100 TB corpora keep growing k, recall re-tuned
    via L."""
    import math

    return max(floor, math.ceil(math.log2(max(n / target_occupancy, 1.0))))


def _next_prime(n: int) -> int:
    """Smallest prime ≥ n (trial division — n is always tiny: L·k+1)."""
    c = max(n, 2)
    while any(c % d == 0 for d in range(2, int(c**0.5) + 1)):
        c += 1
    return c


def lsh_recall_theory(
    cos_sim: float, n_bits: int, n_tables: int, probe_hamming: int = 0
) -> float:
    """Closed-form sign-LSH pair recall at cosine ``cos_sim`` for the
    MIXED plane family (measured to track this within a few points at
    sf1 — RECALL_SF1.json theory_by_band vs recall_by_band): a random
    hyperplane separates a pair at angle θ with probability θ/π, so a
    k-bit bucket matches with p^k (p = 1 − θ/π), Hamming-1 probing
    adds the k one-bit-off buckets (k·p^(k-1)·(1−p)), and L
    independent tables amplify to 1 − (1 − per_table)^L. NOT valid
    for the arithmetic sawtooth family, whose correlated planes sit
    far off this curve (the r11 recall anomaly)."""
    import math

    if probe_hamming not in (0, 1):
        # the execution path (fused_lsh_pairs) supports exactly these
        # depths; modelling a depth the engine can't run would plan
        # an L the deployment cannot realize (r12 review)
        raise ValueError("probe_hamming must be 0 or 1")
    p = 1.0 - math.acos(max(-1.0, min(1.0, cos_sim))) / math.pi
    per_table = p**n_bits
    if probe_hamming == 1:
        per_table += n_bits * p ** (n_bits - 1) * (1.0 - p)
    return 1.0 - (1.0 - per_table) ** n_tables


def lsh_tables_for_recall(
    target_recall: float,
    cos_threshold: float,
    n_bits: int,
    probe_hamming: int = 0,
    max_tables: int = 256,
) -> int:
    """The recall↔cost contract made executable (VERDICT r11 missing
    #1): the minimal table count L such that pairs AT the similarity
    threshold are recovered with probability ≥ target_recall (pairs
    above it recover strictly better — recall is monotone in cosine
    for random-statistics planes). Cost scales linearly in L (bucket
    rows = corpus × L × (1 + k·probe)), so this is the knob a 100 TB
    deployment turns: pick k from corpus size via adaptive_lsh_bits
    (bounds the per-bucket quadratic block), then L from this
    function for the recall the dedup decision needs. Raises if the
    target is unreachable within max_tables — the caller must raise
    probe depth or lower k, not silently under-recall."""
    for n_tables in range(1, max_tables + 1):
        if (
            lsh_recall_theory(
                cos_threshold, n_bits, n_tables, probe_hamming
            )
            >= target_recall
        ):
            return n_tables
    raise ValueError(
        f"recall {target_recall} at cos {cos_threshold} unreachable with "
        f"k={n_bits}, probe={probe_hamming} within {max_tables} tables; "
        "lower n_bits (or enable Hamming-1 probing if off)"
    )


def lsh_modulus(n_tables: int, n_bits: int, min_mod: int = 61) -> int:
    """Modulus for the arithmetic plane family that PRESERVES the
    documented invariant 'M must exceed L·k so no two planes coincide'
    (_arith_bucket_sql) at ANY adaptive k: smallest prime ≥
    max(min_mod, L·k + 1). Grading corpora (k at the floor, L·k ≤ 60)
    keep the pinned mod 61 bit-identically; sf1's k=7 (L·k=84, where
    the fixed mod 61 silently duplicated 23 of 84 planes and
    correlated every table — ADVICE r11) gets 89; larger corpora keep
    growing with k."""
    return _next_prime(max(min_mod, n_tables * n_bits + 1))


# --- r12: hash-mixed plane family + Hamming-1 multi-probe -------------------
# RECALL_SF1 r11 exposed WHY the arithmetic family underperforms: every
# plane (31p+17j) mod M is a cyclic shift of ONE sawtooth — a
# 1-parameter curve in R^64 with mean pairwise |cosine| 0.38 (max
# 0.9996: near-duplicate planes), so extra tables add little
# independent information and recall saturates (0.20→0.28→0.33 over
# L=4→8→12). The mixed family below drives each coefficient through a
# 2-round multiply/xor-shift mixer (all ops int64-safe and exactly
# expressible in both numpy and DuckDB SQL, so the oracle recomputes
# the planes itself); measured mean |cosine| 0.100 vs 0.102 for true
# random Gaussian planes — statistically indistinguishable from the
# random hyperplanes sign-LSH theory assumes.

_MIX_M1, _MIX_M2, _MIX_P = 2654435761, 1597334677, 2147483647


def _mix_plane_coefs(n_planes: int, mod: int):
    """[n_planes, 64] float64 mixed-family coefficients; int64-exact."""
    import numpy as np

    idx = np.arange(n_planes * 64, dtype=np.int64)
    h = (idx + 1) * _MIX_M1 % _MIX_P
    h ^= h >> 15
    h = h * _MIX_M2 % _MIX_P
    h ^= h >> 13
    return (h % mod - mod // 2).astype(np.float64).reshape(n_planes, 64)


def _mix_coef_expr(p: int, mod: int) -> str:
    """DuckDB expression for mixed-plane p's coefficient at array index
    j (the lambda variable in a range(0, 64) transform) — the same
    mixer as _mix_plane_coefs, term for term; every intermediate stays
    below 2^62 so BIGINT arithmetic never overflows."""
    h1 = f"((({64 * p} + j + 1) * {_MIX_M1}) % {_MIX_P})"
    h2 = f"xor({h1}, {h1} >> 15)"
    h3 = f"(({h2} * {_MIX_M2}) % {_MIX_P})"
    h4 = f"xor({h3}, {h3} >> 13)"
    return f"({h4} % {mod} - {mod // 2})"


def _mix_bucket_sql(t: int, k: int, mod: int) -> str:
    """_arith_bucket_sql's twin for the mixed plane family: same
    left-fold dot, coefficients from _mix_coef_expr."""
    bits = []
    for i in range(k):
        p = t * k + i
        fold = (
            "list_reduce([CAST(0.0 AS DOUBLE)] || "
            "list_transform(range(0, 64), j -> "
            "CAST(embedding[CAST(j AS INTEGER) + 1] AS DOUBLE) * "
            f"CAST({_mix_coef_expr(p, mod)} AS DOUBLE)), "
            "(a, x) -> a + x)"
        )
        bits.append(f"(CASE WHEN {fold} > 0 THEN {1 << i} ELSE 0 END)")
    return " + ".join(bits)


def _mixed_lsh_oracle(
    n_tables: int, n_bits: int, mod: int, hamming: int = 0
) -> str:
    """DuckDB oracle for the mixed-plane near-dup pipeline. hamming=0
    is the exact-bucket-match candidate rule; hamming=1 is the
    multi-probe rule — a pair is a candidate when its HOME buckets in
    some table differ in at most one bit (bit_count(xor(.,.)) <= 1),
    which is precisely the pair set the Spark side's home+Hamming-1
    probe emission produces (probe∧probe collisions are distance 2
    and are masked out in _bucket_allpairs_kernel)."""
    branches = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS t,"
        f" {_mix_bucket_sql(t, n_bits, mod)} AS b FROM embeddings"
        for t in range(n_tables)
    )
    match = (
        "a.b = b2.b"
        if hamming == 0
        else f"bit_count(xor(a.b, b2.b)) <= {hamming}"
    )
    return f"""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
             sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    ), tb AS (
      {branches}
    ), cand AS (
      SELECT DISTINCT a.vec_id AS va, b2.vec_id AS vb
      FROM tb a JOIN tb b2
        ON a.t = b2.t AND {match} AND a.vec_id < b2.vec_id
    )
    SELECT c.va AS vec_a, c.vb AS vec_b,
           round(list_sum(list_transform(list_zip(x.e, y.e),
                 s -> s[1] * s[2])) / (x.nrm * y.nrm) + 5e-10, 4) AS cos_sim
    FROM cand c JOIN v x ON x.vec_id = c.va JOIN v y ON y.vec_id = c.vb
    WHERE list_sum(list_transform(list_zip(x.e, y.e), s -> s[1] * s[2]))
          / (x.nrm * y.nrm) >= 0.25
"""


def _probe_bucket_kernel(coefs, n_tables: int, n_bits: int):
    """Bucket + Hamming-1 probe emission as ONE Arrow kernel: per
    vector and table it emits the home bucket plus one-bit-flip
    neighbors, packed into int64 as t·2³⁴ | bucket·2 | is_home so the
    JVM side unpacks with three codegen'd bit ops (an array<struct>
    return would leave Arrow conversion on the hot path). Same strict
    fold order as _bucket_kernel_from_coefs — home buckets are
    bit-identical to the non-probe kernel's.

    r15 (guide §2.3 — shuffle fewer bytes): probes are emitted in the
    CANONICAL DIRECTION only — bit i is flipped only when it is SET,
    so every probe bucket is numerically smaller than home. A d=1
    pair's home buckets differ in exactly one bit, which is set on
    exactly one side, so exactly that side's probe lands in the other
    side's home bucket: the home×probe candidate set is IDENTICAL to
    the both-directions emission this replaces (which found every d=1
    pair twice, once in each home bucket), while expected emission
    drops from 1+k to 1+popcount(home) ≈ 1+k/2 rows per (vector,
    table) — and per-bucket occupancy, hence the kernel's m×m GEMM
    screen, shrinks with it. Probe∧probe collisions remain d=2 and
    are masked in _bucket_allpairs_kernel exactly as before."""
    import numpy as np
    import pandas as pd

    @F.pandas_udf("array<long>")
    def probe_arr(s):
        emb = np.stack(s.to_numpy()).astype(np.float64)  # exact f32→f64
        n = len(emb)
        dots = np.zeros((n, n_tables * n_bits))
        for j in range(64):  # strict fold order per (row, plane)
            dots += emb[:, j : j + 1] * coefs[:, j][None, :]
        bits = dots > 0
        home = np.zeros((n, n_tables), dtype=np.int64)
        for t in range(n_tables):
            for i in range(n_bits):
                home[:, t] |= bits[:, t * n_bits + i].astype(np.int64) << i
        out = np.empty((n, n_tables * (n_bits + 1)), dtype=np.int64)
        keep = np.ones((n, n_tables * (n_bits + 1)), dtype=bool)
        ts = np.arange(n_tables, dtype=np.int64) << 34
        out[:, :n_tables] = ts[None, :] | (home << 1) | 1
        for i in range(n_bits):
            out[:, n_tables * (i + 1) : n_tables * (i + 2)] = ts[None, :] | (
                (home ^ (1 << i)) << 1
            )
            keep[:, n_tables * (i + 1) : n_tables * (i + 2)] = (
                home >> i
            ) & 1 == 1
        return pd.Series([r[k] for r, k in zip(out, keep)])

    return probe_arr


def fused_lsh_pairs(
    emb: DataFrame,
    n_tables: int,
    n_bits: int,
    mod: int,
    threshold: float,
    plane: str = "arith",
    probe_hamming: int = 0,
) -> DataFrame:
    """THE LSH near-dup pair engine: fused candidate generation + exact
    rescore at any (L, k, M, plane family, probe radius)
    parameterization. Every near-dup query (x4d, x4i, x4j2, x4m, x4n)
    and x14b's edge source is a binding of it. Bucket assignment is
    one Arrow kernel (_bucket_kernel_from_coefs), then ONE
    applyInPandas kernel per (table, bucket)
    group computes that bucket's all-pairs cosine block locally (see
    _bucket_allpairs_kernel) and emits thresholded ID pairs —
    duplicate-free ACROSS tables by first-collision emission (r16:
    the kernel recomputes home buckets per table from the vectors it
    already holds and emits a pair only from its first colliding
    table, so the trailing dropDuplicates Exchange of every surviving
    pair is gone — VERDICT r15 #3, guide §2.4). Only corpus×L-bounded
    rows carry vector payload through an exchange; the quadratic part
    never touches the JVM. The column-expression self-join this
    replaced rescored every candidate through the interpreted _dot
    fold (CodegenFallback, ~5M lambda-steps/s) and carried (e, nrm)
    payload through the candidate-pair join — at sf1's dense k=3
    buckets it ran >10 min where this shape runs seconds.

    r12 levers: ``plane="mixed"`` swaps the correlated arithmetic
    sawtooth planes for the hash-mixed family (random-hyperplane
    statistics — see the family comment above); ``probe_hamming=1``
    adds Hamming-1 multi-probe, which multiplies the bucket-shuffle
    rows by ~(1+k/2) (canonical-direction emission, r15 — see
    _probe_bucket_kernel; was (k+1) when probes went both ways) but
    lifts per-table collision probability from p^k to
    p^k + k·p^(k-1)(1-p) — at cos 0.6, k=10, L=12 that is
    0.03→0.16 per table, 0.31→0.87 overall, the difference between a
    near-dup pass that misses ⅔ of true pairs and one that keeps
    ~9/10. Candidate set with probes = {pairs whose home buckets in
    some table differ in ≤1 bit}; exactness of the rescore is
    unchanged."""
    if plane == "mixed":
        coefs = _mix_plane_coefs(n_tables * n_bits, mod)
    else:
        coefs = _arith_plane_coefs(n_tables * n_bits, mod)
    if probe_hamming == 0:
        bucket_arr = _bucket_kernel_from_coefs(coefs, n_tables, n_bits)
        buckets = emb.select(
            "vec_id",
            "embedding",
            F.posexplode(bucket_arr("embedding")).alias("t", "b"),
        )
        grouped = buckets.groupBy("t", "b")
    else:
        if probe_hamming != 1:
            raise ValueError("probe_hamming must be 0 or 1")
        probe_arr = _probe_bucket_kernel(coefs, n_tables, n_bits)
        packed = emb.select(
            "vec_id",
            "embedding",
            F.explode(probe_arr("embedding")).alias("pk"),
        )
        buckets = packed.select(
            "vec_id",
            "embedding",
            F.shiftright("pk", 34).cast("int").alias("t"),
            F.shiftright("pk", 1)
            .bitwiseAND(F.lit((1 << 33) - 1))
            .alias("b"),
            F.col("pk").bitwiseAND(F.lit(1)).cast("boolean").alias("h"),
        )
        grouped = buckets.groupBy("t", "b")
    scored = grouped.applyInPandas(
        _bucket_allpairs_kernel(
            threshold, coefs, n_tables, n_bits, probe_hamming
        ),
        "vec_a bigint, vec_b bigint, cos_raw double",
    )
    return scored


def _lsh_near_dup(
    spark: SparkSession,
    sf_dir: str,
    n_tables: int,
    n_bits: int,
    mod: int,
    plane: str = "arith",
    probe_hamming: int = 0,
) -> DataFrame:
    """A registered near-dup query: ``fused_lsh_pairs`` over the
    embeddings at cos ≥ 0.25, projected to the graded
    (vec_a, vec_b, cos_sim) rows with the cosine rounded to 4 dp."""
    emb = load_table(spark, sf_dir, "embeddings")
    scored = fused_lsh_pairs(
        emb, n_tables, n_bits, mod, 0.25, plane, probe_hamming
    )
    return scored.select(
        "vec_a",
        "vec_b",
        stable_round(F.col("cos_raw"), 4).alias("cos_sim"),
    )


@query(
    "x4j2_lsh_near_dup_colocated",
    oracle=_arith_lsh_oracle(_X4J_L, _X4J_K, _X4J_MOD),
)
def x4j2_lsh_near_dup_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x4i's arithmetic family at the production bucket width — k=10
    (1024 buckets/table, L=12, planes mod 127 so all 120 planes are
    distinct) — with candidate generation and rescore FUSED into one
    co-located kernel per (table, bucket) group: nothing anywhere
    holds more than one bucket of vectors. This is the 100 TB
    configuration.

    Why fused beats rescore-as-a-stage: a separate co-located rescore
    must move the PAIR-bounded relation with payload attached — at
    sf1 that was 23.3M distinct pairs × two 64-float vectors ≈ 12.5 GB
    through the exchange and the Arrow boundary (measured 14 s).
    Fusing moves only the CORPUS×L-bounded bucket rows (240k × one
    vector ≈ 70 MB) into the groupBy(t, b) exchange; the quadratic
    part runs as numpy inside each group and only thresholded ID
    pairs come back out. Group size — hence the per-task block — is
    bounded by bucket occupancy, which k tunes with corpus size
    (raise k, re-tune recall via L). Skew: a hot bucket is one task,
    but its size is capped by the same occupancy bound (no AQE
    dependency)."""
    return _lsh_near_dup(spark, sf_dir, _X4J_L, _X4J_K, _X4J_MOD)


@query(
    "x4m_lsh_near_dup_mixed",
    oracle=_mixed_lsh_oracle(_X4J_L, _X4J_K, _X4J_MOD, hamming=0),
)
def x4m_lsh_near_dup_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x4j2's fused co-located shape at the same (L=12, k=10, mod 127)
    parameterization with the HASH-MIXED plane family — the r12 fix
    for the recall defect RECALL_SF1 r11 exposed (the arithmetic
    planes are cyclic shifts of one sawtooth; mean pairwise |cosine|
    0.38 vs 0.10 for this family ≈ true random hyperplanes). Graded
    end-to-end: the DuckDB oracle recomputes the mixer itself
    (_mix_coef_expr), so plane construction, bucket assignment,
    candidate join, and rescore are all cross-engine bit-exact.
    Reference anchor: SURVEY §2.11 X3/X4 (main.py:694-715's
    per-document comparisons at corpus scale)."""
    return _lsh_near_dup(
        spark, sf_dir, _X4J_L, _X4J_K, _X4J_MOD, plane="mixed"
    )


@query(
    "x4n_lsh_near_dup_multiprobe",
    oracle=_mixed_lsh_oracle(_X4J_L, _X4J_K, _X4J_MOD, hamming=1),
)
def x4n_lsh_near_dup_multiprobe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The RECOMMENDED production near-dup configuration after r12:
    mixed planes + Hamming-1 multi-probe at (L=12, k=10, mod 127).
    Multi-probe lifts per-table collision probability from p^k to
    p^k + k·p^(k-1)(1-p) at the cost of ~(1+k/2)× bucket-shuffle rows
    (canonical-direction probes, r15; measured 219.5→157.7 MB shuffle
    write at sf1 with identical output) —
    measured recall on the high-similarity truth set (cos ≥ 0.6,
    exact k-NN ground truth at sf1) rises from the arithmetic
    family's 0.11 to ≥0.8 (RECALL_SF1.json, floor pinned in
    tests/test_extensions_recall.py). Oracle-graded: candidates are
    exactly the pairs whose home buckets differ in ≤1 bit in some
    table (bit_count(xor(a.b, b.b)) <= 1 in the SQL twin); the Spark
    side derives the same set via home+probe emission with
    probe∧probe pairs masked in the bucket kernel. Plan shape is
    x4j2's: one bucket shuffle (now ~(1+k/2)×L rows per vector), the
    quadratic block numpy-local per group, ID-only pairs out.
    Deployment contract: pick k from corpus size (adaptive_lsh_bits
    bounds the per-bucket block) and L from lsh_tables_for_recall
    (the closed-form recall↔cost planner, theory-validated against
    the measured curve)."""
    return _lsh_near_dup(
        spark, sf_dir, _X4J_L, _X4J_K, _X4J_MOD,
        plane="mixed", probe_hamming=1,
    )


_X4K_TOPK = 5


def _knn_topk_block(Q, M, nrm_q, nrm_m, topk, self_col=None, cap=4096):
    """Exact per-row top-k of query block Q against corpus block M
    under the oracle's (cos DESC, col ASC) comparator: a BLAS GEMM
    screens the block (reassociated error ≲1e-13), every column
    within 2e-9 of the row's k-th-best screen is captured and
    re-accumulated in strict j-order (bit-identical to list_sum), and
    the exact values are ranked. Capture is TIE-BOUNDED, not
    topk-bounded (ADVICE r11): on duplicate-heavy corpora a row can
    capture ~|M| tie columns, so any row capturing more than ``cap``
    columns falls back to a full strict fold over M for that row —
    O(|M|) float64 per hot row instead of captured×64 — keeping peak
    kernel memory O(|Q|·|M|) for the screen plus O(cap·64) for the
    rescore regardless of tie structure. Returns (row_idx, col_idx,
    exact_cos) already cut to each row's top-k.

    ``self_col``: optional int array, per query row the column index
    of the query itself in M (−1 when absent) — masked from ranking.
    """
    import numpy as np

    nq = len(Q)
    # r15 (guide §5 — bound per-task allocation): normalize IN PLACE
    # on the GEMM output and take the k-th-best via an ASCENDING
    # partition. The old one-liner
    #   (Q @ M.T) / (nrm_q[:, None] * nrm_m[None, :])
    # plus -np.partition(-screen, ...) materialized FOUR extra
    # |Q|x|M| f64 temporaries (norm outer product, division result,
    # negation, partition copy); on first use in a fresh worker every
    # one of those is fresh-page-faulted, which is exactly where the
    # measured 1.2 s <-> 230 s per-task swing lived (host fault-in
    # bandwidth drops to ~30 MB/s under memory pressure episodes —
    # see OPTIMIZATION_r15.md). Division and order statistics are
    # elementwise/value-exact, so emitted values are bit-identical.
    screen = Q @ M.T
    screen /= nrm_q[:, None]
    screen /= nrm_m[None, :]
    if self_col is not None:
        has_self = self_col >= 0
        screen[np.where(has_self)[0], self_col[has_self]] = -np.inf
    # kth = min(topk, |M|): blocks with <= topk columns must capture
    # EVERY column (r12 review fix: the old `shape[1] - 1` was only
    # right when a self column is masked — on self-free x4l blocks
    # smaller than topk+1 it silently dropped each row's last
    # neighbor). When a masked self column makes the kth-best -inf,
    # the threshold is -inf and the isfinite filter below still
    # bounds the capture correctly.
    kth = min(topk, screen.shape[1])
    if kth < 1:
        kth = 1
    t_a = np.partition(screen, screen.shape[1] - kth, axis=1)[
        :, screen.shape[1] - kth
    ]
    rows_idx, cols_idx = np.where(
        (screen >= (t_a - 2e-9)[:, None]) & np.isfinite(screen)
    )
    counts = np.bincount(rows_idx, minlength=nq)
    hot = counts > cap
    if hot.any():
        keep = ~hot[rows_idx]
        rows_idx, cols_idx = rows_idx[keep], cols_idx[keep]
    A, B = Q[rows_idx], M[cols_idx]
    acc = np.zeros(len(rows_idx))
    for j in range(M.shape[1]):  # strict fold = list_sum
        acc += A[:, j] * B[:, j]
    exact = acc / (nrm_q[rows_idx] * nrm_m[cols_idx])
    if hot.any():
        extra_r, extra_c, extra_v = [], [], []
        for r in np.where(hot)[0]:
            accr = np.zeros(M.shape[0])
            qv = Q[r]
            for j in range(M.shape[1]):  # strict fold, O(|M|) memory
                accr += qv[j] * M[:, j]
            vals = accr / (nrm_q[r] * nrm_m)
            if self_col is not None and self_col[r] >= 0:
                vals[self_col[r]] = -np.inf
            order = np.lexsort((np.arange(len(vals)), -vals))[:topk]
            order = order[np.isfinite(vals[order])]
            extra_r.append(np.full(len(order), r))
            extra_c.append(order)
            extra_v.append(vals[order])
        rows_idx = np.concatenate([rows_idx, *extra_r])
        cols_idx = np.concatenate([cols_idx, *extra_c])
        exact = np.concatenate([exact, *extra_v])
    srt = np.lexsort((cols_idx, -exact, rows_idx))
    r_s, c_s, e_s = rows_idx[srt], cols_idx[srt], exact[srt]
    starts = np.searchsorted(r_s, np.arange(nq))
    pos = np.arange(len(r_s)) - starts[r_s]
    keep = pos < topk
    return r_s[keep], c_s[keep], e_s[keep], (pos[keep] + 1)


_X4K_ORACLE = """
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
             sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    ), pairs AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
             list_sum(list_transform(list_zip(a.e, b.e),
                   s -> s[1] * s[2])) / (a.nrm * b.nrm) AS c
      FROM v a JOIN v b ON a.vec_id <> b.vec_id
    ), ranked AS (
      SELECT vec_id, nbr_id, c,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY c DESC, nbr_id) AS rn
      FROM pairs
    )
    SELECT vec_id, nbr_id, CAST(rn AS INT) AS nbr_rank,
           round(c + 5e-10, 4) AS cos_sim
    FROM ranked WHERE rn <= 5
    """


@query("x4k_knn_join_brute", oracle=_X4K_ORACLE)
def x4k_knn_join_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL-VECTORS k-NN join (exact): every vector's top-5 cosine
    neighbors with deterministic tie-break (higher cosine first, then
    lower neighbor id) — the primitive a SemDeDup / near-dup-graph /
    diversity-sampling pipeline runs over the whole corpus, where x4
    answers one query vector. Exact brute force is the BASELINE and
    recall anchor; the sub-linear scale paths are the bucketed index
    probes (x4b/x4e/x4f).

    Spark shape: map-only — one Arrow kernel per vector batch against
    the lazily-built per-process vector matrix (_VectorMatrixHandle):
    a BLAS GEMM screens each chunk × corpus block, the
    captured few candidates per row are re-accumulated with strict
    j-order float64 folds (bit-identical to the oracle's list_sum),
    and ranking runs on the exact values with the oracle's
    (c DESC, nbr_id) tie-break. ZERO shuffles: the only exchange in
    the plan is Arrow batch transfer. At corpus sizes past
    per-process-matrix range, x4l_knn_join_blocked (r12) IS this
    operator as a row-block × column-block cogroup grid — graded
    hash-identical against the same oracle — with O(block) peak task
    memory; candidate generation and tie-break semantics identical."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    handle = _vector_matrix(sf_dir)
    topk = _X4K_TOPK

    def knn(batches):
        ids_s, m, nrm = handle.get()
        # per-task working set: chunk × corpus f64 for the GEMM screen
        # (256 × 20k ≈ 41 MB at sf1; was 1024/164 MB — shrunk r15 so a
        # task's 5 chunks REUSE the same-size freed buffers instead of
        # fault-ing ~500 MB of fresh pages once, the measured source
        # of the 3 s <-> 28 s anchor bimodality) plus a TIE-BOUNDED
        # capture that
        # _knn_topk_block caps per row (rows capturing > 4096 tie
        # columns fall back to an O(corpus) full strict fold — see the
        # helper; before r12 a duplicate-heavy corpus could blow the
        # captured×64 rescore matrices up to ~chunk×corpus×64 f64).
        # GEMM SCREEN correctness: a reassociated BLAS block differs
        # from the strict fold by ≲1e-13, so capturing every column
        # within 2e-9 of the row's 5th-best screen provably contains
        # the exact top-5; captured columns are re-accumulated in
        # strict j-order and ranked on the EXACT values with the
        # oracle's (c DESC, nbr_id) tie-break — emitted rows are
        # bit-identical to the full strict-fold form this replaces
        # (sf1: 34-70 s → ~4 s).
        chunk = 256
        for batch in batches:
            all_qids = batch["vec_id"].to_numpy()
            if not len(all_qids):
                continue
            all_q = np.stack(batch["embedding"].to_numpy()).astype(
                np.float64
            )
            for s in range(0, len(all_qids), chunk):
                qids = all_qids[s : s + chunk]
                emb_q = all_q[s : s + chunk]
                qi = np.searchsorted(ids_s, qids)
                r_s, c_s, e_s, rank = _knn_topk_block(
                    emb_q, m, nrm[qi], nrm, topk, self_col=qi
                )
                yield pd.DataFrame({
                    "vec_id": qids[r_s],
                    "nbr_id": ids_s[c_s],
                    "nbr_rank": rank.astype(np.int32),
                    "cos_raw": e_s,
                })

    scored = emb.select("vec_id", "embedding").mapInPandas(
        knn, "vec_id bigint, nbr_id bigint, nbr_rank int, cos_raw double"
    )
    return scored.select(
        "vec_id",
        "nbr_id",
        "nbr_rank",
        stable_round(F.col("cos_raw"), 4).alias("cos_sim"),
    )


_X4L_QB, _X4L_CB = 8, 8


def _knn_block_kernel(topk: int):
    """Cogroup kernel for the blocked exact k-NN join: one call
    receives ONE (query-block, corpus-block) cell — a |Q|/QB × |C|/CB
    slice of the full similarity matrix — and emits each query row's
    top-k within that corpus block under the oracle's (c DESC, nbr_id)
    comparator, via the same GEMM-screen/strict-fold/tie-capped
    _knn_topk_block as x4k, so every emitted cosine is bit-identical
    to the per-process-matrix path. Norms re-accumulate per block in
    strict j-order — per-vector folds, so the block decomposition
    cannot change their values."""
    import numpy as np
    import pandas as pd

    def block(qpdf, cpdf):
        if not len(qpdf) or not len(cpdf):
            return pd.DataFrame(
                {
                    "vec_id": np.empty(0, np.int64),
                    "nbr_id": np.empty(0, np.int64),
                    "cos_raw": np.empty(0, np.float64),
                }
            )
        qids = qpdf["vec_id"].to_numpy()
        Q = np.stack(qpdf["embedding"].to_numpy()).astype(np.float64)
        corder = np.argsort(cpdf["vec_id"].to_numpy())
        cids = cpdf["vec_id"].to_numpy()[corder]
        M = np.stack(cpdf["embedding"].to_numpy()[corder]).astype(
            np.float64
        )

        def nrm(X):
            acc = np.zeros(len(X))
            for j in range(X.shape[1]):  # strict fold = oracle nrm
                acc += X[:, j] * X[:, j]
            # r16 (ADVICE r15): zero-norm rows would NaN the screen
            # and the ascending k-th order statistic would silently
            # drop valid neighbors — fail loud on undefined input
            assert (acc > 0.0).all(), (
                "zero-norm embedding row(s): cosine is undefined"
            )
            return np.sqrt(acc)

        pos = np.clip(np.searchsorted(cids, qids), 0, len(cids) - 1)
        self_col = np.where(cids[pos] == qids, pos, -1)
        r, c, v, _rank = _knn_topk_block(
            Q, M, nrm(Q), nrm(M), topk, self_col=self_col
        )
        return pd.DataFrame(
            {"vec_id": qids[r], "nbr_id": cids[c], "cos_raw": v}
        )

    return block


@query("x4l_knn_join_blocked", oracle=_X4K_ORACLE)
def x4l_knn_join_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x4k PAST per-process-matrix range (VERDICT r11 #2): the exact
    k-NN join as a row-block × column-block grid, hash-identical to
    x4k (same oracle). No task ever holds more than one (|C|/QB ×
    |C|/CB) cell: queries replicate across the CB corpus blocks and
    corpus rows across the QB query blocks (corpus×(QB+CB) rows
    through ONE cogroup exchange — linear in the corpus, never the
    pair count), each grid cell computes its block-local exact top-5
    with the tie-capped GEMM/strict-fold kernel, and a row_number
    window merges the per-block top-5s — correct because a global
    top-5 neighbor is necessarily in its block's top-5 under the same
    total (c DESC, nbr_id) comparator. Peak task memory is the
    (|Q|/QB)·(|C|/CB) screen block (sf1: 2.5k × 2.5k f64 ≈ 50 MB) —
    O(block), pinned by tests/test_arrow_kernels.py — vs x4k's full
    corpus matrix per PROCESS; at 100 TB you raise QB/CB with corpus
    size (cells shrink quadratically in the block count) where x4k's
    anchor shape becomes unrunnable. This also future-proofs the
    recall truth sets (tools/recall_lsh_sf1.py) at corpora past
    matrix range."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        "embedding",
        F.pmod(F.col("vec_id"), F.lit(_X4L_QB)).cast("int").alias("qb"),
        F.explode(
            F.array(*[F.lit(i) for i in range(_X4L_CB)])
        ).alias("cb"),
    )
    c = emb.select(
        "vec_id",
        "embedding",
        F.explode(
            F.array(*[F.lit(i) for i in range(_X4L_QB)])
        ).alias("qb"),
        F.pmod(F.col("vec_id"), F.lit(_X4L_CB)).cast("int").alias("cb"),
    )
    partial = (
        q.groupBy("qb", "cb")
        .cogroup(c.groupBy("qb", "cb"))
        .applyInPandas(
            _knn_block_kernel(_X4K_TOPK),
            "vec_id bigint, nbr_id bigint, cos_raw double",
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos_raw").desc(), F.col("nbr_id")
    )
    return (
        partial.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _X4K_TOPK)
        .select(
            "vec_id",
            "nbr_id",
            F.col("rn").cast("int").alias("nbr_rank"),
            stable_round(F.col("cos_raw"), 4).alias("cos_sim"),
        )
    )


@query(
    "x2c_dedup_with_dups",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text, lang FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text, lang FROM documents WHERE doc_id % 10 = 0
    ), ranked AS (
      SELECT lang, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      FROM corpus
    )
    SELECT lang,
           count(*) AS n_rows,
           CAST(count(CASE WHEN rn = 1 THEN 1 END) AS BIGINT) AS n_kept,
           CAST(count(CASE WHEN rn > 1 THEN 1 END) AS BIGINT) AS n_removed
    FROM ranked GROUP BY lang
    """,
)
def x2c_dedup_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 on a corpus that actually contains duplicates (every 10th doc
    re-appears under a new id — built identically in both engines since
    the raw documents are all-unique). Keep-first dedup accounting per
    language: at 100 TB the partition key is a 128-bit content hash,
    not the text itself; semantics identical."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    dups = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1000000)
    )
    corpus = docs.unionByName(dups)
    w = Window.partitionBy("text").orderBy("doc_id")
    ranked = corpus.select("lang", F.row_number().over(w).alias("rn"))
    return ranked.groupBy("lang").agg(
        F.count("*").alias("n_rows"),
        F.count(F.when(F.col("rn") == 1, 1)).alias("n_kept"),
        F.count(F.when(F.col("rn") > 1, 1)).alias("n_removed"),
    )


def _assign_cells(vecs: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid (cosine) assignment: broadcast the centroid
    relation (k rows) against the vector relation — no shuffle of the
    vectors; the per-vector argmax is a window over the k-way expanded
    rows keyed by vec_id. Input vecs must carry (vec_id, e, nrm)."""
    scored = vecs.crossJoin(F.broadcast(centroids)).withColumn(
        "sim",
        _dot(F.col("e"), F.col("c"))
        / (F.col("nrm") * F.sqrt(_dot(F.col("c"), F.col("c")))),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), "cell")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .drop("rk", "sim", "c")
    )


def _centroid_means(assigned: DataFrame) -> DataFrame:
    """Element-wise mean of member vectors per cell → new centroids.
    posexplode → groupBy (cell, pos) avg → re-assemble sorted by pos.
    Every group is (cell, dimension) — bounded cardinality k×d, so the
    shuffle stays tiny no matter how many vectors train (the 100 TB
    Lloyd-step shape; the alternative collect_list-per-cell would pull
    n/k full vectors into one task)."""
    exploded = assigned.select(
        "cell", F.posexplode(F.col("e")).alias("pos", "val")
    )
    means = exploded.groupBy("cell", "pos").agg(F.avg("val").alias("m"))
    return (
        means.groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            "cell", F.transform(F.col("pm"), lambda s: s["m"]).alias("c")
        )
    )


def ivf_centroids(
    vecs: DataFrame, n_centroids: int, iters: int = 2, sample_mod: int = 4
) -> DataFrame:
    """Sampled k-means coarse quantizer as a PURE PLAN (no job runs
    until the consumer executes): seeds are a deterministic
    hash-ordered sample, then `iters` Lloyd iterations (assign →
    element-wise mean) expressed as DataFrame transformations over a
    hash-sampled 1/sample_mod training subset. Lazy training keeps the
    repo invariant that query construction schedules no job
    (tests/test_plans.py); production at 100 TB would materialize this
    same plan's result once (k×d doubles) and reuse it across probes.
    A cell that loses every member simply drops out of the relation —
    consumers see k' ≤ k cells."""
    train = vecs.select("vec_id", "e", "nrm")
    if sample_mod > 1:
        train = train.filter(
            F.pmod(F.xxhash64(F.col("vec_id")), F.lit(sample_mod)) == 0
        )
    cw = Window.orderBy(F.xxhash64(F.col("vec_id")))
    cent = (
        train.orderBy(F.xxhash64(F.col("vec_id")))
        .limit(n_centroids)
        .select(
            (F.row_number().over(cw) - 1).alias("cell"),
            F.col("e").alias("c"),
        )
    )
    for _ in range(iters):
        assigned = _assign_cells(train, cent).select("cell", "e")
        cent = _centroid_means(assigned)
    return cent


def ivf_topk(
    emb: DataFrame,
    query_vec_id: int = 0,
    n_centroids: int = 16,
    nprobe: int = 6,
    iters: int = 2,
    sample_mod: int = 4,
    k: int = 10,
) -> DataFrame:
    """IVF probe over any (vec_id, label, embedding) relation: assign
    every vector to its trained cell, rank cells by query-to-centroid
    similarity, exact-rescore only the nprobe nearest cells."""
    centroids = ivf_centroids(
        emb.select(
            "vec_id", _as_double(F.col("embedding")).alias("e")
        ).withColumn("nrm", F.sqrt(_dot(F.col("e"), F.col("e")))),
        n_centroids,
        iters=iters,
        sample_mod=sample_mod,
    )
    vecs = emb.select(
        "vec_id", "label", _as_double(F.col("embedding")).alias("e")
    ).withColumn("nrm", F.sqrt(_dot(F.col("e"), F.col("e"))))
    assigned = _assign_cells(vecs, centroids)
    # query row; probe its nprobe nearest cells only
    qrow = assigned.filter(F.col("vec_id") == query_vec_id).select(
        F.col("e").alias("qe"), F.col("nrm").alias("qnrm")
    )
    probe_cells = (
        centroids.crossJoin(F.broadcast(qrow))
        .withColumn(
            "qsim",
            _dot(F.col("c"), F.col("qe"))
            / (F.sqrt(_dot(F.col("c"), F.col("c"))) * F.col("qnrm")),
        )
        .orderBy(F.desc("qsim"), "cell")
        .limit(nprobe)
        .select("cell")
    )
    cand = assigned.join(F.broadcast(probe_cells), "cell").filter(
        F.col("vec_id") != query_vec_id
    )
    out = cand.crossJoin(F.broadcast(qrow)).select(
        "vec_id",
        "label",
        stable_round(
            _dot(F.col("e"), F.col("qe")) / (F.col("nrm") * F.col("qnrm")), 4
        ).alias("cos_sim"),
    )
    return out.orderBy(F.desc("cos_sim"), "vec_id").limit(k)


@query("x4e_ann_ivf_topk")  # rows-only: approximate by design
def x4e_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4e: IVF (inverted-file) ANN — the other scale path next to LSH
    (x4b). Coarse quantizer: k-means centroids trained by 2 lazy Lloyd
    iterations over a deterministic 25% hash-sample (``ivf_centroids``
    — the sampled-k-means shape; at production scale the identical plan
    is materialized once and reused). Each vector is assigned to its
    nearest centroid via one broadcast of ≤16 centroids — no shuffle of
    the vectors; a query probes only the nprobe=6 nearest cells. The
    cell id is the partition key at 100 TB — a probe touches a handful
    of partitions.

    Recall honesty: on these near-uniform testdata embeddings IVF
    recall tracks ~nprobe/n_cells regardless of training (no cluster
    structure to learn) — trained centroids tile uniform data into
    EQUAL cells, so measured recall is 0.4 at sf0.01 / 0.5 at sf0.1
    (asserted ≥0.3 = the 6/16 information floor; the round-2 untrained
    stand-in's 0.8 was an artifact of unequal cells covering more
    data). The operator's ≥0.9-recall claim holds where IVF is
    actually applicable — data WITH cluster structure — proven by
    tests/test_extensions_recall.py::test_ivf_trained_recall_clustered
    (recall@10 ≥ 0.9 at nprobe/n_cells = 6/16)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, query_vec_id=0, n_centroids=16, nprobe=6, iters=2, sample_mod=4
    )


@query(
    "x10_deterministic_sample",
    oracle="""
    SELECT lang,
           count(*) AS n_total,
           CAST(count(CASE WHEN doc_id % 10 = 0 THEN 1 END) AS BIGINT)
             AS n_sampled,
           CAST(count(CASE WHEN doc_id % 100 < 80 THEN 1 END) AS BIGINT)
             AS n_train,
           CAST(count(CASE WHEN doc_id % 100 BETWEEN 80 AND 89 THEN 1 END)
             AS BIGINT) AS n_val,
           CAST(count(CASE WHEN doc_id % 100 >= 90 THEN 1 END) AS BIGINT)
             AS n_test
    FROM documents GROUP BY lang
    """,
)
def x10_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10 (training-data ops): reproducible sampling + train/val/test
    fold assignment. Deterministic key-derived buckets — never
    `df.sample()` (RNG-seeded sampling isn't reproducible across
    engines, partitionings, or reruns). Here the bucket is key-mod so
    the oracle can verify; in production it's `pmod(xxhash64(key), N)`
    — same shape, decorrelated from key locality. Fold assignment is a
    pure projection: no shuffle, stable under repartitioning, and any
    downstream join on the fold column prunes."""
    docs = load_table(spark, sf_dir, "documents")
    # explicit third branch (no .otherwise): a NULL key stays fold-less
    # instead of silently leaking into the test split
    fold = (
        F.when(F.col("doc_id") % 100 < 80, "train")
        .when(F.col("doc_id") % 100 < 90, "val")
        .when(F.col("doc_id") % 100 >= 90, "test")
    )
    tagged = docs.select(
        "lang",
        (F.col("doc_id") % 10 == 0).alias("in_sample"),
        fold.alias("fold"),
    )
    return tagged.groupBy("lang").agg(
        F.count("*").alias("n_total"),
        F.count(F.when(F.col("in_sample"), 1)).alias("n_sampled"),
        F.count(F.when(F.col("fold") == "train", 1)).alias("n_train"),
        F.count(F.when(F.col("fold") == "val", 1)).alias("n_val"),
        F.count(F.when(F.col("fold") == "test", 1)).alias("n_test"),
    )


@query(
    "x11_deterministic_shuffle",
    oracle="""
    SELECT doc_id,
           md5(concat(CAST(doc_id AS VARCHAR), 'epoch1')) AS shuffle_key
    FROM documents
    ORDER BY shuffle_key, doc_id
    LIMIT 50
    """,
)
def x11_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X11 (training-data ops): reproducible corpus shuffle — order by
    a salted cryptographic hash of the key, never by RNG. The salt is
    the epoch: changing it reshuffles, same salt replays bit-identically
    across engines, partitionings and reruns (the property data loaders
    need for resumable training). Top-50 here so the oracle output is
    bounded; the full-shuffle form is the same expression feeding
    ``repartitionByRange(shuffle_key)`` + ``sortWithinPartitions`` — a
    single range exchange at 100 TB, and this limit plans as
    TakeOrderedAndProject (per-partition heaps, no global sort)."""
    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("epoch1")))
    return (
        docs.select("doc_id", key.alias("shuffle_key"))
        .orderBy("shuffle_key", "doc_id")
        .limit(50)
    )


@query(
    "x12_sequence_packing",
    oracle="""
    WITH toks AS (
      SELECT lang, doc_id,
             len(list_filter(string_split(text, ' '), w -> w <> ''))
               AS n_tokens
      FROM documents
    ), packed AS (
      SELECT lang, n_tokens,
             CAST(floor((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tokens) / 512) AS BIGINT) AS seq_id
      FROM toks
    )
    SELECT lang, seq_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM packed GROUP BY lang, seq_id
    """,
)
def x12_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12 (training-data ops): pack documents into fixed token-budget
    training sequences (budget 512) — greedy contiguous packing: a
    document joins sequence floor(cum_tokens_before/512) within its
    lang stream. Pure window cumsum + integer division: deterministic,
    one shuffle on the stream key, no UDF. At 100 TB the stream key
    becomes (lang, shard) so each window partition is bounded; the
    downstream writer emits one training sequence per (lang, seq_id)
    group."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(_words())
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = docs.select("lang", "doc_id", n_tokens.alias("n_tokens"))
    packed = toks.select(
        "lang",
        "n_tokens",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")) / 512
        ).cast("long").alias("seq_id"),
    )
    return packed.groupBy("lang", "seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


@query(
    "x13_text_chunking",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), w -> w <> '') AS t
      FROM documents
    ), starts AS (
      SELECT doc_id, t,
             unnest(range(0, greatest(len(t), 1), 24)) AS s
      FROM toks
    )
    SELECT doc_id,
           CAST(s / 24 AS BIGINT) AS chunk_id,
           CAST(len(list_slice(t, s + 1, s + 32)) AS INTEGER)
             AS n_chunk_tokens,
           array_to_string(list_slice(t, s + 1, s + 32), ' ') AS chunk_text
    FROM starts
    """,
)
def x13_text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X13 (training-data ops): overlapping text chunking — 32-token
    windows with stride 24 (8-token overlap), the embedding-pipeline
    primitive (chunk → embed → index). Pure array expressions:
    sequence() builds the start offsets, transform+slice cuts the
    windows, posexplode emits one row per chunk — per-row codegen, no
    UDF, no shuffle. At 100 TB this is a map-only stage whose output
    feeds the ANN index builder (x4b) partitioned by (doc_id band)."""
    size_, stride = 32, 24
    docs = load_table(spark, sf_dir, "documents")
    tokens = _words()
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(tokens) - 1, F.lit(0)), F.lit(stride)
    )
    chunks = F.transform(
        starts, lambda s: F.concat_ws(" ", F.slice(tokens, s + 1, size_))
    )
    exploded = docs.select(
        "doc_id",
        F.size(tokens).alias("n_tokens"),
        F.posexplode(chunks).alias("chunk_id", "chunk_text"),
    )
    n_chunk = F.size(_words("chunk_text"))
    return exploded.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        n_chunk.alias("n_chunk_tokens"),
        "chunk_text",
    )


@query(
    "x14_dedup_clusters",
    oracle="""
    WITH RECURSIVE v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
             sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    ), edges AS (
      SELECT a.vec_id AS src, b.vec_id AS dst
      FROM v a JOIN v b ON a.vec_id <> b.vec_id
      WHERE list_sum(list_transform(list_zip(a.e, b.e), s -> s[1] * s[2]))
            / (a.nrm * b.nrm) >= 0.25
    ), reach(id, lab) AS (
      SELECT vec_id, vec_id FROM v
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
    )
    SELECT id AS vec_id, min(lab) AS component
    FROM reach GROUP BY id
    """,
)
def x14_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X14 (dedup family): near-duplicate CLUSTERS — connected
    components of the x4c pair graph (cos ≥ 0.25), so "keep one
    canonical document per duplicate group" becomes a filter on
    component == vec_id. The exact edge set (the O(n²) pair join, the
    disclosed oracle baseline) feeds the one connected-components
    engine, alternating large-star/small-star (connected_components,
    O(log n) rounds, the labeling x14b runs over LSH edges). Genuinely
    iterative — a driver loop of whole-DataFrame joins — yet still
    oracle-checkable: DuckDB computes the same components with a
    recursive CTE."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        _as_double(F.col("embedding")).alias("e"),
        F.sqrt(_dot(_as_double(F.col("embedding")),
                    _as_double(F.col("embedding")))).alias("nrm"),
    )
    a, b = v.alias("a"), v.alias("b")
    cos = _dot(F.col("a.e"), F.col("b.e")) / (F.col("a.nrm") * F.col("b.nrm"))
    edges = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .filter(cos >= 0.25)
        .select(F.col("a.vec_id").alias("src"), F.col("b.vec_id").alias("dst"))
    )
    return connected_components(emb.select("vec_id"), edges)


# ---------------------------------------------------------------------------
# X14b / connected components at scale: large-star/small-star over LSH edges
# ---------------------------------------------------------------------------

def _star_neighbors(edges: DataFrame) -> DataFrame:
    """Symmetrize an undirected edge list given as (src, dst) halves."""
    return edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond"): every node links its strictly-larger
    neighbors to the minimum of its neighborhood (incl. itself).
    One shuffle on the node id; output is again an undirected edge
    list in (src>dst)-normalized half form.

    r15 (guide §2.4 — remove shuffles outright): NO trailing
    distinct(). The only composition is _small_star(_large_star(cur)),
    and _small_star is duplicate-insensitive (its groupBy-min ignores
    duplicates; its own trailing distinct() dedups the round's
    output), so deduping here only added a full-edge-set Exchange
    every round. Measured at sf1 (3.8M LSH edges): CC rounds
    18.7 s → 10.4 s, identical components."""
    nbrs = _star_neighbors(edges)
    m = nbrs.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    out = (
        nbrs.join(m, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    return out


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: normalize edges larger→smaller, then every
    node links its smaller neighbors AND itself to the neighborhood
    minimum. After alternation converges, every component is a star
    rooted at its minimum id."""
    directed = edges.select(
        F.greatest("src", "dst").alias("src"),
        F.least("src", "dst").alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    m = directed.groupBy("src").agg(F.min("dst").alias("m"))
    linked = (
        directed.join(m, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    self_link = m.select("src", F.col("m").alias("dst"))
    return (
        linked.unionByName(self_link)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def connected_components(
    vertices: DataFrame, edges: DataFrame, max_rounds: int = 50
) -> DataFrame:
    """Connected components via alternating large-star/small-star —
    the O(log n)-round rewrite of plain min-label propagation (which
    needs graph-diameter rounds); the one engine x14, x14b and the
    keep-best family label with. `vertices` carries `vec_id`;
    `edges` is an undirected half edge list (src, dst). Returns
    (vec_id, component) with component = min vec_id of the component.

    Scale: each round is two shuffles keyed on node id; edge count
    never grows above the input edge count (stars only contract), and
    lineage is truncated every round via lazy localCheckpoint. No
    cartesian product anywhere — composed with `fused_lsh_pairs`
    edge generation (x14b) the full clustering pipeline is
    shuffle-keyed end to end, unlike the exact x14 whose O(n²) edge
    join is the disclosed oracle baseline."""
    cur = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )
    try:
        n_cur = cur.count()
        for _ in range(max_rounds):
            nxt = _small_star(_large_star(cur)).localCheckpoint(
                eager=False
            ).persist()
            # exact set-equality check, one pass instead of two
            # subtracts (r11: the subtract pair re-shuffled BOTH full
            # edge sets twice per round — ~30% of x14b's sf1 wall):
            # both sides are distinct sets, so equal counts + empty
            # anti-join ⇒ equal sets
            n_nxt = nxt.count()
            converged = n_nxt == n_cur and (
                nxt.join(cur, ["src", "dst"], "left_anti").isEmpty()
            )
            cur.unpersist()
            cur, n_cur = nxt, n_nxt
            if converged:
                break
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_rounds} rounds"
            )
        # at convergence edges are (child → root); roots and isolated
        # vertices label themselves
        labels = cur.groupBy("src").agg(F.min("dst").alias("component"))
        return vertices.select("vec_id").join(
            labels, vertices["vec_id"] == labels["src"], "left"
        ).select(
            "vec_id",
            F.coalesce(F.col("component"), F.col("vec_id")).alias("component"),
        )
    finally:
        cur.unpersist()


@query("x14b_dedup_clusters_lsh")  # rows-only: LSH edge recall is approximate
def x14b_dedup_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X14b: near-duplicate clusters AT SCALE — the x14 semantics with
    both quadratic parts replaced by shuffle-keyed algorithms: edge
    generation via the FUSED multi-table LSH kernel
    (`fused_lsh_pairs`, the x4j2 shape at L=12 with a k-scaled
    modulus — `lsh_modulus`, keeping planes duplicate-free at any
    adaptive k, r12 — and SCALE-ADAPTIVE bucket width:
    `adaptive_lsh_bits` derives k from
    the parquet footer's row count, so grading corpora run the pinned
    k=3 bit-identically while sf1 runs k=7 and 100 TB keeps k growing
    with the occupancy bound; no cross join, the bucket block runs as
    numpy per co-located group. The prior column-expression self-join
    rescored every candidate through the interpreted fold at fixed
    k=3 and ran >10 min at sf1 where this runs seconds, r11) and
    component labeling via alternating large-star/small-star
    (O(log n) rounds instead of diameter). LSH edges are a subset of
    the exact edge set (candidates are exact-rescored), so every x14b
    cluster is a refinement of an x14 cluster AT ANY k — pinned by
    tests/test_dedup_clusters.py together with component-set equality
    at the measured edge recall."""
    emb = load_table(spark, sf_dir, "embeddings")
    k = adaptive_lsh_bits(_embedding_count(sf_dir))
    # r12: edges come from the MIXED plane family with Hamming-1
    # multi-probe (the x4n configuration at adaptive k). The r11 form
    # ran arithmetic planes at fixed mod 61, which (a) silently
    # duplicated 23 of 84 planes at sf1's k=7 (ADVICE r11) and
    # (b) belongs to the sawtooth family whose correlated planes cap
    # edge recall (~0.46 measured at the sf1 parameterization,
    # RECALL_SF1.json); mixed+probe lifts the measured edge recall
    # while the modulus scales with k (lsh_modulus) so planes stay
    # duplicate-free at any corpus size. Cluster refinement pins are
    # parameterization-independent (every LSH edge is exact-rescored,
    # so x14b components refine x14's at ANY recall).
    edges = fused_lsh_pairs(
        emb,
        n_tables=12,
        n_bits=k,
        mod=lsh_modulus(12, k),
        threshold=0.25,
        plane="mixed",
        probe_hamming=1,
    ).select(F.col("vec_a").alias("src"), F.col("vec_b").alias("dst"))
    return connected_components(emb.select("vec_id"), edges)


def _word_grams(hs: Column) -> Column:
    """Karp-Rabin roll of every 5-word window of a word-hash array."""
    return F.transform(
        F.sequence(F.lit(1), F.size(hs) - 4),
        lambda i: kr_roll(F.slice(hs, i, 5)),
    )


_WORD_GRAMS_SQL = (
    "list_transform(range(1, len(hs) - 3), "
    f"i -> {kr_roll_sql('list_slice(hs, i, i + 4)')})"
)


@query(
    "x9b_fingerprint_arith",
    oracle=f"""
    WITH wh AS (SELECT doc_id, {word_hashes_sql()} AS hs FROM documents)
    SELECT doc_id,
           {kr_roll_sql('hs')} AS content_hash,
           CASE WHEN len(hs) >= 5 THEN list_min({_WORD_GRAMS_SQL})
           END AS winnow_fp
    FROM wh
    """,
)
def x9b_fingerprint_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9b: the rolling-hash fingerprint GRADED cross-engine — x9's
    shape re-expressed in pure integer arithmetic (the texthash
    Karp-Rabin roll, base 131, mod 2³¹−1, seed 7) instead of
    engine-native xxhash64, so DuckDB recomputes bit-identical values:
    per-word char rolls feed per-5-gram word-hash rolls; content hash
    rolls over all word hashes; the winnowing fingerprint is the min
    gram hash. This is the content-defined fingerprint an incremental
    dedup store (x22) keys on — engine-portable, so a store written by
    this engine validates against any other implementation.

    Scale shape: entirely per-row array expressions inside codegen —
    no UDF, no shuffle, no join; cost is O(total chars) map-only."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", word_hashes().alias("hs"))
    winnow = F.when(F.size("hs") >= 5, F.array_min(_word_grams(F.col("hs"))))
    return d.select(
        "doc_id",
        kr_roll(F.col("hs")).alias("content_hash"),
        winnow.alias("winnow_fp"),
    )


_MH_K = 16  # signature length; 4 bands x 4 rows


def _arith_band_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, band_idx, band_hash) rows of the portable
    MinHash-LSH banding (x3d's machinery, shared with x22c): word
    Karp-Rabin rolls → 5-gram hashes → 16 universal-hash minima →
    4 rolled band keys. Docs under 5 words produce no bands (nothing
    to block on)."""
    d = docs.select("doc_id", "lang", word_hashes().alias("hs")).filter(
        F.size("hs") >= 5
    )
    d = d.select("doc_id", "lang", _word_grams(F.col("hs")).alias("gs"))
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(_MH_K - 1)),
        lambda k: F.array_min(
            F.transform(
                F.col("gs"),
                lambda g: ((2 * k + 3).cast("long") * g
                           + (5 * k + 7).cast("long")) % KR_M,
            )
        ),
    )
    d = d.select("doc_id", "lang", sig.alias("s"))
    bands = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(3)),
            lambda j: F.struct(
                j.cast("long").alias("band_idx"),
                kr_roll(F.slice(F.col("s"), j * 4 + 1, 4)).alias("band_hash"),
            ),
        )
    )
    return d.select("doc_id", "lang", bands.alias("b")).select(
        "doc_id", "lang", "b.band_idx", "b.band_hash"
    )


# DuckDB twin of _arith_band_frame: the ``bands`` CTE
_ARITH_BANDS_SQL = f"""
    WITH wh AS (
      SELECT doc_id, lang, {word_hashes_sql()} AS hs FROM documents
    ), gh AS (
      SELECT doc_id, lang, {_WORD_GRAMS_SQL} AS gs
      FROM wh WHERE len(hs) >= 5
    ), sig AS (
      SELECT doc_id, lang,
             list_transform(range(0, {_MH_K}), k ->
               list_min(list_transform(gs,
                 g -> ((2 * k + 3) * g + 5 * k + 7) % {KR_M}))) AS s
      FROM gh
    ), bands AS (
      SELECT doc_id, lang, CAST(j AS BIGINT) AS band_idx,
             {kr_roll_sql('list_slice(s, j * 4 + 1, j * 4 + 4)')} AS band_hash
      FROM sig, UNNEST(range(0, 4)) AS t(j)
    )"""


@query(
    "x3d_minhash_lsh_arith",
    oracle=_ARITH_BANDS_SQL
    + """
    SELECT band_idx, band_hash, count(*) AS n_docs
    FROM bands GROUP BY 1, 2 HAVING count(*) >= 2
    """,
)
def x3d_minhash_lsh_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3d: MinHash-LSH GRADED end-to-end, bit-exact across engines —
    x3's candidate-generation machinery with every hash replaced by
    portable integer arithmetic: word-level Karp-Rabin rolls feed
    5-gram hashes, 16 universal-hash permutations ((2k+3)·g + 5k+7
    mod 2³¹−1) take the per-doc minima, and 4 bands of 4 rows roll
    into bucket keys. The graded result is the collision table itself
    — every (band, bucket) holding ≥2 documents, i.e. exactly the
    candidate set the near-dup join would probe. Documents with
    identical text land in identical buckets in both engines by
    construction.

    Scale shape: signatures are per-row array expressions (map-only,
    codegen); the only shuffle is the band-bucket groupBy whose key
    count is bounded by 4×docs — the same plan x3 runs, now provably
    identical to an independent implementation."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        _arith_band_frame(docs)
        .groupBy("band_idx", "band_hash")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
    )


@query(
    "x3e_simhash_arith",
    oracle=f"""
    WITH wh AS (
      SELECT doc_id, lang, {word_hashes_sql()} AS hs FROM documents
    ), sig AS (
      SELECT doc_id, lang,
             list_sum(list_transform(range(0, 16), b ->
               CASE WHEN list_sum(list_transform(hs, h ->
                 CASE WHEN (h >> CAST(b AS INTEGER)) & 1 = 1
                      THEN 1 ELSE -1 END)) > 0
                    THEN CAST(1 AS BIGINT) << CAST(b AS INTEGER)
                    ELSE 0 END)) AS simhash
      FROM wh
    )
    SELECT lang, simhash, count(*) AS n_docs
    FROM sig GROUP BY 1, 2 HAVING count(*) >= 2
    """,
)
def x3e_simhash_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3e: SimHash GRADED bit-exact — x3b's bit vote (simhash16) over
    the portable word hashes (x9b's Karp-Rabin roll) instead of
    xxhash64. The graded result is the collision table (lang, simhash)
    → count for buckets holding ≥2 documents — identical documents
    collide identically in both engines.

    Scale shape: map-only array expressions per row, one groupBy on
    the 16-bit bucket key — the same near-dup blocking plan as x3b,
    now independently verifiable."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", word_hashes().alias("hs"))
        .select("lang", simhash16(F.col("hs")).alias("simhash"))
        .groupBy("lang", "simhash")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
    )


@query(
    "x22c_incremental_near_dup_arith",
    oracle=_ARITH_BANDS_SQL
    + """, store AS (
      SELECT DISTINCT band_idx, band_hash FROM bands WHERE doc_id % 2 = 0
    ), probe AS (
      SELECT b.doc_id, b.lang,
             max(CASE WHEN s.band_hash IS NOT NULL THEN 1 ELSE 0 END)
               AS hit
      FROM bands b
      LEFT JOIN store s
        ON b.band_idx = s.band_idx AND b.band_hash = s.band_hash
      WHERE b.doc_id % 2 = 1
      GROUP BY 1, 2
    )
    SELECT lang,
           count(*) AS n_batch,
           sum(hit) AS n_near_dup,
           count(*) - sum(hit) AS n_new
    FROM probe GROUP BY lang
    """,
)
def x22c_incremental_near_dup_arith(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X22c: the incremental near-dup DECISION graded bit-exact —
    x22b's accept/reject flow on portable hashes: even doc_ids play
    the accepted-corpus fingerprint store (distinct band keys — the
    bytes-per-doc state x22's store persists), odd doc_ids are the
    incoming batch, and a batch document is a near-dup iff ANY of its
    4 band keys collides with the store. Per lang: batch size, dups
    caught, new accepted.

    Scale shape: the store side is the DISTINCT band-key set (tiny
    relative to text); the probe is one equi-join on (band_idx,
    band_hash) + per-doc max — exactly the bucketed probe
    operators/incremental.py runs against its parquet store, now
    independently verified."""
    docs = load_table(spark, sf_dir, "documents")
    bands = _arith_band_frame(docs)
    store = (
        bands.filter(F.col("doc_id") % 2 == 0)
        .select("band_idx", "band_hash")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    probe = (
        bands.filter(F.col("doc_id") % 2 == 1)
        .join(store, ["band_idx", "band_hash"], "left")
        .groupBy("doc_id", "lang")
        .agg(F.max(F.coalesce("_hit", F.lit(0))).alias("hit"))
    )
    return probe.groupBy("lang").agg(
        F.count("*").alias("n_batch"),
        F.sum("hit").alias("n_near_dup"),
        (F.count("*") - F.sum("hit")).alias("n_new"),
    )


_HP_PLANES = 8  # random-hyperplane count; bucket space = 2^8


@query(
    "x4g_ann_hyperplane_arith",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, label,
             {" + ".join(
                 f"(CASE WHEN list_reduce([CAST(0.0 AS DOUBLE)] || "
                 f"list_transform(range(0, 64), j -> "
                 f"CAST(embedding[CAST(j AS INTEGER) + 1] AS DOUBLE) * "
                 f"((31 * {p} + 17 * j) % 13 - 6)), "
                 f"(a, x) -> a + x) > 0 THEN {1 << p} ELSE 0 END)"
                 for p in range(_HP_PLANES)
             )} AS bucket
      FROM embeddings
    )
    SELECT bucket,
           count(*) AS n_vecs,
           count(DISTINCT label) AS n_labels
    FROM b GROUP BY bucket
    """,
)
def x4g_ann_hyperplane_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4g: random-hyperplane LSH bucketing GRADED bit-exact — x4b's
    ANN blocking step with the hyperplanes replaced by deterministic
    integer-component planes ((31p + 17j) mod 13 − 6) and the dot
    products computed as LEFT-FOLDS over the per-dimension products,
    so both engines run the identical IEEE addition sequence and
    every sign (hence every bucket bit) agrees exactly. The graded
    result is the bucket histogram with per-bucket label diversity —
    the partition layout an ANN probe would search.

    Scale shape: bucket assignment is a per-row array fold inside
    codegen (no UDF); the only shuffle is the 2⁸-key histogram
    groupBy. The real ANN path (x4b/x4f) keeps engine-native hashing
    for speed; this twin proves the blocking math is portable."""
    emb = load_table(spark, sf_dir, "embeddings")
    vd = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    def plane_dot(p: int):
        # NB: a two-arg transform lambda would receive the array INDEX
        # as its second argument — capture the plane via closure only
        def prod(j):
            return F.element_at(vd, j + 1) * (
                (31 * p + 17 * j) % 13 - 6
            ).cast("double")

        prods = F.transform(F.sequence(F.lit(0), F.lit(63)), prod)
        return F.aggregate(prods, F.lit(0.0), lambda a, x: a + x)

    bucket = F.lit(0).cast("int")
    for p in range(_HP_PLANES):
        bucket = bucket + F.when(plane_dot(p) > 0, F.lit(1 << p)).otherwise(0)
    return (
        emb.select(bucket.alias("bucket"), "label")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_vecs"),
            F.countDistinct("label").alias("n_labels"),
        )
    )


def _assign_first8(emb: DataFrame, *carry: str) -> DataFrame:
    """The float-L2 assignment to a fixed codebook, the first 8
    vectors, shared by x4h and x45: every squared distance is the
    left fold over the 64 per-dimension squared differences (the
    oracle's list_reduce, term for term), and each vector takes its
    per-vector minimum, ties → lowest centroid id. Returns (vec_id,
    centroid_id, *carry), each ``carry`` column min-aggregated (it is
    per-vector, so min is just its value). The 8-row codebook
    broadcasts; the only row shuffle is the per-vector argmin."""
    cent = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c")
    )
    diff = lambda j: (  # noqa: E731
        F.element_at(F.col("embedding"), j + 1).cast("double")
        - F.element_at(F.col("c"), j + 1).cast("double")
    )
    prods = F.transform(
        F.sequence(F.lit(0), F.lit(63)), lambda j: diff(j) * diff(j)
    )
    dist = F.aggregate(prods, F.lit(0.0), lambda a, x: a + x)
    a = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id", *carry, "centroid_id", dist.alias("dist")
    )
    m = a.groupBy("vec_id").agg(F.min("dist").alias("md"))
    return (
        a.join(m, "vec_id")
        .filter(F.col("dist") == F.col("md"))
        .groupBy("vec_id")
        .agg(
            F.min("centroid_id").alias("centroid_id"),
            *[F.min(c).alias(c) for c in carry],
        )
    )


@query(
    "x4h_ivf_assign_arith",
    oracle="""
    WITH cent AS (
      SELECT vec_id AS centroid_id, embedding AS c
      FROM embeddings WHERE vec_id < 8
    ), a AS (
      SELECT e.vec_id, e.label, cent.centroid_id,
             list_reduce([CAST(0.0 AS DOUBLE)] ||
               list_transform(range(0, 64), j ->
                 (CAST(e.embedding[CAST(j AS INTEGER) + 1] AS DOUBLE)
                  - CAST(cent.c[CAST(j AS INTEGER) + 1] AS DOUBLE))
                 * (CAST(e.embedding[CAST(j AS INTEGER) + 1] AS DOUBLE)
                    - CAST(cent.c[CAST(j AS INTEGER) + 1] AS DOUBLE))),
               (acc, x) -> acc + x) AS dist
      FROM embeddings e, cent
    ), m AS (
      SELECT vec_id, min(dist) AS md FROM a GROUP BY 1
    ), assigned AS (
      SELECT a.vec_id, min(a.centroid_id) AS centroid_id,
             min(a.label) AS label
      FROM a JOIN m ON a.vec_id = m.vec_id AND a.dist = m.md
      GROUP BY a.vec_id
    )
    SELECT centroid_id,
           count(*) AS n_assigned,
           count(DISTINCT label) AS n_labels
    FROM assigned GROUP BY centroid_id
    """,
)
def x4h_ivf_assign_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4h: the IVF coarse-quantizer ASSIGNMENT graded bit-exact —
    x4e's partition step with the trained centroids replaced by a
    deterministic codebook (the first 8 vectors) and every L2
    distance computed as a left-fold over per-dimension squared
    differences, so both engines run identical IEEE sequences and
    every argmin (ties → lowest centroid id) agrees exactly. The
    graded result is the inverted-list layout: per centroid, how many
    vectors land there and their label diversity.

    Scale shape: the codebook broadcasts (8 rows — real IVF codebooks
    are ~√N, still broadcast-size); assignment is map-side over the
    vectors; the only row shuffle is the per-vector argmin groupBy.
    x4e keeps the trained-k-means path (iterative float — honestly
    ungradable bit-exact); this twin proves the probe math."""
    assigned = _assign_first8(
        load_table(spark, sf_dir, "embeddings"), "label"
    )
    return assigned.groupBy("centroid_id").agg(
        F.count("*").alias("n_assigned"),
        F.countDistinct("label").alias("n_labels"),
    )


_OUT_FP = 10_000  # fixed-point scale: embedding values → exact ints
_OUT_SIGMA_NUM = 2  # outlier threshold: dist² > 2 × label mean dist²


@query(
    "x37_embedding_outliers",
    oracle=f"""
    WITH fp AS (
      SELECT vec_id, label,
             list_transform(embedding,
               v -> CAST(round(CAST(v AS DOUBLE) * {_OUT_FP}) AS BIGINT))
               AS q
      FROM embeddings
    ), comp AS (
      SELECT label, j, sum(q[CAST(j AS INTEGER) + 1]) AS s, count(*) AS n
      FROM fp, range(0, 64) t(j)
      GROUP BY label, j
    ), cent AS (
      SELECT label, list(CAST(s AS DOUBLE) / n ORDER BY j) AS c
      FROM comp GROUP BY label
    ), d AS (
      SELECT fp.vec_id, fp.label,
             list_reduce([CAST(0.0 AS DOUBLE)] ||
               list_transform(range(0, 64), j ->
                 (CAST(fp.q[CAST(j AS INTEGER) + 1] AS DOUBLE)
                  - cent.c[CAST(j AS INTEGER) + 1])
                 * (CAST(fp.q[CAST(j AS INTEGER) + 1] AS DOUBLE)
                    - cent.c[CAST(j AS INTEGER) + 1])),
               (a, x) -> a + x) AS dist
      FROM fp JOIN cent USING (label)
    ), dq AS (
      SELECT vec_id, label, dist,
             CAST(round(dist) AS BIGINT) AS dfp
      FROM d
    ), stats AS (
      SELECT label, count(*) AS nl, sum(dfp) AS sd FROM dq GROUP BY label
    )
    SELECT dq.vec_id, dq.label,
           round(dist / {_OUT_FP * _OUT_FP} + 5e-10, 6) AS l2sq,
           dq.dfp * stats.nl > {_OUT_SIGMA_NUM} * stats.sd AS is_outlier
    FROM dq JOIN stats USING (label)
    """,
)
def x37_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X37: semantic outlier detection — flag embeddings whose squared
    L2 distance to their label's centroid exceeds twice the label's
    mean squared distance. This is the embedding-space curation
    primitive (SemDeDup/D4-style) that drops mislabeled or off-
    distribution examples before training.

    Determinism (cross-engine bit-exact, same discipline as x4g/x4h):
    embeddings are quantized to fixed-point BIGINTs, so the per-
    (label, dim) centroid sums are exact integer arithmetic in any
    aggregation order; centroid components are a single exact-int /
    exact-int double division; the distance is a sequential left-fold
    over dimensions (identical IEEE addition order in both engines);
    and the outlier comparison re-quantizes dist² to integers so the
    mean-threshold test is pure integer math — no float aggregation
    across rows anywhere.

    Scale shape: stage 1 (centroids) is posexplode + partial-
    aggregated groupBy(label, dim) — the wire carries labels × dims
    rows, independent of corpus size. Stage 2 broadcasts the tiny
    centroid table and computes distances map-only; stage 3's
    per-label stats are one more labels-sized aggregate joined back
    by broadcast. Total: two tiny shuffles + one corpus scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.transform(
        F.col("embedding"),
        lambda v: F.round(v.cast("double") * _OUT_FP).cast("bigint"),
    )
    fp = emb.select("vec_id", "label", q.alias("q"))
    comp = (
        fp.select("label", F.posexplode("q").alias("j", "qj"))
        .groupBy("label", "j")
        .agg(F.sum("qj").alias("s"), F.count("*").alias("n"))
    )
    cent = comp.groupBy("label").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct("j", (F.col("s").cast("double") / F.col("n")).alias("cj"))
                )
            ),
            lambda st: st.getField("cj"),
        ).alias("c")
    )
    qd = F.col("q")
    cd = F.col("c")
    diffsq = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda j: (
            (F.element_at(qd, j + 1).cast("double") - F.element_at(cd, j + 1))
            * (F.element_at(qd, j + 1).cast("double") - F.element_at(cd, j + 1))
        ),
    )
    dist = F.aggregate(diffsq, F.lit(0.0), lambda a, x: a + x)
    d = fp.join(F.broadcast(cent), "label").select(
        "vec_id",
        "label",
        dist.alias("dist"),
        F.round(dist).cast("bigint").alias("dfp"),
    )
    stats = d.groupBy("label").agg(
        F.count("*").alias("nl"), F.sum("dfp").alias("sd")
    )
    return d.join(F.broadcast(stats), "label").select(
        "vec_id",
        "label",
        stable_round(F.col("dist") / (_OUT_FP * _OUT_FP), 6).alias("l2sq"),
        (F.col("dfp") * F.col("nl") > _OUT_SIGMA_NUM * F.col("sd")).alias(
            "is_outlier"
        ),
    )


@query(
    "x42_image_ahash_dedup",
    oracle="""
    WITH d AS (
      SELECT doc_id, doc_id % 7 AS seed FROM documents
    ), p AS (
      SELECT doc_id, seed,
             list_transform(range(0, 64),
                            i -> ((seed * 37 + 11) * i) % 256) AS px
      FROM d
    ), t AS (
      SELECT doc_id, px,
             list_reduce([CAST(0 AS BIGINT)] ||
                         list_transform(px, v -> CAST(v AS BIGINT)),
                         (a, b) -> a + b) AS s
      FROM p
    ), h AS (
      SELECT doc_id,
             list_reduce([CAST(0 AS BIGINT)] ||
               list_transform(range(0, 32), i ->
                 CASE WHEN px[CAST(i AS INTEGER) + 1] * 64 > s
                      THEN CAST(1 AS BIGINT) << CAST(i AS INTEGER)
                      ELSE CAST(0 AS BIGINT) END),
               (a, b) -> a + b) AS hash_lo,
             list_reduce([CAST(0 AS BIGINT)] ||
               list_transform(range(32, 64), i ->
                 CASE WHEN px[CAST(i AS INTEGER) + 1] * 64 > s
                      THEN CAST(1 AS BIGINT) << (CAST(i AS INTEGER) - 32)
                      ELSE CAST(0 AS BIGINT) END),
               (a, b) -> a + b) AS hash_hi
      FROM t
    )
    SELECT hash_hi, hash_lo,
           CAST(count(*) AS BIGINT) AS n_images,
           min(doc_id) AS canonical_doc
    FROM h GROUP BY hash_hi, hash_lo
    """,
)
def x42_image_ahash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X42: IMAGE near-dup dedup by perceptual average-hash — the
    multimodal twin of x2's text dedup, graded end-to-end through the
    REAL pixel path: every document synthesizes an 8×8 grayscale PNG
    whose pixels are a pure function of doc_id (7 distinct images
    corpus-wide), the Spark side must zlib-inflate + defilter the PNG
    and compute the 64-bit aHash from the decoded bytes, and the
    oracle recomputes the identical hash from the pixel formula —
    same x5b discipline, extended from dimensions to CONTENT.

    The hash test is division-free (pixel·64 > sum — exact integers),
    so both engines agree bit-for-bit; the hash splits into two
    32-bit halves to stay in signed-64 range.

    Scale shape: synth + decode + hash are two Arrow-batched map
    stages (the one legitimately-Python surface, like x5b); the dedup
    itself is ONE shuffle on the hash key. Near-dup (hamming ≤ k)
    extends by banding the hash into 16-bit keys and probing buckets
    — the x3 MinHash pattern, no all-pairs anywhere."""
    from pdf_etl_engine_spark.sources.multimodal import (
        with_average_hash,
        with_synth_patterned_images,
    )

    docs = load_table(spark, sf_dir, "documents")
    hashes = with_average_hash(with_synth_patterned_images(docs))
    return hashes.groupBy("hash_hi", "hash_lo").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.min("doc_id").alias("canonical_doc"),
    )


@query(
    "x43_audio_fingerprint_dedup",
    oracle="""
    WITH d AS (
      SELECT doc_id, doc_id % 5 AS seed FROM documents
    ), p AS (
      SELECT doc_id,
             list_transform(range(0, 64),
                            i -> ((seed * 41 + 13) * i) % 4096) AS sm
      FROM d
    ), t AS (
      SELECT doc_id, sm,
             list_reduce([CAST(0 AS BIGINT)] ||
                         list_transform(sm, v -> CAST(v AS BIGINT)),
                         (a, b) -> a + b) AS s
      FROM p
    ), h AS (
      SELECT doc_id,
             list_reduce([CAST(0 AS BIGINT)] ||
               list_transform(range(0, 32), i ->
                 CASE WHEN sm[CAST(i AS INTEGER) + 1] * 64 > s
                      THEN CAST(1 AS BIGINT) << CAST(i AS INTEGER)
                      ELSE CAST(0 AS BIGINT) END),
               (a, b) -> a + b) AS fp_lo,
             list_reduce([CAST(0 AS BIGINT)] ||
               list_transform(range(32, 64), i ->
                 CASE WHEN sm[CAST(i AS INTEGER) + 1] * 64 > s
                      THEN CAST(1 AS BIGINT) << (CAST(i AS INTEGER) - 32)
                      ELSE CAST(0 AS BIGINT) END),
               (a, b) -> a + b) AS fp_hi
      FROM t
    )
    SELECT fp_hi, fp_lo,
           CAST(count(*) AS BIGINT) AS n_clips,
           min(doc_id) AS canonical_doc
    FROM h GROUP BY fp_hi, fp_lo
    """,
)
def x43_audio_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X43: AUDIO near-dup dedup by energy fingerprint — completes the
    multimodal dedup triple (x2 text, x42 image, x43 audio). Every
    document synthesizes a 64-sample 16-bit mono WAV whose PCM content
    is a pure function of doc_id (5 distinct clips corpus-wide); the
    Spark side must walk the RIFF chunks and unpack the int16 samples
    (`decode_wav_samples` — the sample-level decode the metadata walk
    stops short of), compute the 64-bit louder-than-mean fingerprint
    division-free, and the oracle recomputes the identical bits from
    the sample formula.

    Scale shape: synth + decode + fingerprint are Arrow-batched map
    stages; dedup is ONE shuffle on the fingerprint key; near-dup
    extends via 16-bit fingerprint bands exactly like x42."""
    from pdf_etl_engine_spark.sources.multimodal import (
        with_audio_fingerprint,
        with_synth_patterned_audio,
    )

    docs = load_table(spark, sf_dir, "documents")
    fps = with_audio_fingerprint(with_synth_patterned_audio(docs))
    return fps.groupBy("fp_hi", "fp_lo").agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.min("doc_id").alias("canonical_doc"),
    )


@query(
    "x45_semdedup",
    oracle="""
    WITH cent AS (
      SELECT vec_id AS centroid_id, embedding AS c
      FROM embeddings WHERE vec_id < 8
    ), a AS (
      SELECT e.vec_id, cent.centroid_id,
             list_reduce([CAST(0.0 AS DOUBLE)] ||
               list_transform(range(0, 64), j ->
                 (CAST(e.embedding[CAST(j AS INTEGER) + 1] AS DOUBLE)
                  - CAST(cent.c[CAST(j AS INTEGER) + 1] AS DOUBLE))
                 * (CAST(e.embedding[CAST(j AS INTEGER) + 1] AS DOUBLE)
                    - CAST(cent.c[CAST(j AS INTEGER) + 1] AS DOUBLE))),
               (acc, x) -> acc + x) AS dist
      FROM embeddings e, cent
    ), m AS (
      SELECT vec_id, min(dist) AS md FROM a GROUP BY 1
    ), assigned AS (
      SELECT a.vec_id, min(a.centroid_id) AS centroid_id
      FROM a JOIN m ON a.vec_id = m.vec_id AND a.dist = m.md
      GROUP BY a.vec_id
    ), v AS (
      SELECT s.vec_id, s.centroid_id,
             list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS e,
             sqrt(list_reduce([CAST(0.0 AS DOUBLE)] ||
               list_transform(e.embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
               (acc, x) -> acc + x)) AS nrm
      FROM assigned s JOIN embeddings e ON e.vec_id = s.vec_id
    ), removed AS (
      SELECT DISTINCT b.vec_id
      FROM v a JOIN v b
        ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
      WHERE list_reduce([CAST(0.0 AS DOUBLE)] ||
              list_transform(list_zip(a.e, b.e), s -> s[1] * s[2]),
              (acc, x) -> acc + x) / (a.nrm * b.nrm) >= 0.25
    )
    SELECT v.centroid_id,
           count(*) AS n_vecs,
           CAST(count(CASE WHEN r.vec_id IS NULL THEN 1 END) AS BIGINT)
             AS n_kept,
           CAST(count(r.vec_id) AS BIGINT) AS n_removed
    FROM v LEFT JOIN removed r ON r.vec_id = v.vec_id
    GROUP BY v.centroid_id
    """,
)
def x45_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-surface SEMANTIC dedup (SemDeDup-shaped, public method:
    cluster embeddings, prune near-duplicates within clusters only):
    vectors are assigned to their nearest codebook centroid (the x4h
    bit-exact L2 fold, ties → lowest centroid id), then near-dup
    pruning — drop any vector with a lower-id cluster-mate at
    cosine ≥ 0.25 — runs INSIDE clusters, so the quadratic term is
    bounded by the largest cluster, not the corpus. Graded output is
    the per-cluster keep/remove accounting; every distance and cosine
    is a left-fold, so both engines agree bit-for-bit.

    100 TB shape: codebook broadcasts (√N rows); assignment is
    map-side; the pairs join shuffles on centroid_id — same blocking
    discipline as x4i's LSH buckets, with cluster size bounded by the
    codebook granularity (and a hot cluster splits under AQE). The
    full method composes: x4e's trained k-means supplies real
    centroids; this twin proves the pipeline's math end to end.

    r10 → r11 shape history: the r10 form generated ~25M ID-only
    candidate pairs per sf1 run via the centroid_id self-join and
    rescored them against the per-process matrix (39.5 s, after the
    r9 payload-through-the-join + interpreted fold form's 68.7 s).
    r11 FUSES pruning into one applyInPandas kernel per centroid
    group (the x4j2 discipline): each cluster's vectors co-locate
    once (corpus-bounded exchange), the all-pairs block is
    GEMM-screened and only survivors re-accumulate in strict fold
    order — no pair relation ever materializes, no per-process
    matrix needed, and a hot cluster is one task whose size the
    codebook granularity bounds. Assignment stays JVM fold-form
    (8 × 20k rows only); the graded accounting is unchanged and
    bit-exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = _assign_first8(emb)
    clustered = assigned.join(emb.select("vec_id", "embedding"), "vec_id")
    scored = clustered.groupBy("centroid_id").applyInPandas(
        _bucket_allpairs_kernel(0.25),
        "vec_a bigint, vec_b bigint, cos_raw double",
    )
    removed = (
        scored.select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("is_removed", F.lit(1))
    )
    return (
        assigned.join(removed, "vec_id", "left")
        .groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.count(F.when(F.col("is_removed").isNull(), 1))
            .cast("long").alias("n_kept"),
            F.count("is_removed").cast("long").alias("n_removed"),
        )
    )


def _fp_quantize(col):
    """Embedding → fixed-point BIGINT components: floor(x·10⁴). One
    IEEE multiply + floor per component, bit-identical in any engine;
    every downstream sum/distance on the integers is then exact and
    accumulation-order-free — the discipline that makes iterative
    k-means gradable cross-engine at all (float Lloyd means depend on
    partition-level reduce order; integer sums don't)."""
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * 10000).cast("long")
    )


def _fp_sqdist(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _fp_assign(
    vecs: DataFrame, cent: DataFrame, key: str | None = None
) -> DataFrame:
    """Nearest-centroid assignment on fixed-point vectors: broadcast
    the codebook, integer L2 fold per (vector, cell), argmin with
    ties → lowest cell id. Map-side except the per-vector argmin
    groupBy — the x4h shape. With ``key`` (the PQ subspace ``s``)
    vectors and centroids pair within equal keys and the argmin is
    per (vec_id, key). Returns (vec_id, [key,] cell, md)."""
    keys = ["vec_id"] + ([key] if key else [])
    pairs = (
        vecs.join(F.broadcast(cent), key)
        if key
        else vecs.crossJoin(F.broadcast(cent))
    )
    a = pairs.select(
        *keys, "cell", _fp_sqdist(F.col("qa"), F.col("c")).alias("dist")
    )
    m = a.groupBy(*keys).agg(F.min("dist").alias("md"))
    return (
        a.join(m, keys)
        .filter(F.col("dist") == F.col("md"))
        .groupBy(*keys)
        .agg(F.min("cell").alias("cell"), F.min("md").alias("md"))
    )


def _fp_lloyd(
    qdf: DataFrame, k: int, key: str | None = None, iters: int = 2
) -> DataFrame:
    """`iters` Lloyd iterations over the deterministic 1/4 training
    sample (vec_id % 4 = 0), entirely in fixed-point integers: seeds
    are the first ``k`` vec_ids of the FULL relation, the mean is
    floor(Σqⱼ / n) via one exactly-specified double division per
    component. ``key`` trains one codebook per key value (the PQ
    subspace ``s``). Returns ([key,] cell, c: array<bigint>); a cell
    that loses every member drops out (k' ≤ k), identically in both
    engines, and the surviving cells keep their seed ids."""
    keys = [key] if key else []
    train = qdf.filter(F.col("vec_id") % 4 == 0)
    cent = qdf.filter(F.col("vec_id") < k).select(
        *keys, F.col("vec_id").alias("cell"), F.col("qa").alias("c")
    )
    for _ in range(iters):
        assigned = _fp_assign(train, cent, key)
        long = (
            assigned.join(train, ["vec_id"] + keys)
            .select(*keys, "cell", F.posexplode("qa").alias("j", "qj"))
        )
        comps = long.groupBy(*keys, "cell", "j").agg(
            F.floor(
                F.sum("qj").cast("double") / F.count(F.lit(1))
            ).cast("long").alias("cj")
        )
        cent = comps.groupBy(*keys, "cell").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "cj"))),
                lambda s: s["cj"],
            ).alias("c")
        )
    return cent


@query(
    "x45b_semdedup_trained",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qa
      FROM embeddings
    ), train AS (
      SELECT * FROM q WHERE vec_id % 4 = 0
    ), cent0 AS (
      SELECT vec_id AS cell, qa AS c FROM q WHERE vec_id < 8
    ), a1 AS (
      SELECT t.vec_id, s.cell,
             list_reduce([CAST(0 AS BIGINT)] ||
               list_transform(list_zip(t.qa, s.c),
                 p -> (p[1] - p[2]) * (p[1] - p[2])),
               (acc, x) -> acc + x) AS dist
      FROM train t, cent0 s
    ), m1 AS (
      SELECT vec_id, min(dist) AS md FROM a1 GROUP BY 1
    ), as1 AS (
      SELECT a1.vec_id, min(cell) AS cell
      FROM a1 JOIN m1 ON a1.vec_id = m1.vec_id AND a1.dist = m1.md
      GROUP BY 1
    ), c1 AS (
      SELECT cell, r.j,
             CAST(floor(CAST(sum(t.qa[CAST(r.j AS INTEGER) + 1]) AS DOUBLE)
                        / count(*)) AS BIGINT) AS cj
      FROM as1 JOIN train t USING (vec_id), range(0, 64) r(j)
      GROUP BY cell, r.j
    ), cent1 AS (
      SELECT cell, list(cj ORDER BY j) AS c FROM c1 GROUP BY cell
    ), a2 AS (
      SELECT t.vec_id, s.cell,
             list_reduce([CAST(0 AS BIGINT)] ||
               list_transform(list_zip(t.qa, s.c),
                 p -> (p[1] - p[2]) * (p[1] - p[2])),
               (acc, x) -> acc + x) AS dist
      FROM train t, cent1 s
    ), m2 AS (
      SELECT vec_id, min(dist) AS md FROM a2 GROUP BY 1
    ), as2 AS (
      SELECT a2.vec_id, min(cell) AS cell
      FROM a2 JOIN m2 ON a2.vec_id = m2.vec_id AND a2.dist = m2.md
      GROUP BY 1
    ), c2 AS (
      SELECT cell, r.j,
             CAST(floor(CAST(sum(t.qa[CAST(r.j AS INTEGER) + 1]) AS DOUBLE)
                        / count(*)) AS BIGINT) AS cj
      FROM as2 JOIN train t USING (vec_id), range(0, 64) r(j)
      GROUP BY cell, r.j
    ), cent2 AS (
      SELECT cell, list(cj ORDER BY j) AS c FROM c2 GROUP BY cell
    ), af AS (
      SELECT q.vec_id, s.cell,
             list_reduce([CAST(0 AS BIGINT)] ||
               list_transform(list_zip(q.qa, s.c),
                 p -> (p[1] - p[2]) * (p[1] - p[2])),
               (acc, x) -> acc + x) AS dist
      FROM q, cent2 s
    ), mf AS (
      SELECT vec_id, min(dist) AS md FROM af GROUP BY 1
    ), v AS (
      SELECT asf.vec_id, asf.cell AS centroid_id, q.qa,
             list_reduce([CAST(0 AS BIGINT)] ||
               list_transform(q.qa, x -> x * x),
               (acc, x) -> acc + x) AS n2
      FROM (
        SELECT af.vec_id, min(cell) AS cell
        FROM af JOIN mf ON af.vec_id = mf.vec_id AND af.dist = mf.md
        GROUP BY 1
      ) asf JOIN q ON q.vec_id = asf.vec_id
    ), removed AS (
      SELECT DISTINCT b.vec_id
      FROM v a JOIN v b
        ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
      WHERE list_reduce([CAST(0 AS BIGINT)] ||
              list_transform(list_zip(a.qa, b.qa), p -> p[1] * p[2]),
              (acc, x) -> acc + x) > 0
        AND 16.0 * CAST(list_reduce([CAST(0 AS BIGINT)] ||
              list_transform(list_zip(a.qa, b.qa), p -> p[1] * p[2]),
              (acc, x) -> acc + x) AS DOUBLE)
            * CAST(list_reduce([CAST(0 AS BIGINT)] ||
              list_transform(list_zip(a.qa, b.qa), p -> p[1] * p[2]),
              (acc, x) -> acc + x) AS DOUBLE)
            >= CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)
    )
    SELECT v.centroid_id,
           count(*) AS n_vecs,
           CAST(count(CASE WHEN r.vec_id IS NULL THEN 1 END) AS BIGINT)
             AS n_kept,
           CAST(count(r.vec_id) AS BIGINT) AS n_removed
    FROM v LEFT JOIN removed r ON r.vec_id = v.vec_id
    GROUP BY v.centroid_id
    """,
)
def x45b_semdedup_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X45b: SemDeDup on TRAINED centroids (VERDICT r7 #4) — the full
    composition x45 only claimed: x4e's sampled-Lloyd k-means (2
    iterations, seeds = first 8 vec_ids, deterministic 1/4 hash
    sample) supplies the codebook, then the within-cluster cosine
    prune runs against it. The whole pipeline — training included —
    is oracle-graded bit-exact via the fixed-point discipline
    (_fp_quantize): vectors quantize to BIGINT once, Lloyd means are
    floor(Σ/n) (one exactly-specified double division per component),
    distances are integer folds, and the cosine≥0.25 prune is the
    sqrt-free integer form dot>0 ∧ 16·dot² ≥ ‖a‖²·‖b‖² (compared in
    DOUBLE — same IEEE sequence both engines, no accumulation-order
    dependence anywhere).

    100 TB shape, same as x45: the codebook broadcasts into every
    assignment pass (training touches only the 1/4 sample; at scale
    the trained codebook is materialized once, k×d ints); the pairs
    join is a hash equi-join on centroid_id, quadratic only within a
    cluster. Reference anchor: clustering+prune replaces the
    reference's per-document Gemini-embedding comparisons
    (main.py:694-715's extract path feeding dedup downstream)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qdf = emb.select("vec_id", _fp_quantize(F.col("embedding")).alias("qa"))
    cent = _fp_lloyd(qdf, k=8)
    v = (
        _fp_assign(qdf, cent)
        .withColumnRenamed("cell", "centroid_id")
        .join(qdf, "vec_id")
        .select(
            "vec_id",
            "centroid_id",
            "qa",
            F.aggregate(
                F.transform(F.col("qa"), lambda x: x * x),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("n2"),
        )
    )
    va, vb = v.alias("a"), v.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.qa"), F.col("b.qa"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    removed = (
        va.join(
            vb,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("b.vec_id").alias("vec_id"),
                dot.alias("dot"),
                F.col("a.n2").alias("na2"), F.col("b.n2").alias("nb2"))
        .filter(
            (F.col("dot") > 0)
            & (
                F.lit(16.0)
                * F.col("dot").cast("double")
                * F.col("dot").cast("double")
                >= F.col("na2").cast("double") * F.col("nb2").cast("double")
            )
        )
        .select("vec_id")
        .distinct()
        .withColumn("is_removed", F.lit(1))
    )
    return (
        v.join(removed, "vec_id", "left")
        .groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.count(F.when(F.col("is_removed").isNull(), 1))
            .cast("long").alias("n_kept"),
            F.count("is_removed").cast("long").alias("n_removed"),
        )
    )


# ---------------------------------------------------------------------------
# X55 — keep-best dedup: cluster near-duplicates, keep the best-quality
# representative per cluster (not the arbitrary min-id one)
# ---------------------------------------------------------------------------

_X55_GRAMS_SQL = """
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
               i -> concat_ws(' ', string_split(text, ' ')[i],
                              string_split(text, ' ')[i+1],
                              string_split(text, ' ')[i+2]))) AS g,
             len(list_filter(string_split(text, ' '), w -> w <> ''))
               AS n_tokens
      FROM documents
"""


# Shared by x55 / x55b: the two register the SAME recursive-CTE oracle
# VERBATIM — the candidate-generation strategy (all-pairs /
# prefix-filtered) is an exactness-preserving implementation detail, so
# both must produce the identical keep-best answer.
_X55_KEEP_BEST_ORACLE = f"""
    WITH RECURSIVE g AS (
      {_X55_GRAMS_SQL}
    ), pairs AS (
      SELECT a.doc_id AS src, b.doc_id AS dst
      FROM g a JOIN g b ON a.doc_id < b.doc_id
      WHERE 2 * len(list_intersect(a.g, b.g))
            >= len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))
    ), edges AS (
      SELECT src, dst FROM pairs
      UNION ALL SELECT dst, src FROM pairs
    ), reach(id, lab) AS (
      SELECT doc_id, doc_id FROM g
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
    ), comp AS (
      SELECT id AS doc_id, min(lab) AS component FROM reach GROUP BY id
    ), ranked AS (
      SELECT c.component, c.doc_id, g.n_tokens,
             row_number() OVER (PARTITION BY c.component
                                ORDER BY g.n_tokens DESC, c.doc_id) AS rn,
             count(*) OVER (PARTITION BY c.component) AS n_members
      FROM comp c JOIN g ON g.doc_id = c.doc_id
    )
    SELECT component, doc_id AS rep_doc_id,
           CAST(n_members AS BIGINT) AS n_members,
           CAST(n_tokens AS BIGINT) AS rep_n_tokens
    FROM ranked WHERE rn = 1
    """


@query("x55_cluster_keep_best", oracle=_X55_KEEP_BEST_ORACLE)
def x55_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X55: keep-BEST dedup — the selection policy production corpora
    actually want. Min-id-per-cluster (x14's "component == vec_id"
    filter) throws away information: when a page is crawled five
    times, you keep the LONGEST/highest-quality capture, not the one
    with the smallest id. Pipeline: exact word-3-gram Jaccard edges
    (J ≥ 0.5, compared in pure integers: 2·|∩| ≥ |∪|), connected
    components via the large-star/small-star engine (the x14/x14b
    labeling — O(log n) rounds, min-label = cluster id), then one
    row_number window picks each cluster's representative by
    (n_tokens DESC, doc_id) — "keep longest", the RefinedWeb/CCNet
    convention — with singletons passing through as their own
    clusters. Every stage integer-deterministic, so the whole
    policy — clustering included — grades value-exact against the
    recursive-CTE oracle.

    Scale shape: the edge join is gram-keyed (explode → equi-join on
    the gram, count = |∩| since shingles are distinct) — blocking,
    not all-pairs; the oracle's a×b Jaccard join is the disclosed
    O(n²) baseline. At 100 TB you swap the exact gram join for the
    x4n/x22 band-LSH candidate source — the policy composes with any
    edge generator, the same split x14 (exact edges) vs x14b (LSH
    edges) documents. Hot-gram skew in the candidate join is the
    known hazard; the mitigation is the x46 content-defined gram
    SAMPLING or a document-frequency prefix filter, both ahead of
    this join, neither changing the selection policy being graded
    here."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_tokens = F.size(F.filter(words, lambda w: w != ""))
    g = docs.select(
        "doc_id",
        _shingles(F.col("text"), 3).alias("g"),
        n_tokens.alias("n_tokens"),
    ).localCheckpoint(eager=False)
    sizes = g.select("doc_id", F.size("g").alias("sz"))
    ex = g.select("doc_id", F.explode("g").alias("gram"))
    inter = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst")
        )
        .agg(F.count("*").alias("c"))
    )
    pairs = (
        inter.join(sizes.withColumnRenamed("doc_id", "src"), "src")
        .withColumnRenamed("sz", "sza")
        .join(sizes.withColumnRenamed("doc_id", "dst"), "dst")
        .withColumnRenamed("sz", "szb")
        .filter(
            2 * F.col("c") >= F.col("sza") + F.col("szb") - F.col("c")
        )
        .select("src", "dst")
    )
    comp = connected_components(
        g.select(F.col("doc_id").alias("vec_id")), pairs
    ).select(F.col("vec_id").alias("doc_id"), "component")
    ranked = comp.join(g.select("doc_id", "n_tokens"), "doc_id")
    w_rank = Window.partitionBy("component").orderBy(
        F.desc("n_tokens"), "doc_id"
    )
    w_size = Window.partitionBy("component")
    return (
        ranked.withColumn("rn", F.row_number().over(w_rank))
        .withColumn("n_members", F.count("*").over(w_size))
        .filter(F.col("rn") == 1)
        .select(
            "component",
            F.col("doc_id").alias("rep_doc_id"),
            F.col("n_members").cast("long").alias("n_members"),
            F.col("n_tokens").cast("long").alias("rep_n_tokens"),
        )
    )


@query("x55b_keep_best_prefix", oracle=_X55_KEEP_BEST_ORACLE)
def x55b_keep_best_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X55b: x55 with PREFIX-FILTERED candidate generation — the
    hot-gram skew mitigation x55's docstring names, implemented
    exactness-preserving (same oracle VERBATIM, hash-identical
    answer).

    Prefix-filter lemma (Chaudhuri et al. SSJoin / PPJoin): under any
    GLOBAL total order of grams, two sets with |∩| ≥ t must share an
    element within their (|x| − t + 1)-prefixes. J ≥ 0.5 implies
    |∩| ≥ |x|/2 for BOTH sets (|∪| ≥ max sizes), so each doc need
    only expose its first ⌊|g|/2⌋ + 1 grams — ordered by ASCENDING
    document frequency, rarest first — to the candidate join; using
    each set's own (longer) prefix only widens the candidate set, so
    completeness holds pairwise. The payoff at 100 TB: the global
    order puts stopword-trigram grams (df in the millions — exactly
    the keys that make the naive gram join quadratic) at the END of
    every doc's ordering, so they fall OUTSIDE every prefix and
    generate zero candidates; candidate volume tracks rare-gram
    co-occurrence instead of hot-gram df². Verified candidates then
    rescore with one exact array_intersect per PAIR (pair-bounded
    payload, set semantics identical to the oracle's list_intersect).
    Cost added: one gram-df aggregate + one doc-keyed window; cost
    removed: the df² explosion on every hot gram. The selection
    policy downstream is x55's, unchanged.

    r15 (guide §2.3/§3 — shuffle fewer bytes, pre-filter before the
    expensive join): the candidate join also applies PPJoin's SIZE
    and POSITIONAL filters (Xiao et al., "Efficient Similarity Joins
    for Near Duplicate Detection") as pure codegen arithmetic in the
    join condition — J ≥ 0.5 forces 2·min(|a|,|b|) ≥ max(|a|,|b|),
    and at a prefix match at ranks (ra, rb) the overlap can reach the
    required t = ⌈(|a|+|b|)/3⌉ only if 1 + min(|a|−ra, |b|−rb) ≥ t.
    Completeness: overlap elements are ORDER-ALIGNED in both docs
    (each doc's grams are ranked by the same global (df, gram)
    order), so at the pair's globally-first shared gram e₁ every
    other overlap element sits after e₁ in BOTH docs, giving
    1 + min(remaining) ≥ |∩| ≥ t — the surviving occurrence; pinned
    by test_positional_filter_property plus the unchanged oracle.
    Measured sf1: candidate pairs 40.3M → 1.3M pre-distinct, whole
    query 133 s → 46 s (the rescore joins were 60% of the wall)."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_tokens = F.size(F.filter(words, lambda w: w != ""))
    g = docs.select(
        "doc_id",
        _shingles(F.col("text"), 3).alias("g"),
        n_tokens.alias("n_tokens"),
    ).localCheckpoint(eager=False)
    ex = g.select("doc_id", F.size("g").alias("sz"), F.explode("g").alias("gram"))
    gram_df = ex.groupBy("gram").agg(F.count("*").alias("df"))
    w_rare = Window.partitionBy("doc_id").orderBy("df", "gram")
    pref = (
        ex.join(gram_df, "gram")
        .withColumn("rk", F.row_number().over(w_rare))
        .filter(F.col("rk") <= F.floor(F.col("sz") / 2) + 1)
        .select("doc_id", "gram", "sz", "rk")
    )
    a, b = pref.alias("a"), pref.alias("b")
    sza, szb = F.col("a.sz"), F.col("b.sz")
    rka, rkb = F.col("a.rk"), F.col("b.rk")
    cand = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (2 * F.least(sza, szb) >= F.greatest(sza, szb))
            & (
                1 + F.least(sza - rka, szb - rkb)
                >= F.floor((sza + szb + 2) / 3)
            ),
        )
        .select(
            F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst")
        )
        .distinct()
    )
    ga = g.select(F.col("doc_id").alias("src"), F.col("g").alias("ga"))
    gb = g.select(F.col("doc_id").alias("dst"), F.col("g").alias("gb"))
    inter = F.size(F.array_intersect(F.col("ga"), F.col("gb")))
    pairs = (
        cand.join(ga, "src")
        .join(gb, "dst")
        .filter(
            2 * inter >= F.size("ga") + F.size("gb") - inter
        )
        .select("src", "dst")
    )
    comp = connected_components(
        g.select(F.col("doc_id").alias("vec_id")), pairs
    ).select(F.col("vec_id").alias("doc_id"), "component")
    ranked = comp.join(g.select("doc_id", "n_tokens"), "doc_id")
    w_rank = Window.partitionBy("component").orderBy(
        F.desc("n_tokens"), "doc_id"
    )
    w_size = Window.partitionBy("component")
    return (
        ranked.withColumn("rn", F.row_number().over(w_rank))
        .withColumn("n_members", F.count("*").over(w_size))
        .filter(F.col("rn") == 1)
        .select(
            "component",
            F.col("doc_id").alias("rep_doc_id"),
            F.col("n_members").cast("long").alias("n_members"),
            F.col("n_tokens").cast("long").alias("rep_n_tokens"),
        )
    )
