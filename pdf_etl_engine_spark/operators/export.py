"""Training-shard export — the END of the curation pipeline: take the
corpus through quality filtering (x7/x36 gates), exact dedup (x2),
the deterministic epoch shuffle (x33), balanced sharding, and write
the result as parquet shards plus a manifest. This is the deliverable
a pretraining run actually consumes; everything else in this package
exists to feed it.

Design rules:
* Deterministic end to end — same (corpus, epoch, params) produce
  byte-identical shard CONTENT on any cluster: the shuffle key is a
  Knuth multiplicative hash of doc_id salted by epoch (x33's key), the
  dedup keeps the lowest doc_id per text, and within-shard order is a
  window over the hash key. Resumable training depends on this.
* One wide shuffle total: the quality gate and dedup-key derivation
  are map-only; dedup is one groupBy(text-key); the shard write is a
  single repartition on the shard column with an in-partition sort.
* The manifest records what was DROPPED and why (quality vs dup) —
  a silent filter is a corrupted dataset.
"""

from __future__ import annotations

import json as _json
import os as _os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pdf_etl_engine_spark.catalog import load_table
from pdf_etl_engine_spark.functions.texthash import words as _words

# x33's epoch-salted Knuth multiplicative hash (mod 2^32)
_KNUTH = 2654435761
_MOD = 4294967296


def export_training_shards(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    epoch: int = 0,
    n_shards: int = 8,
    min_tokens: int = 5,
    max_stop_ratio: float = 0.9,
    merges: list | None = None,
) -> dict:
    """Filter → dedup → shuffle → shard → write. With ``merges`` (a
    trained BPE merge list from ``tokenizer.train_bpe``), each row
    also carries ``bpe_tokens``/``n_bpe_tokens`` — model-ready input
    next to the raw text. Returns the manifest
    (also written to ``out_dir/_manifest.json``):
    ``{epoch, n_shards, n_docs_in, n_dropped_quality, n_dropped_dup,
    n_docs_out, n_tokens_out, shards: {id: {n_docs, n_tokens}}}``.

    Shards land at ``out_dir/shard=K/`` with columns
    (doc_id, lang, source, text, n_tokens, pos) — ``pos`` is the
    within-shard training order. A data loader reads shard K
    sorted by pos; same epoch ⇒ same order, next epoch ⇒ a fresh
    permutation from the same corpus."""
    docs = load_table(spark, sf_dir, "documents")
    words = _words()
    n_tokens = F.size(words)
    stop_arr = F.array(
        *[
            F.lit(s)
            for s in (
                "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
            )
        ]
    )
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))

    n_in = docs.count()
    # quality gate (x7's): integer-form comparison, no float division
    gated = docs.select(
        "doc_id", "lang", "source", "text", n_tokens.alias("n_tokens")
    ).filter(
        (n_tokens >= min_tokens)
        & (n_stop * 100 <= int(max_stop_ratio * 100) * n_tokens)
    )
    n_gated = gated.count()

    # exact dedup, keep-lowest-doc_id (x2's winner rule): one shuffle
    # on the content key (at 100 TB: sha2(text) — 32-byte wire rows)
    w_dup = Window.partitionBy("text").orderBy("doc_id")
    deduped = (
        gated.withColumn("_rn", F.row_number().over(w_dup))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    # epoch shuffle + balanced shard (x33): shard is a hash projection,
    # pos a per-shard window — no global sort anywhere
    # doc_id reduced mod 1000003 before the multiply — the unreduced
    # product wraps bigint for doc_id >= ~3.5e9 (ADVICE r6 #2)
    key = (
        (F.col("doc_id") % 1000003) * _KNUTH + 40503 + F.lit(epoch) * 97
    ) % _MOD
    sharded = deduped.withColumn("shuffle_key", key).withColumn(
        "shard", (F.col("shuffle_key") % n_shards).cast("int")
    )
    w_pos = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    cols = ["shard", "doc_id", "lang", "source", "text", "n_tokens", "pos"]
    final = sharded.withColumn(
        "pos", F.row_number().over(w_pos).cast("bigint")
    )
    if merges is not None:
        # ship model-ready BPE tokens next to the raw text (x32's
        # map-only fold tokenizer — no extra shuffle on this path)
        from pdf_etl_engine_spark.operators.tokenizer import (
            tokenize_corpus,
        )

        tok = tokenize_corpus(final, merges).select(
            "doc_id",
            F.col("tokens").alias("bpe_tokens"),
            F.col("n_tokens").alias("n_bpe_tokens"),
        )
        final = final.join(tok, "doc_id")
        cols += ["bpe_tokens", "n_bpe_tokens"]
    final = final.select(*cols)

    (
        final.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "pos")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out_dir)
    )

    stats = {
        int(r["shard"]): {
            "n_docs": int(r["n_docs"]),
            "n_tokens": int(r["n_tokens"]),
        }
        for r in spark.read.parquet(out_dir)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .collect()  # bounded: one row per shard
    }
    manifest = {
        "epoch": epoch,
        "n_shards": n_shards,
        "n_docs_in": int(n_in),
        "n_dropped_quality": int(n_in - n_gated),
        "n_dropped_dup": int(n_gated - sum(s["n_docs"] for s in stats.values())),
        "n_docs_out": sum(s["n_docs"] for s in stats.values()),
        "n_tokens_out": sum(s["n_tokens"] for s in stats.values()),
        "shards": stats,
    }
    with open(_os.path.join(out_dir, "_manifest.json"), "w") as fh:
        _json.dump(manifest, fh)
    return manifest
