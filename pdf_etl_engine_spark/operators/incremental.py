"""Incremental corpus deduplication (SURVEY.md §2.11, X2/X3 extended):
dedup a NEW document batch against an already-accepted corpus without
rescanning the corpus text.

The batch-mode dedup operators (extensions.py x2/x3) compare a table
against itself. A training-data pipeline doesn't work like that: the
corpus is append-only and each incoming batch must be checked against
everything accepted so far. Re-hashing 100 TB of accepted text per
batch is the scale-killer; the standard answer is a FINGERPRINT STORE
— a compact table of per-document content hashes and MinHash band
signatures, maintained incrementally — and dedup becomes two joins
against it:

* exact layer: anti-join on sha2-256 of the normalized text — removes
  byte-identical re-crawls;
* near layer: semi-join of the batch's LSH band signatures against the
  store's — any shared (band_id, band_sig) marks the batch doc as a
  near-dup candidate and drops it (MinHash banding: collision
  probability ≈ 1-(1-j^r)^b for Jaccard j, r rows/band, b bands).
  The bands are x3's: ``minhash_signature`` + ``minhash_bands`` from
  extensions.py.

``surviving_ids`` is the one probe of both layers; the lazily derived
store (x22/x22b), the bucketed store and the streaming loop
(streaming/dedupstream.py) all call it.

Both joins shuffle on short fixed-width keys (the fingerprints), never
on text; the store is ~64 bytes/doc/band, so a 100 TB corpus's store
fits in a few hundred GB — joinable, and bucketable by key for
shuffle-free probes. Accepting a batch appends its fingerprints to the
store (``fingerprints`` + ``append_rows``), keeping the loop
incremental.

The split used by the registered queries (corpus = ``doc_id % 10 < 7``,
batch = rest) is deterministic and oracle-expressible; the exact layer
is hash-graded against DuckDB (sha-256 collisions are not a practical
concern), the near layer is rows-only (engine-specific hash functions).
"""

from __future__ import annotations

import pathlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_etl_engine_spark.catalog import load_table, table_path
from pdf_etl_engine_spark.operators.extensions import (
    _shingles,
    minhash_bands,
    minhash_signature,
)
from pdf_etl_engine_spark.registry import query
from pdf_etl_engine_spark.scratch import scratch_dir


def fingerprints(
    docs: DataFrame, id_col: str = "doc_id", bands: bool = True
) -> DataFrame:
    """Per-document fingerprints: one row per LSH band —
    (id, content_sha, band_id, band_sig). This is the ONLY thing the
    store keeps; text never enters it.

    The shingle set is projected once and read by all 16 MinHash
    seeds (see ``minhash_signature``).

    ``bands=False`` (r15, guide §1.2 — don't compute what you throw
    away): the EXACT layer only probes ``content_sha``, so a store
    that will never serve a near probe can skip the MinHash signature
    (16 seeded xxhash64 passes over every doc's shingle set) and the
    4x band explode entirely. Schema is unchanged — one sentinel row
    (band_id=-1, band_sig=0) per doc — so exact-only deltas union
    cleanly into a store that also holds banded deltas, and the
    sentinel can never collide with a real band probe (real band_id
    is >= 0)."""
    ids = (
        F.col(id_col).alias("fp_id"),
        F.sha2(F.col("text"), 256).alias("content_sha"),
    )
    if not bands:
        return docs.select(
            *ids,
            F.lit(-1).cast("int").alias("band_id"),
            F.lit(0).cast("long").alias("band_sig"),
        )
    sig = docs.select(*ids, _shingles(F.col("text")).alias("sh")).select(
        "fp_id", "content_sha", minhash_signature(F.col("sh")).alias("sig")
    )
    return sig.select(
        "fp_id",
        "content_sha",
        F.posexplode(minhash_bands("sig")).alias("band_id", "band_sig"),
    )


def surviving_ids(
    ids: DataFrame,
    fp: DataFrame,
    store_shas: DataFrame,
    store_bands: DataFrame | None,
) -> DataFrame:
    """The store probe: ``fp_id`` of the (fp_id, content_sha) rows of
    ``ids`` whose sha is not in ``store_shas`` and, unless
    ``store_bands`` is None (exact layer only), none of whose
    ``fp`` band rows shares a (band_id, band_sig) with ``store_bands``.
    Both are semi/anti joins on fingerprint columns; the store frames
    are joined as given, so a pre-deduplicated bucketed table stays an
    Exchange-free scan."""
    keep = ids.join(store_shas, "content_sha", "left_anti").select("fp_id")
    if store_bands is None:
        return keep
    near_hit = (
        fp.join(keep, "fp_id", "left_semi")
        .join(store_bands, ["band_id", "band_sig"], "left_semi")
        .select("fp_id")
        .distinct()
    )
    return keep.join(near_hit, "fp_id", "left_anti")


def dedup_against_store(
    batch: DataFrame,
    store: DataFrame,
    id_col: str = "doc_id",
    near: bool = True,
) -> DataFrame:
    """Rows of ``batch`` that survive dedup against the fingerprint
    ``store`` (schema per :func:`fingerprints`). Exact layer always
    runs; ``near=True`` adds the LSH band layer. Both are (semi/anti)
    joins on fingerprint columns — corpus text is never touched.

    near=False computes the batch fingerprints WITHOUT the MinHash
    pass (r15): Catalyst cannot prune the signature through the
    posexplode Generate (it changes cardinality), so the lazily-built
    exact path used to pay 16 shingle-hash passes per doc it never
    probed."""
    fp = fingerprints(batch, id_col, bands=near)
    keep = surviving_ids(
        fp.select("fp_id", "content_sha").distinct(),
        fp,
        store.select("content_sha").distinct(),
        store.select("band_id", "band_sig").distinct() if near else None,
    )
    return batch.join(
        keep.withColumnRenamed("fp_id", id_col), id_col, "left_semi"
    )


class BucketedFingerprintStore:
    """The fingerprint store as BUCKETED tables — the shuffle-free
    probe path this module's header promises (VERDICT r4 #6).

    One physical layout can't be co-located for both probe keys, so
    the store is two pre-deduplicated tables, each bucketed+sorted on
    its own probe key:

    * ``<name>_sha``   — distinct ``content_sha``, bucketBy(content_sha)
    * ``<name>_bands`` — distinct ``(band_id, band_sig)``,
      bucketBy(band_id, band_sig)

    Pre-dedup at write time is load-bearing twice: the probe-time
    ``.distinct()`` disappears (it was an Exchange), and each batch's
    semi/anti join reads the store straight from its buckets — the
    only shuffle left in the probe plan is the (small) incoming batch
    repartitioning to the store's bucket count. At 100 TB corpus /
    ~hundreds-GB store, that turns per-batch dedup cost from
    "re-shuffle the store every batch" into "shuffle the batch only".

    ``append`` keeps the store incremental: saveAsTable(mode=append)
    writes new buckets per append (Spark bucketing is append-friendly
    — each write adds bucket-suffixed files, readers union them), and
    duplicate keys across appends are harmless for semi/anti probes.
    """

    def __init__(self, spark: SparkSession, name: str, n_buckets: int = 64):
        self.spark = spark
        self.sha_table = f"{name}_sha"
        self.band_table = f"{name}_bands"
        self.n_buckets = n_buckets

    def exists(self) -> bool:
        c = self.spark.catalog
        return c.tableExists(self.sha_table) and c.tableExists(self.band_table)

    def _write(self, fp: DataFrame, mode: str) -> None:
        (
            fp.select("content_sha")
            .distinct()
            .write.bucketBy(self.n_buckets, "content_sha")
            .sortBy("content_sha")
            .format("parquet")
            .mode(mode)
            .saveAsTable(self.sha_table)
        )
        (
            fp.select("band_id", "band_sig")
            .distinct()
            .write.bucketBy(self.n_buckets, "band_id", "band_sig")
            .sortBy("band_id", "band_sig")
            .format("parquet")
            .mode(mode)
            .saveAsTable(self.band_table)
        )

    def create(self, corpus: DataFrame, id_col: str = "doc_id") -> None:
        for t in (self.sha_table, self.band_table):
            # a managed-table LOCATION left by a previous session's
            # metastore blocks re-create; drop both layers
            self.spark.sql(f"DROP TABLE IF EXISTS {t}")
            import shutil
            from urllib.parse import urlparse

            wh = urlparse(self.spark.conf.get("spark.sql.warehouse.dir"))
            shutil.rmtree(
                pathlib.Path(wh.path) / t.lower(), ignore_errors=True
            )
        self._write(fingerprints(corpus, id_col), "overwrite")

    def append(self, accepted: DataFrame, id_col: str = "doc_id") -> None:
        """Accept a batch: add its fingerprints to both tables."""
        self._write(fingerprints(accepted, id_col), "append")

    def dedup(
        self, batch: DataFrame, id_col: str = "doc_id", near: bool = True
    ) -> DataFrame:
        """Rows of ``batch`` surviving dedup against the bucketed
        store. Same semantics as :func:`dedup_against_store`; the
        store side of every join is an Exchange-free bucketed scan
        (pinned by tests/test_incremental.py)."""
        # near=False probes only the sha table — skip the batch's
        # MinHash pass (Catalyst can't prune through posexplode; r15)
        fp = fingerprints(batch, id_col, bands=near)
        keep = surviving_ids(
            fp.select("fp_id", "content_sha").distinct(),
            fp,
            self.spark.table(self.sha_table),
            self.spark.table(self.band_table) if near else None,
        )
        return batch.join(
            keep.withColumnRenamed("fp_id", id_col), id_col, "left_semi"
        )


def _corpus_batch(spark: SparkSession, sf_dir: str):
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("doc_id") % 10 < 7),
        docs.filter(F.col("doc_id") % 10 >= 7),
    )


def default_store_dir(sf_dir: str) -> str:
    """Scratch fingerprint store over ``sf_dir``'s corpus split, keyed
    by source identity so regenerated testdata rebuilds it."""
    return scratch_dir("spark_graft_fp_store", table_path(sf_dir, "documents"))


def staged_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production shape: fingerprints materialized once to disk,
    read thereafter (tests/test_incremental.py drives the accept-loop
    against it). NOT used by the registered queries — constructing a
    registered query must schedule no Spark job (repo invariant,
    tests/test_plans.py), so those derive the store lazily instead."""
    out = default_store_dir(sf_dir)
    if not pathlib.Path(out, "_SUCCESS").exists():
        corpus, _ = _corpus_batch(spark, sf_dir)
        fingerprints(corpus).write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


@query(
    "x22_incremental_dedup_exact",
    oracle="""
    SELECT b.lang, count(*) AS n_accepted
    FROM documents b
    WHERE b.doc_id % 10 >= 7
      AND NOT EXISTS (SELECT 1 FROM documents c
                      WHERE c.doc_id % 10 < 7 AND c.text = b.text)
    GROUP BY b.lang
    """,
)
def x22_incremental_dedup_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X22: exact layer of incremental dedup — the new batch's sha-256
    anti-joined against the corpus fingerprint relation. The store is
    derived lazily here so query construction stays pure plan-building
    (repo invariant); production maintains it on disk via
    ``staged_store``/``fingerprints`` + ``append_rows`` — the join is
    identical either way. Oracle checks the anti-join semantics via
    direct text comparison."""
    corpus, batch = _corpus_batch(spark, sf_dir)
    # bands=False: the exact layer never probes band signatures, and
    # the posexplode Generate blocks Catalyst from pruning the MinHash
    # computation on its own (r15 — verified in the r15 plan survey)
    store = fingerprints(corpus, bands=False)
    accepted = dedup_against_store(batch, store, near=False)
    return accepted.groupBy("lang").agg(F.count("*").alias("n_accepted"))


@query("x22b_incremental_dedup_near")  # rows-only: LSH is engine-specific
def x22b_incremental_dedup_near(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X22b: full incremental dedup — exact sha layer plus MinHash
    band semi-join against the store (lazily derived, see x22). A
    batch doc sharing ANY band signature with an accepted doc is
    dropped as a near-dup."""
    corpus, batch = _corpus_batch(spark, sf_dir)
    store = fingerprints(corpus)
    accepted = dedup_against_store(batch, store, near=True)
    return accepted.groupBy("lang").agg(F.count("*").alias("n_accepted"))
