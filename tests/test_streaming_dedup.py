"""Streaming near-dup ingest (streaming/dedupstream.py): exactly-once
replay idempotence, cross-micro-batch store growth, and the near
(MinHash band) layer. The oracle-graded twin (stw_incremental_dedup)
is hash-checked by tests/test_oracle_parity.py; these tests pin what
the oracle cannot see — the failure-replay contract and the
band-layer drop.
"""

from __future__ import annotations

import pathlib

from pyspark.sql import functions as F

from pdf_etl_engine_spark import registry
from pdf_etl_engine_spark.operators.incremental import fingerprints
from pdf_etl_engine_spark.streaming import dedupstream

registry.load_all()


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, lang string, text string"
    )


def _setup(spark, tmp_path, corpus_rows):
    work = str(tmp_path / "work")
    store = f"{work}/store"
    accepted = f"{work}/accepted"
    dedupstream.seed_store(spark, store, _docs(spark, corpus_rows))
    return store, accepted


def test_replay_same_batch_id_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-running a micro-batch with
    the SAME batch_id (the crash-replay case) must leave the accepted
    output and the store byte-identical — no duplicated rows, no
    doubled fingerprints."""
    store, accepted = _setup(
        spark, tmp_path, [(1, "en", "corpus text one")]
    )
    process = dedupstream.dedup_batch_fn(spark, store, accepted)
    batch = _docs(
        spark,
        [(10, "en", "fresh text A"), (11, "de", "corpus text one")],
    )
    process(batch, 0)
    first_rows = sorted(
        map(tuple, spark.read.parquet(f"{accepted}/batch=0").collect())
    )
    first_store = dedupstream.read_store(spark, store).count()
    process(batch, 0)  # replay
    assert (
        sorted(
            map(
                tuple,
                spark.read.parquet(f"{accepted}/batch=0").collect(),
            )
        )
        == first_rows
    )
    assert dedupstream.read_store(spark, store).count() == first_store
    # and the content is right: the corpus-duplicate was dropped
    assert first_rows == [(10, "en")]


def test_later_batch_dedups_against_earlier_accepted(spark, tmp_path):
    """The append side of the loop: a text accepted in micro-batch 0
    must be rejected when it reappears in micro-batch 1 — the store
    grew between batches."""
    store, accepted = _setup(spark, tmp_path, [(1, "en", "corpus")])
    process = dedupstream.dedup_batch_fn(spark, store, accepted)
    process(_docs(spark, [(10, "en", "novel text")]), 0)
    process(
        _docs(
            spark,
            [(20, "fr", "novel text"), (21, "en", "another one")],
        ),
        1,
    )
    all_accepted = sorted(
        map(
            tuple,
            spark.read.parquet(accepted).select("doc_id", "lang").collect(),
        )
    )
    assert all_accepted == [(10, "en"), (21, "en")]
    # one committed delta per batch + the base seed
    deltas = [
        p.name
        for p in pathlib.Path(store).iterdir()
        if (p / "_SUCCESS").exists()
    ]
    assert sorted(deltas) == ["delta_0", "delta_1", "delta_base"]


def test_near_layer_drops_band_collisions(spark, tmp_path):
    """near=True: a batch doc sharing ANY MinHash band signature with
    the store is dropped even though its sha differs; near=False
    keeps it (the x22/x22b split, live in the streaming loop)."""
    base = (
        "the quick brown fox jumps over the lazy dog again and again "
    ) * 20
    near_dup = base + "trailing edit"
    # precondition: the pair really collides on >=1 band (deterministic
    # given the fixed texts; if a text tweak ever breaks this, the
    # assert names the problem instead of silently passing)
    fa = fingerprints(_docs(spark, [(1, "en", base)])).select(
        "band_id", "band_sig"
    )
    fb = fingerprints(_docs(spark, [(2, "en", near_dup)])).select(
        "band_id", "band_sig"
    )
    assert fa.join(fb, ["band_id", "band_sig"]).count() > 0, (
        "fixture texts no longer share a MinHash band"
    )

    for near, expect in ((True, []), (False, [(10, "en")])):
        work = tmp_path / f"near_{near}"
        store = str(work / "store")
        accepted = str(work / "accepted")
        dedupstream.seed_store(spark, store, _docs(spark, [(1, "en", base)]))
        process = dedupstream.dedup_batch_fn(
            spark, store, accepted, near=near
        )
        process(_docs(spark, [(10, "en", near_dup)]), 0)
        got = sorted(
            map(tuple, spark.read.parquet(f"{accepted}/batch=0").collect())
        )
        assert got == expect, (near, got)


def test_within_batch_first_wins(spark, tmp_path):
    """Two copies of one text in a single micro-batch: only the
    min(doc_id) row survives — the determinism clause the graded
    oracle encodes."""
    store, accepted = _setup(spark, tmp_path, [(1, "en", "corpus")])
    process = dedupstream.dedup_batch_fn(spark, store, accepted)
    process(
        _docs(
            spark,
            [(31, "fr", "same text"), (30, "en", "same text")],
        ),
        0,
    )
    got = sorted(
        map(tuple, spark.read.parquet(f"{accepted}/batch=0").collect())
    )
    assert got == [(30, "en")]


def test_vector_ingest_replay_is_idempotent(spark, tmp_path):
    """The IVF-PQ streaming ingest loop: replaying a vector
    micro-batch with the same batch_id must leave the code set
    byte-identical (batch-keyed overwrite), and the frozen coarse
    model must be untouched."""
    import numpy as np

    from pdf_etl_engine_spark.operators import ann_index
    from pdf_etl_engine_spark.operators.extensions import _fp_lloyd

    rng = np.random.RandomState(3)
    vecs = rng.randn(40, 64).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]], 0) for i in range(40)],
        "vec_id long, embedding array<float>, label int",
    )
    index_dir = str(tmp_path / "index")
    cent = _fp_lloyd(ann_index._ivfpq_fp(emb), k=8)
    cent.write.parquet(f"{index_dir}/centroids")
    cent_before = sorted(
        (r["cell"], tuple(r["c"]))
        for r in spark.read.parquet(f"{index_dir}/centroids").collect()
    )
    process = dedupstream.vector_ingest_batch_fn(spark, index_dir)
    batch = emb.filter(F.col("vec_id") < 20)
    process(batch, 0)
    first = sorted(
        map(
            tuple,
            spark.read.parquet(f"{index_dir}/codes")
            .select("vec_id", "cell", "code")
            .collect(),
        )
    )
    process(batch, 0)  # replay
    second = sorted(
        map(
            tuple,
            spark.read.parquet(f"{index_dir}/codes")
            .select("vec_id", "cell", "code")
            .collect(),
        )
    )
    assert first == second and len(first) == 20
    cent_after = sorted(
        (r["cell"], tuple(r["c"]))
        for r in spark.read.parquet(f"{index_dir}/centroids").collect()
    )
    assert cent_after == cent_before
    # a second batch lands alongside, preserving the first
    process(emb.filter(F.col("vec_id") >= 20), 1)
    assert spark.read.parquet(f"{index_dir}/codes").count() == 40
