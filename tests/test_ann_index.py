"""Bucket-partitioned ANN index (operators/ann_index.py): the probe
must (a) statically prune to the query's L bucket partitions and
(b) return exactly x4b's answer — same (k, L) ⇒ same candidate set.
"""

from __future__ import annotations

import pytest

import pathlib

from pyspark.sql import functions as F

from pdf_etl_engine_spark import registry
from pdf_etl_engine_spark.operators import ann_index
from pdf_etl_engine_spark.operators.extensions import _fp_assign, _fp_lloyd

registry.load_all()

SF_DIR = "/root/testdata/sf0.001"


def _build(spark, tmp_path_factory):
    out = str(tmp_path_factory.getbasetemp() / "ann_index")
    if not pathlib.Path(out, "_SUCCESS").exists():
        ann_index.build_ann_index(spark, SF_DIR, out)
    return out


@pytest.mark.slow
def test_index_layout_is_partitioned(spark, tmp_path_factory):
    out = _build(spark, tmp_path_factory)
    tdirs = sorted(p.name for p in pathlib.Path(out).glob("t=*"))
    assert len(tdirs) == ann_index.N_TABLES
    bdirs = list(pathlib.Path(out, tdirs[0]).glob("b=*"))
    assert 1 <= len(bdirs) <= 2**ann_index.N_BITS


@pytest.mark.slow
def test_probe_prunes_partitions(spark, tmp_path_factory):
    """The probe's scan must carry the bucket disjuncts as PARTITION
    filters (directory pruning), not data filters, and must read
    fewer files than the full index holds."""
    out = _build(spark, tmp_path_factory)
    df = ann_index.probe_ann_index(spark, SF_DIR, out)
    plan = df._jdf.queryExecution().executedPlan().toString()
    part_lines = [
        line for line in plan.splitlines() if "PartitionFilters" in line
    ]
    assert part_lines and any("t#" in line for line in part_lines), plan

    def _partitions_read(pdf):
        """Partition directories the scan actually lists after
        partition-filter pruning (FileSourceScanLike.selectedPartitions)."""
        node = pdf._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
        return node.selectedPartitions().partitionCount()

    total = _partitions_read(spark.read.parquet(out))
    pruned = _partitions_read(
        spark.read.parquet(out).filter((F.col("t") == 0) & (F.col("b") == 0))
    )
    # one (t, b) cell out of the L × 2^k partition tree
    assert pruned == 1 and total >= ann_index.N_TABLES


@pytest.mark.slow
def test_probe_matches_query_time_lsh(spark, tmp_path_factory):
    """Same (k, L) hyperplanes ⇒ the index probe and x4b produce the
    identical top-10 (ids and rounded scores)."""
    out = _build(spark, tmp_path_factory)
    via_index = [
        (r["vec_id"], r["cos_sim"])
        for r in ann_index.probe_ann_index(spark, SF_DIR, out).collect()
    ]
    via_query = [
        (r["vec_id"], r["cos_sim"])
        for r in registry.QUERIES["x4b_ann_lsh_topk"](spark, SF_DIR).collect()
    ]
    assert via_index == via_query


# ---------------------------------------------------------------------------
# The persisted IVF-PQ index, for both codebooks: parity with the
# in-flight plan, static partition pruning, and the append loop with
# frozen models (no retrain)
# ---------------------------------------------------------------------------

CODEBOOKS = ("mixer", "trained")
INFLIGHT = {
    "mixer": "x47d_ivfpq_topk",
    "trained": "x47h_ivfpq_trained_residual",
}


def _build_ivfpq(spark, tmp_path_factory, codebook):
    out = str(tmp_path_factory.getbasetemp() / f"ivfpq_index_{codebook}")
    if not pathlib.Path(out, "codes", "_SUCCESS").exists():
        ann_index.build_ivfpq_index(spark, SF_DIR, out, codebook)
    return out


@pytest.mark.slow
@pytest.mark.parametrize("codebook", CODEBOOKS)
def test_ivfpq_persisted_matches_inflight(spark, tmp_path_factory, codebook):
    """The persisted round-trip (parquet models + packed int64 codes)
    must reproduce the in-flight answer (x47d / x47h) row-for-row —
    same cells, same codes, same ADC values (doubles for the mixer,
    exact BIGINTs for the trained codebook) through the pack/unpack."""
    out = _build_ivfpq(spark, tmp_path_factory, codebook)
    persisted = sorted(
        map(
            tuple,
            ann_index.probe_ivfpq_index(
                spark, SF_DIR, out, codebook
            ).collect(),
        )
    )
    inflight = sorted(
        map(
            tuple,
            registry.QUERIES[INFLIGHT[codebook]](spark, SF_DIR).collect(),
        )
    )
    assert persisted == inflight and len(persisted) > 0


@pytest.mark.slow
@pytest.mark.parametrize("codebook", CODEBOOKS)
def test_ivfpq_probe_prunes_cell_partitions(
    spark, tmp_path_factory, codebook
):
    """The codes scan must carry the probed cells as PARTITION
    filters (static directory pruning — the probe collects the cell
    ids first, so no dynamic pruning machinery is needed)."""
    out = _build_ivfpq(spark, tmp_path_factory, codebook)
    df = ann_index.probe_ivfpq_index(spark, SF_DIR, out, codebook)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # bind the assertion to the CODES relation's scan line: the scan
    # node's single toString line carries both its ReadSchema (the
    # only one with a ``code`` column) and its PartitionFilters, so
    # matching within the LINE (not the whole plan — ADVICE r13's
    # tautology) isolates it from the centroids/corpus scans. The
    # Location path is no marker: Spark abbreviates it at 100
    # characters, so under a long temp dir "codes" is cut off.
    code_scan_lines = [
        line
        for line in plan.splitlines()
        if "PartitionFilters" in line and "code:bigint" in line
    ]
    assert any(
        "cell#" in line and " IN " in line for line in code_scan_lines
    ), plan


@pytest.mark.slow
@pytest.mark.parametrize("codebook", CODEBOOKS)
def test_ivfpq_append_frozen_models(spark, tmp_path, codebook):
    """The incremental path: build on the base corpus, append two
    synthetic batches, and check (a) every persisted model (the
    centroids, and the trained codebook) is byte-identical afterwards
    (no retrain), (b) every appended vector's cell matches an
    INDEPENDENT numpy recomputation of the integer nearest-centroid
    rule, (c) counts add up and every appended code unpacks to 8
    in-range 4-bit fields, (d) the retrain trigger fires only past
    the documented fraction, and (e) a re-appended vec_id is refused
    with the index untouched."""
    import numpy as np

    models = ("centroids",) + (("codebook",) if codebook == "trained" else ())
    out = str(tmp_path / f"ivfpq_append_{codebook}")
    ann_index.build_ivfpq_index(spark, SF_DIR, out, codebook)
    before = {
        art: sorted(
            map(tuple, spark.read.parquet(f"{out}/{art}").collect())
        )
        for art in models
    }
    n_base = spark.read.parquet(f"{out}/codes").count()
    assert not ann_index.ivfpq_needs_retrain(spark, out)

    rng = np.random.RandomState(7)
    next_id = 10_000_000
    appended = {}
    for _batch in range(2):
        vecs = rng.randn(20, 64).astype(np.float32)
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        rows = [
            (next_id + i, [float(x) for x in vecs[i]], 0)
            for i in range(len(vecs))
        ]
        for vid, e, _ in rows:
            appended[vid] = np.array(e, dtype=np.float64)
        batch = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )
        ann_index.append_ivfpq_index(spark, out, batch, codebook)
        next_id += len(vecs)

    after = {
        art: sorted(
            map(tuple, spark.read.parquet(f"{out}/{art}").collect())
        )
        for art in models
    }
    assert after == before  # frozen models: no retrain
    codes = spark.read.parquet(f"{out}/codes")
    assert codes.count() == n_base + len(appended)

    # independent assignment check: integer distances on floor(x*1e4)
    cent = {c: np.array(v, dtype=np.int64) for c, v in before["centroids"]}
    new_codes = codes.filter(F.col("vec_id") >= 10_000_000)
    got = {r["vec_id"]: r["cell"] for r in new_codes.collect()}
    assert set(got) == set(appended)
    for vid, emb in appended.items():
        qa = np.floor(emb * 10000).astype(np.int64)
        dists = {c: int(((qa - cv) ** 2).sum()) for c, cv in cent.items()}
        best = min(dists.items(), key=lambda kv: (kv[1], kv[0]))[0]
        assert got[vid] == best, (vid, got[vid], best)
    # every appended code is 8 packed 4-bit fields: no bit at or
    # above bit 32 (unpacking masks each field, so it cannot see one)
    wide = (F.col("code") < 0) | (F.shiftright("code", 32) != 0)
    assert new_codes.filter(wide).count() == 0

    # retrain trigger: 40 appended on a small base — flips only when
    # the threshold drops below the actual appended fraction
    frac = len(appended) / n_base
    assert ann_index.ivfpq_needs_retrain(
        spark, out, max_appended_fraction=frac * 0.5
    )
    assert not ann_index.ivfpq_needs_retrain(
        spark, out, max_appended_fraction=frac * 2.0
    )

    # vec_id is the index's primary key (ADVICE r14): re-appending an
    # existing id must fail loudly — a silent duplicate would give the
    # vector two code rows, scored twice by every probe of its cell —
    # and the refused append must not have touched the codes tree
    dup = spark.createDataFrame(
        [(10_000_000, [0.1] * 64, 0)],
        "vec_id long, embedding array<float>, label int",
    )
    with pytest.raises(ValueError, match="already present"):
        ann_index.append_ivfpq_index(spark, out, dup, codebook)
    assert (
        spark.read.parquet(f"{out}/codes").count()
        == n_base + len(appended)
    )


@pytest.mark.slow
def test_lsh_index_append_serves_new_vectors(spark, tmp_path):
    """append_ann_index: a vector appended AFTER the build must be
    probeable immediately — it lands in the same bucket partitions as
    its twin (identical embedding ⇒ identical buckets) and the probe
    scores it from index-carried payload at cos 1.0. The base answer
    set stays intact."""
    out = str(tmp_path / "lsh_append")
    ann_index.build_ann_index(spark, SF_DIR, out)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    before = {r["vec_id"] for r in
              ann_index.probe_ann_index(spark, SF_DIR, out).collect()}
    twin_of_zero = emb.filter(F.col("vec_id") == 0).select(
        F.lit(5_000_000).alias("vec_id"),
        "label",
        "embedding",
    )
    ann_index.append_ann_index(spark, out, twin_of_zero)
    after = {
        r["vec_id"]: r["cos_sim"]
        for r in ann_index.probe_ann_index(spark, SF_DIR, out).collect()
    }
    assert 5_000_000 in after and after[5_000_000] == 1.0
    # everything else in the new top-10 was already a candidate before
    assert set(after) - {5_000_000} <= before
    # vec_id is the index's primary key: re-appending an existing id
    # must fail loudly (ADVICE r13 — a silent duplicate would make
    # probe_ann_index's per-id dedup pick an arbitrary payload), and
    # the refused append must not have touched the index
    with pytest.raises(ValueError, match="already present"):
        ann_index.append_ann_index(spark, out, twin_of_zero)
    unchanged = {
        r["vec_id"]: r["cos_sim"]
        for r in ann_index.probe_ann_index(spark, SF_DIR, out).collect()
    }
    assert unchanged == after


@pytest.mark.slow
def test_ivfpq_retrain_after_drift_end_to_end(spark, tmp_path):
    """VERDICT r13 #5 — the loop the append-loop test starts, closed:
    build on the base corpus → append a DISTRIBUTION-SHIFTED batch
    past the 30% trigger → ivfpq_needs_retrain fires → rebuild on the
    combined corpus → (a) the trigger resets, (b) the rebuilt
    persisted probe is row-identical to the in-flight x47d plan on
    the post-drift corpus (the same invariant the base-corpus parity
    test pins, now exercised after drift), and (c) the rebuilt coarse
    model actually moved (the drifted mass reshapes cells)."""
    import numpy as np

    out = str(tmp_path / "ivfpq_drift")
    ann_index.build_ivfpq_index(spark, SF_DIR, out)
    assert not ann_index.ivfpq_needs_retrain(spark, out)
    cent_before = sorted(
        (r["cell"], tuple(r["c"]))
        for r in spark.read.parquet(f"{out}/centroids").collect()
    )

    base = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n_base = base.count()
    # drifted ingest: 40% of base mass, concentrated in a corner of
    # the space the base corpus (random unit vectors) never favors
    rng = np.random.RandomState(41)
    n_drift = int(0.4 * n_base)
    vecs = rng.randn(n_drift, 64).astype(np.float64) * 0.2
    vecs[:, :8] += 2.0  # the shift
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    drift = spark.createDataFrame(
        [
            (10_000_000 + i, 9, [float(v) for v in vecs[i]])
            for i in range(n_drift)
        ],
        "vec_id long, label int, embedding array<float>",
    )
    ann_index.append_ivfpq_index(spark, out, drift)
    assert ann_index.ivfpq_needs_retrain(spark, out)  # trigger fires

    # retrain = full rebuild on the combined corpus (the documented
    # discipline: appends are cheap, the rebuild is the scheduled job)
    combined_dir = str(tmp_path / "combined_sf")
    base.select("vec_id", "label", "embedding").unionByName(
        drift.select("vec_id", "label", "embedding")
    ).coalesce(1).write.parquet(f"{combined_dir}/embeddings.parquet")
    out2 = str(tmp_path / "ivfpq_rebuilt")
    ann_index.build_ivfpq_index(spark, combined_dir, out2)

    assert not ann_index.ivfpq_needs_retrain(spark, out2)  # reset
    cent_after = sorted(
        (r["cell"], tuple(r["c"]))
        for r in spark.read.parquet(f"{out2}/centroids").collect()
    )
    assert cent_after != cent_before  # the drift reshaped the model
    persisted = sorted(
        map(
            tuple,
            ann_index.probe_ivfpq_index(
                spark, combined_dir, out2
            ).collect(),
        )
    )
    inflight = sorted(
        map(
            tuple,
            registry.QUERIES["x47d_ivfpq_topk"](
                spark, combined_dir
            ).collect(),
        )
    )
    assert persisted == inflight and len(persisted) > 0


def test_ivfpq_recall_artifact_floors():
    """RECALL_IVFPQ_SF1.json (VERDICT r13 #1) must exist, pass its own
    floors, and record the artifact's headline ordering: the trained
    residual codebook (x47h) beats the shipped mixer codebook on the
    production corpus row, and the planted [0.9,0.95) production row
    is high — the recall-audit trigger ivfpq_needs_retrain documents
    is this file's generator (tools/recall_ivfpq_sf1.py)."""
    import json
    import pathlib as _pl

    art = _pl.Path(__file__).resolve().parents[1] / "RECALL_IVFPQ_SF1.json"
    assert art.exists(), "run tools/recall_ivfpq_sf1.py"
    payload = json.loads(art.read_text())
    assert payload["passes_floor"], payload["floors"]
    corpus = payload["corpus_lane"]
    assert (
        corpus["trained_16,nprobe=2"]["recall_at_5"]
        > corpus["mixer_4bit,nprobe=2"]["recall_at_5"]
    )
    planted = payload["planted_lane"]["families"]
    assert (
        planted["trained_16,nprobe=2"]["found_by_band"]["[0.9,0.95)"][
            "found_at_5"
        ]
        >= 0.9
    )


def test_probe_rejects_non_power_of_two_k_cent(spark):
    """ADVICE r14: a non-power-of-two k_cent would silently compute
    wrong subspace/centroid indices in the shift/mask LUT decompose —
    both the probe plan and the Arrow encode kernel must refuse it."""
    emb = spark.createDataFrame(
        [(0, [0.1] * 64)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="power of two"):
        ann_index._ivfpq_probe_plan(emb, emb, emb, k_cent=12)
    with pytest.raises(ValueError, match="power of two"):
        ann_index._ivfpq_encode_arrow(emb, [], k_cent=12)


@pytest.mark.slow
def test_ivfpq_inflight_arrow_matches_declarative(spark):
    """x47d's canonical encode is the Arrow kernel; the declarative
    _ivfpq_assign_encode stays as the SQL-oracle mirror. The two must
    be bit-identical on the grading corpus — every
    (vec_id, cell, cd0..cd7) row."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    vecs_fp = ann_index._ivfpq_fp(emb)
    cent, *_ = ann_index._ivfpq_train(vecs_fp, "mixer")
    declarative = sorted(
        map(tuple, ann_index._ivfpq_assign_encode(vecs_fp, cent).collect())
    )
    arrow = sorted(
        map(
            tuple,
            ann_index._unpack_codes(
                ann_index._ivfpq_encode_arrow(emb, cent.collect())
            ).collect(),
        )
    )
    assert declarative == arrow
    assert len(arrow) == emb.count()


@pytest.mark.slow
def test_ivfpq_trained_arrow_matches_declarative(spark):
    """The trained codebook's corpus passes are Arrow kernels
    (_ivfpq_resid_sub_arrow for the training relation,
    _ivfpq_encode_arrow for the codes); the declarative chain they
    replace must produce bit-identical rows — residual subspaces AND
    final codes."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    vecs_fp = ann_index._ivfpq_fp(emb)
    cent, cent_rows, *_ = ann_index._ivfpq_train(vecs_fp, "mixer")

    # declarative residual-subspace chain
    assigned = _fp_assign(vecs_fp, cent).select("vec_id", "cell")
    withc = assigned.join(vecs_fp.select("vec_id", "qa"), "vec_id").join(
        F.broadcast(cent), "cell"
    )
    ra = F.zip_with(F.col("qa"), F.col("c"), lambda x, y: x - y)
    rsub_decl = withc.select(
        "vec_id",
        "cell",
        F.explode(ann_index._subspace_explode(ra)).alias("g"),
    ).select("vec_id", "cell", "g.s", "g.qa")
    rsub_arrow = ann_index._ivfpq_resid_sub_arrow(
        emb.select("vec_id", "embedding"), cent_rows
    )
    a = sorted((r[0], r[1], r[2], tuple(r[3])) for r in rsub_decl.collect())
    b = sorted(
        (r[0], r[1], r[2], tuple(r[3])) for r in rsub_arrow.collect()
    )
    assert a == b

    # declarative encode vs the kernel, against the same trained cb
    rvecs = rsub_arrow.select("vec_id", "s", "qa").localCheckpoint(
        eager=False
    )
    cb = _fp_lloyd(rvecs, 16, key="s").localCheckpoint(eager=False)
    by_vec: dict = {}
    for r in (
        _fp_assign(rvecs, cb, key="s")
        .select("vec_id", "s", F.col("cell").alias("cd"))
        .join(assigned, "vec_id")
        .select("vec_id", "s", "cd", "cell")
        .collect()
    ):
        by_vec.setdefault((r[0], r[3]), {})[r[1]] = r[2]
    codes_decl = sorted(
        (vid, cell, *[cds[s] for s in range(8)])
        for (vid, cell), cds in by_vec.items()
    )
    codes_arrow = sorted(
        map(
            tuple,
            ann_index._unpack_codes(
                ann_index._ivfpq_encode_arrow(
                    emb.select("vec_id", "embedding"),
                    cent_rows,
                    cb.collect(),
                )
            ).collect(),
        )
    )
    assert codes_decl == codes_arrow
