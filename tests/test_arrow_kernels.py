"""The Arrow-kernel bit-exactness contract (r10).

fused_lsh_pairs/x4k/x45 route dense linear algebra through numpy kernels whose
correctness rests on ONE claim: an explicit per-index vectorized
accumulation loop (``for j: acc += a[:, j] * b[:, j]``) runs the
IDENTICAL IEEE float64 sequence as the oracles' list_sum/list_reduce
left folds (seed 0.0, index order). The oracle-parity suite checks
that end-to-end on corpus data; these tests pin the claim itself —
against the definitional pure-Python fold on adversarial values, and
against the live DuckDB oracle on constructed exact ties (duplicate
vectors), where a wrong tie-break or a reordered summation would
surface first.
"""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest


def _pure_python_fold_dot(a: list[float], b: list[float]) -> float:
    """The definitional sequence: acc starts at 0.0, adds one product
    per index — exactly DuckDB's list_reduce([0.0] || products)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + (x * y)
    return acc


def _kernel_dot_block(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """The kernels' accumulation shape (extensions._bucket_allpairs_kernel
    / _bucket_kernel_from_coefs / x4k): strict j-order vectorized adds."""
    acc = np.zeros(len(A))
    for j in range(A.shape[1]):
        acc += A[:, j] * B[:, j]
    return acc


def test_kernel_accumulation_bit_equals_pure_fold():
    """Deterministic adversarial values: mixed magnitudes (1e-30 to
    1e30), sign flips, exact zeros, subnormals — any reordering or
    fused-multiply-add in the kernel path would change low-order bits
    that the f"%.12g" parity normalization (and hash grading) sees."""
    rng = np.random.default_rng(20260815)
    cases = []
    for _ in range(200):
        scale = 10.0 ** rng.integers(-30, 31, size=64)
        a = (rng.standard_normal(64) * scale).astype(np.float64)
        b = (rng.standard_normal(64) * scale[::-1]).astype(np.float64)
        cases.append((a, b))
    # structured edge rows
    z = np.zeros(64)
    cases.append((z, z))
    tiny = np.full(64, 5e-324)  # subnormal floor
    cases.append((tiny, np.ones(64)))
    alt = np.array([1e16, -1e16] * 32)  # catastrophic cancellation
    cases.append((alt, np.ones(64)))
    A = np.stack([c[0] for c in cases])
    B = np.stack([c[1] for c in cases])
    got = _kernel_dot_block(A, B)
    for i, (a, b) in enumerate(cases):
        want = _pure_python_fold_dot(list(a), list(b))
        g = float(got[i])
        if math.isnan(want):
            assert math.isnan(g)
            continue
        assert struct.pack("<d", g) == struct.pack("<d", want), (
            f"case {i}: kernel {g!r} != fold {want!r}"
        )


def test_kernel_accumulation_float32_cast_is_exact():
    """The corpus embeddings are float32; the kernels upcast before
    accumulating. float32→float64 is exact, so the fold over the
    upcast values must equal the fold over their Python-float images
    bit-for-bit (this is what lets a float32 parquet column grade
    hash-exact against DuckDB's CAST(x AS DOUBLE))."""
    rng = np.random.default_rng(7)
    a32 = rng.standard_normal(64, dtype=np.float32)
    b32 = rng.standard_normal(64, dtype=np.float32)
    a = a32.astype(np.float64)
    b = b32.astype(np.float64)
    got = float(_kernel_dot_block(a[None, :], b[None, :])[0])
    want = _pure_python_fold_dot(
        [float(x) for x in a32], [float(y) for y in b32]
    )
    assert struct.pack("<d", got) == struct.pack("<d", want)


@pytest.mark.slow
def test_x4k_tie_break_matches_oracle_on_duplicate_vectors(
    spark, tmp_path
):
    """Constructed EXACT ties: several identical vectors make every
    pairwise cosine equal, so the top-k ordering is decided purely by
    the (c DESC, nbr_id) tie-break — the stable argsort in the x4k
    kernel must reproduce the oracle's row_number exactly."""
    import duckdb

    from pdf_etl_engine_spark import registry

    registry.load_all()
    base = np.array([1.0] + [0.0] * 63, dtype=np.float32)
    rows = []
    for vid in range(12):
        if vid < 7:
            emb = base  # 7 identical vectors → all-ties block
        else:
            emb = np.roll(base, vid).astype(np.float32)
        rows.append((vid, [float(x) for x in emb], "L%d" % (vid % 2)))
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label string"
    )
    path = str(tmp_path / "embeddings.parquet")
    df.coalesce(1).write.parquet(path)

    sdf = registry.QUERIES["x4k_knn_join_brute"](spark, str(tmp_path))
    got = sorted(tuple(r) for r in sdf.collect())

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{path}/*.parquet'"
    )
    res = con.execute(registry.ORACLES["x4k_knn_join_brute"])
    want = sorted(tuple(r) for r in res.fetchall())
    assert got == want


def test_adaptive_lsh_bits_occupancy_bound():
    """k floors at 3 for grading corpora (pins bit-identical behavior
    at the graded SFs), hits 7 at sf1's 20k, and keeps expected
    occupancy ≤ ~2× target at any n (the per-group block bound)."""
    from pdf_etl_engine_spark.operators.extensions import adaptive_lsh_bits

    assert adaptive_lsh_bits(200) == 3
    assert adaptive_lsh_bits(2_400) == 3
    assert adaptive_lsh_bits(20_000) == 7
    prev = 0
    for n in (10, 1_000, 20_000, 10**6, 10**9, 10**12):
        k = adaptive_lsh_bits(n)
        assert k >= prev  # monotone in corpus size
        prev = k
        assert n / (2**k) <= 2 * 300 or k == 3  # occupancy bound


def test_vector_matrix_handle_lazy_and_pickle_safe(sf_dir):
    """The handle must (a) carry only the path through pickle — the
    cached matrix never serializes into task closures — and (b) build
    the identical (ids, matrix, norms) triple the old driver-side
    toPandas path produced (same f32→f64 widening, strict-fold
    norms)."""
    import pickle

    from pdf_etl_engine_spark.operators.extensions import (
        _VectorMatrixHandle,
        _vector_matrix,
    )

    h = _vector_matrix(sf_dir)
    ids, m, nrm = h.get()
    assert list(ids) == sorted(ids)
    assert m.dtype == np.float64 and m.shape == (len(ids), 64)
    # strict-fold norms: reproduce one row with the pure-python fold
    import math as _math

    want = _math.sqrt(_pure_python_fold_dot(list(m[0]), list(m[0])))
    assert nrm[0] == want  # bit-equal, not approx
    # pickle round-trip carries the path only, and the clone rebuilds
    # the same bytes from the file
    clone = pickle.loads(pickle.dumps(h))
    assert clone.__dict__ == {"path": h.path}
    ids2, m2, nrm2 = clone.get()
    assert (ids2 == ids).all() and (m2 == m).all() and (nrm2 == nrm).all()


def _assert_fused_matches_oracle(spark, sf_dir, oracle_sql, **kwargs):
    """fused_lsh_pairs(6, 4, 61, 0.25, **kwargs) against its DuckDB
    oracle: the identical pair set with the identical 4-dp scores, and
    every raw score bit-equal to the strict j-order fold over the
    embedding matrix (the oracle's list_sum sequence)."""
    import duckdb
    from pyspark.sql import functions as F

    from pdf_etl_engine_spark.catalog import load_table, table_path
    from pdf_etl_engine_spark.functions.stable import stable_round
    from pdf_etl_engine_spark.operators.extensions import (
        _vector_matrix,
        fused_lsh_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    rows = fused_lsh_pairs(emb, 6, 4, 61, 0.25, **kwargs).select(
        "vec_a",
        "vec_b",
        "cos_raw",
        stable_round(F.col("cos_raw"), 4).alias("cos_sim"),
    ).collect()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{table_path(sf_dir, 'embeddings')}'"
    )
    want = {
        (a, b): f"{c:.12g}" for a, b, c in con.execute(oracle_sql).fetchall()
    }
    assert want, "oracle pair set unexpectedly empty"
    assert {(r.vec_a, r.vec_b): f"{r.cos_sim:.12g}" for r in rows} == want

    ids, m, nrm = _vector_matrix(sf_dir).get()
    ia = np.searchsorted(ids, [r.vec_a for r in rows])
    ib = np.searchsorted(ids, [r.vec_b for r in rows])
    fold = _kernel_dot_block(m[ia], m[ib]) / (nrm[ia] * nrm[ib])
    raw = np.array([r.cos_raw for r in rows])
    assert raw.tobytes() == fold.tobytes()  # bit-exact, not approx


def test_fused_lsh_pairs_bit_equals_matrix_rescore(spark, sf_dir):
    """fused_lsh_pairs (the engine of every LSH near-dup binding) must
    emit exactly the arithmetic-family oracle's pair set and scores,
    each raw score the strict fold over the embedding matrix — the
    fusion and the GEMM screen are pure execution-strategy changes,
    never value changes."""
    from pdf_etl_engine_spark.operators.extensions import _arith_lsh_oracle

    _assert_fused_matches_oracle(spark, sf_dir, _arith_lsh_oracle(6, 4, 61))


def test_multiprobe_canonical_direction_matches_home_hamming1(
    spark, sf_dir
):
    """fused_lsh_pairs(probe_hamming=1) emits exactly the pairs whose
    HOME buckets differ in ≤1 bit in some table, with the exact-fold
    scores — the r15 canonical-direction probe emission (flip only SET
    bits, so every d=1 pair is found once, from the side whose probe
    descends into the other's home bucket) is a pure shuffle-volume
    change, never a candidate-set or value change. The reference is
    the mixed-family oracle, which derives the set from home buckets
    alone via bit_count(xor) <= 1."""
    from pdf_etl_engine_spark.operators.extensions import _mixed_lsh_oracle

    _assert_fused_matches_oracle(
        spark,
        sf_dir,
        _mixed_lsh_oracle(6, 4, 61, 1),
        plane="mixed",
        probe_hamming=1,
    )


def test_fused_lsh_pairs_emission_is_duplicate_free(spark, sf_dir):
    """r16 first-collision emission (VERDICT r15 #3): fused_lsh_pairs
    emits each candidate pair from exactly ONE (table, bucket) group —
    the group of the pair's FIRST colliding table — so the raw kernel
    output carries no duplicate (vec_a, vec_b) rows. This is the
    invariant that let the trailing dropDuplicates Exchange (a full
    shuffle of every surviving candidate pair) be deleted. Guarded
    against vacuity: the fixture corpus must actually contain pairs
    colliding in ≥2 tables, or the dedup property would be untested."""
    from pyspark.sql import functions as F

    from pdf_etl_engine_spark.catalog import load_table
    from pdf_etl_engine_spark.operators.extensions import (
        _arith_plane_coefs,
        _bucket_kernel_from_coefs,
        fused_lsh_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # vacuity guard: at (L=6, k=4) some pair shares a bucket in >=2
    # tables, so first-collision emission has real work to do
    bucket_arr = _bucket_kernel_from_coefs(_arith_plane_coefs(24, 61), 6, 4)
    buckets = emb.select(
        "vec_id", F.posexplode(bucket_arr("embedding")).alias("t", "b")
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    multi = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.b") == F.col("b.b"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .groupBy(F.col("a.vec_id"), F.col("b.vec_id"))
        .count()
        .filter(F.col("count") >= 2)
        .count()
    )
    assert multi > 0, "fixture has no multi-table collisions — vacuous"
    for kwargs in (
        {},  # exact buckets, arithmetic planes (the x4j2 shape)
        {"plane": "mixed", "probe_hamming": 1},  # the x4n shape
    ):
        rows = [
            (r.vec_a, r.vec_b)
            for r in fused_lsh_pairs(
                emb, 6, 4, 61, 0.25, **kwargs
            ).collect()
        ]
        assert len(rows) == len(set(rows)), kwargs


def test_knn_topk_block_hot_row_fallback_is_exact():
    """The r12 tie-capture cap (_knn_topk_block): on a duplicate-heavy
    block where one query ties with ~every column, the capped path
    (per-row full-fold fallback, O(|M|) memory) must return exactly
    the rows the uncapped capture returns — same ids, same ranks,
    bit-identical cosines."""
    from pdf_etl_engine_spark.operators.extensions import _knn_topk_block

    rng = np.random.default_rng(7)
    base = rng.normal(size=64)
    # 200 exact duplicates + 56 distinct vectors
    M = np.vstack([np.tile(base, (200, 1)), rng.normal(size=(56, 64))])
    Q = np.vstack([base, rng.normal(size=(3, 64))])

    def nrm(X):
        acc = np.zeros(len(X))
        for j in range(X.shape[1]):  # strict fold, as the kernels do
            acc += X[:, j] * X[:, j]
        return np.sqrt(acc)

    lo = _knn_topk_block(Q, M, nrm(Q), nrm(M), 5, cap=8)
    hi = _knn_topk_block(Q, M, nrm(Q), nrm(M), 5, cap=10**9)
    for a, b in zip(lo, hi):
        assert np.array_equal(a, b)


def test_x4l_blocked_knn_matches_x4k_and_stays_block_bounded(
    spark, tmp_path
):
    """x4l (row-block × column-block cogroup grid) must be
    hash-identical to x4k on a duplicate-heavy corpus (ties exercise
    the (c DESC, nbr_id) comparator across block boundaries), its
    plan must be the cogroup shape, and — the O(block) memory pin —
    no grid cell may receive more than ceil(n/QB) query rows or
    ceil(n/CB) corpus rows."""
    import math

    from pyspark.sql import functions as F

    from pdf_etl_engine_spark import registry
    from pdf_etl_engine_spark.operators.extensions import _X4L_CB, _X4L_QB

    registry.load_all()
    rng = np.random.default_rng(11)
    base = rng.normal(size=64).astype(np.float32)
    rows = []
    for vid in range(60):
        emb = base if vid < 20 else rng.normal(size=64).astype(np.float32)
        rows.append((vid, [float(x) for x in emb], "L%d" % (vid % 3)))
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label string"
    )
    df.coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))

    blocked = registry.QUERIES["x4l_knn_join_blocked"](spark, str(tmp_path))
    brute = registry.QUERIES["x4k_knn_join_brute"](spark, str(tmp_path))
    got = sorted(tuple(r) for r in blocked.collect())
    want = sorted(tuple(r) for r in brute.collect())
    assert got == want

    plan = blocked._jdf.queryExecution().executedPlan().toString()
    assert "CoGroup" in plan, plan

    n = 60
    q_cells = (
        df.select(
            F.pmod("vec_id", F.lit(_X4L_QB)).alias("qb"),
        )
        .groupBy("qb")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert q_cells <= math.ceil(n / _X4L_QB)


def test_lsh_modulus_keeps_planes_duplicate_free():
    """ADVICE r11: mod must exceed L·k so no two arithmetic planes
    coincide. lsh_modulus preserves the pinned 61 for grading-corpus
    k (L·k ≤ 60), returns a prime > L·k beyond it, and the resulting
    plane matrices actually contain no duplicate rows at the adaptive
    parameterizations x14b runs."""
    from pdf_etl_engine_spark.operators.extensions import lsh_modulus

    assert lsh_modulus(12, 3) == 61   # grading corpora: bit-identical
    assert lsh_modulus(12, 5) == 61   # L·k=60 still fits
    assert lsh_modulus(12, 7) == 89   # sf1: the r11 defect (61) fixed
    for k in (3, 7, 10, 13):
        mod = lsh_modulus(12, k)
        assert mod > 12 * k
        planes = np.array(
            [[(31 * p + 17 * j) % mod for j in range(64)]
             for p in range(12 * k)]
        )
        assert len(np.unique(planes, axis=0)) == 12 * k


def test_mixed_plane_family_matches_duckdb_mixer_and_is_decorrelated():
    """The r12 mixed plane family: (a) numpy and the DuckDB SQL
    expression compute identical coefficients (the oracle recomputes
    the mixer itself); (b) mean pairwise |cosine| of the planes is at
    the random-hyperplane level (~0.10), unlike the arithmetic
    sawtooth family (~0.38) whose correlation caused the r11 recall
    anomaly."""
    import duckdb

    from pdf_etl_engine_spark.operators.extensions import (
        _mix_coef_expr,
        _mix_plane_coefs,
    )

    coefs = _mix_plane_coefs(120, 127)
    con = duckdb.connect()
    for p in (0, 7, 119):
        sql_vals = con.execute(
            f"SELECT list_transform(range(0, 64), "
            f"j -> {_mix_coef_expr(p, 127)})"
        ).fetchone()[0]
        assert list(coefs[p].astype(int)) == sql_vals

    norm = coefs / np.linalg.norm(coefs, axis=1, keepdims=True)
    corr = norm @ norm.T
    off = np.abs(corr[~np.eye(len(coefs), dtype=bool)])
    assert off.mean() < 0.15
    arith = np.array(
        [[(31 * p + 17 * j) % 127 - 63 for j in range(64)]
         for p in range(120)],
        dtype=float,
    )
    an = arith / np.linalg.norm(arith, axis=1, keepdims=True)
    aoff = np.abs((an @ an.T)[~np.eye(120, dtype=bool)])
    assert aoff.mean() > 0.3  # the defect the mixed family removes


def test_lsh_recall_contract_matches_measured_and_is_monotone():
    """The executable recall↔cost contract: theory at the measured sf1
    parameterizations must sit near the committed RECALL_SF1 numbers
    for the mixed family (the point of the r12 plane fix), L must be
    monotone in target recall, and the planner must refuse unreachable
    targets instead of under-recalling silently."""
    import pytest as _pytest

    from pdf_etl_engine_spark.operators.extensions import (
        lsh_recall_theory,
        lsh_tables_for_recall,
    )

    # sf1 measured (RECALL_SF1.json, mixed_multiprobe L=12 k=10):
    # [0.5,0.6) band 0.7797 vs theory 0.8063; [0.6,0.7) 0.8333 vs
    # 0.9234 (18-pair band) — theory within ~0.1 of measurement
    assert abs(lsh_recall_theory(0.55, 10, 12, 1) - 0.8063) < 0.01
    assert lsh_recall_theory(0.65, 10, 12, 1) > 0.9

    # monotonicity of the planner in target and threshold
    l_lo = lsh_tables_for_recall(0.5, 0.6, 10, probe_hamming=1)
    l_hi = lsh_tables_for_recall(0.9, 0.6, 10, probe_hamming=1)
    assert l_lo <= l_hi
    assert lsh_tables_for_recall(0.9, 0.7, 10, 1) <= l_hi

    # probing reaches targets plain buckets cannot (within 256 tables)
    with _pytest.raises(ValueError):
        lsh_tables_for_recall(0.99, 0.4, 10, probe_hamming=0)
    assert lsh_tables_for_recall(0.9, 0.6, 10, probe_hamming=1) <= 16
