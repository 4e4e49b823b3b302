"""Bucket-partitioned ANN index: the storage-side half of X4's
similarity search (SURVEY.md §2.11).

``x4b_ann_lsh_topk`` computes LSH buckets at query time, so every probe
still scans all embedding rows before the bucket semi-join filters
them. That is fine as a *query* but wrong as a *serving topology*: at
100 TB the bucket assignment must be paid once, at write time, and a
probe must touch only the partitions holding the query's buckets.

This module makes that real:

* :func:`build_ann_index` explodes each vector into its L (table,
  bucket) slots and writes parquet **partitioned by (t, b)** — the
  Hive-style layout Spark prunes statically. Build cost is one
  shuffle-free write with ×L row amplification (L=12 here); at scale
  the index is maintained incrementally by appending each new batch's
  exploded rows into the same partition tree.
* :func:`probe_ann_index` evaluates the query vector's L buckets
  driver-side (one row — this is the serving path's O(L) work), turns
  them into literal ``(t = …, b = …)`` disjuncts, and reads the index
  with that predicate. ``.explain`` shows the buckets under
  ``PartitionFilters`` and the scan touches ≤ L of the n_tables × 2^k
  partition directories; only the candidate set pays the exact cosine
  rescore. tests/test_ann_index.py pins both the pruning and the
  equivalence to x4b's answer.

The reference service has no vector path at all; this extends its
/get-results top-k idea (main.py:808-811) to embedding space.
"""

from __future__ import annotations

import pathlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pdf_etl_engine_spark.catalog import load_table, table_path
from pdf_etl_engine_spark.functions.stable import stable_round
from pdf_etl_engine_spark.operators.extensions import (
    _as_double,
    _dot,
    _lsh_buckets,
)
from pdf_etl_engine_spark.registry import query
from pdf_etl_engine_spark.scratch import scratch_dir

# Same (k, L) operating point as x4b — see its docstring for the
# recall math on this near-uniform testdata.
N_TABLES = 12
N_BITS = 3


def build_ann_index(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_tables: int = N_TABLES,
    n_bits: int = N_BITS,
) -> None:
    """Write the LSH index table: one row per (vector, table), parquet
    partitioned by (t, b) so probes prune directories, not rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    idx = emb.select(
        "vec_id",
        "label",
        "embedding",
        F.explode(_lsh_buckets(n_tables, n_bits)).alias("tb"),
    ).select(
        F.col("tb.t").alias("t"),
        F.col("tb.b").alias("b"),
        "vec_id",
        "label",
        "embedding",
    )
    # Shuffle on the partition key before the partitioned write: each
    # writer task then owns whole (t, b) cells, so the layout is one
    # file per cell instead of (tasks × cells) small files — the
    # standard small-files guard for partitioned tables.
    idx.repartition("t", "b").write.mode("overwrite").partitionBy(
        "t", "b"
    ).parquet(out_dir)


def probe_ann_index(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    query_vec_id: int = 0,
    k: int = 10,
) -> DataFrame:
    """Top-k cosine neighbors of ``query_vec_id`` via the partitioned
    index: candidate read touches only the query's L bucket
    partitions."""
    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == query_vec_id)
    # Serving-path driver work: L bucket ids for ONE vector. This
    # collect is O(L), not O(n) — it is what turns the probe into
    # literal partition predicates Spark can prune statically.
    buckets = (
        qrow.select(F.explode(_lsh_buckets(N_TABLES, N_BITS)).alias("tb"))
        .select("tb.t", "tb.b")
        .collect()
    )
    # unknown query id ⇒ no buckets ⇒ empty candidate set (not a crash)
    pred = F.lit(False)
    for r in buckets:
        pred = pred | (
            (F.col("t") == int(r["t"])) & (F.col("b") == int(r["b"]))
        )
    # score from the INDEX-CARRIED vectors, not an emb join: the index
    # rows store (embedding, label), so candidates appended by
    # append_ann_index — vectors that never existed in the base
    # corpus parquet — are servable; duplicates across a vector's L
    # bucket rows carry identical payload, so the per-id dedup is
    # value-deterministic. One join fewer than the r12 shape, same
    # answer (pinned against x4b in tests/test_ann_index.py).
    cand = (
        spark.read.parquet(index_dir)
        .filter(pred)
        .filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", "label", "embedding")
        .dropDuplicates(["vec_id"])
    )
    qv = qrow.select(_as_double(F.col("embedding")).alias("qv"))
    e = _as_double(F.col("embedding"))
    scored = (
        cand.crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            "label",
            stable_round(
                _dot(e, F.col("qv"))
                / (
                    F.sqrt(_dot(e, e))
                    * F.sqrt(_dot(F.col("qv"), F.col("qv")))
                ),
                4,
            ).alias("cos_sim"),
        )
    )
    return scored.orderBy(F.desc("cos_sim"), "vec_id").limit(k)


def append_ann_index(
    spark: SparkSession,
    index_dir: str,
    new_emb: DataFrame,
    n_tables: int = N_TABLES,
    n_bits: int = N_BITS,
) -> None:
    """Incremental maintenance for the LSH index (the module header's
    promise, made real like the IVF-PQ one): explode a new vector
    batch into its L (t, b) slots and APPEND into the same partition
    tree — writer tasks own whole cells (repartition first), existing
    files are never rewritten, and probes see appended vectors
    immediately because they score from index-carried payload. The
    hyperplanes are derived from (n_tables, n_bits) alone — stateless,
    nothing to retrain, so unlike IVF-PQ there is no drift trigger;
    the only rebuild reason is re-parameterizing (k, L).

    vec_id is the index's primary key: probe_ann_index serves payload
    from index rows and dedups with dropDuplicates([vec_id]), which
    is deterministic only while every vec_id carries ONE payload. An
    append that reuses an existing vec_id would make the probe pick
    an arbitrary (possibly stale) embedding, so it FAILS LOUDLY here
    instead (ADVICE r13): one semi-join of the index's pruned vec_id
    column against the broadcast new-id set — updates are
    delete-and-rebuild (or a tombstone layer), not silent overwrite."""
    new_ids = new_emb.select("vec_id").distinct()
    clash = (
        spark.read.parquet(index_dir)
        .select("vec_id")
        .join(F.broadcast(new_ids), "vec_id", "left_semi")
        .limit(5)
        .collect()
    )
    if clash:
        raise ValueError(
            "append_ann_index: vec_id(s) already present in the index "
            f"(e.g. {sorted(r['vec_id'] for r in clash)}); appends must "
            "carry fresh ids — rebuild to replace existing vectors"
        )
    idx = new_emb.select(
        "vec_id",
        "label",
        "embedding",
        F.explode(_lsh_buckets(n_tables, n_bits)).alias("tb"),
    ).select(
        F.col("tb.t").alias("t"),
        F.col("tb.b").alias("b"),
        "vec_id",
        "label",
        "embedding",
    )
    idx.repartition("t", "b").write.mode("append").partitionBy(
        "t", "b"
    ).parquet(index_dir)


def default_index_dir(sf_dir: str) -> str:
    """Scratch location for the index over ``sf_dir``'s embeddings,
    keyed by source identity (path + mtime + size) so regenerated
    testdata re-indexes instead of reusing a stale build."""
    return scratch_dir(
        "spark_graft_ann_index",
        table_path(sf_dir, "embeddings"),
        f"{N_TABLES}x{N_BITS}",
    )


@query("x4f_ann_index_topk")  # rows-only: approximate by design
def x4f_ann_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4f: ANN probe against the bucket-partitioned index — builds
    the index on first use (write-once), then answers from ≤ L pruned
    partitions. Same (k, L) as x4b, so the candidate set — and hence
    the answer — is identical; only the I/O shape differs."""
    index_dir = default_index_dir(sf_dir)
    if not pathlib.Path(index_dir, "_SUCCESS").exists():
        build_ann_index(spark, sf_dir, index_dir)
    return probe_ann_index(spark, sf_dir, index_dir)


# ---------------------------------------------------------------------------
# X47 — product quantization (PQ): 64-dim f32 -> 8-byte code + ADC scan
# ---------------------------------------------------------------------------

_PQ_S = 8   # subspaces
_PQ_D = 8   # dims per subspace (8 x 8 = 64)
_PQ_K = 16  # centroids per subspace -> 4 bits/code, 8 codes pack one int64
_PQ_M1, _PQ_M2, _PQ_P = 2654435761, 1597334677, 2147483647  # x4m mixer


def _pq_codebook(k_cent: int = _PQ_K) -> list[list[list[int]]]:
    """Deterministic codebook as INTEGER numerators n (centroid value
    = n/256, a dyadic rational both engines parse to the identical
    double): cb[s][c][d] from the x4m hash mixer at flat index
    (s·k_cent + c)·8 + d, folded to [-64, 63]. At the graded default
    k_cent=16 the flat index is s*128 + c*8 + d — byte-identical to
    the r12 form; k_cent=256 is the 8-bit codebook the recall sweep
    (tools/recall_ivfpq_sf1.py) measures. Fixed (untrained) by
    design — the graded contract here is the encode/scan machinery;
    x47c grades the TRAINED codebook (per-subspace sampled Lloyd)."""
    cb = []
    for s in range(_PQ_S):
        cs = []
        for c in range(k_cent):
            ds = []
            for d in range(_PQ_D):
                f = (s * k_cent + c) * _PQ_D + d
                h = (f + 1) * _PQ_M1 % _PQ_P
                h ^= h >> 15
                h = h * _PQ_M2 % _PQ_P
                h ^= h >> 13
                ds.append(h % 128 - 64)
            cs.append(ds)
        cb.append(cs)
    return cb


def _pq_mix_sql(fexpr: str) -> str:
    """DuckDB twin of the codebook mixer at flat index ``fexpr``
    (same shape as _mix_coef_expr; every intermediate < 2^62)."""
    h1 = f"((({fexpr} + 1) * {_PQ_M1}) % {_PQ_P})"
    h2 = f"xor({h1}, {h1} >> 15)"
    h3 = f"(({h2} * {_PQ_M2}) % {_PQ_P})"
    h4 = f"xor({h3}, {h3} >> 13)"
    return f"({h4} % 128 - 64)"


def _pq_cb_flat(k_cent: int = _PQ_K) -> Column:
    """The codebook as ONE array<int> Literal (flat index
    (s·k_cent + c)·8 + d). A Literal, not CreateArray — 1024 unrolled
    constant children (like 1024 unrolled distance terms) overflow
    the JVM's 64KB-per-method codegen limit and drop the whole stage
    into interpreted evaluation; a Literal is a constant object
    reference and higher-order functions over it codegen as loops."""
    return F.lit(
        [n for cs in _pq_codebook(k_cent) for ds in cs for n in ds]
    )


def _pq_dist_expr(
    e: Column, s, c, cbflat: Column, k_cent: int = _PQ_K
) -> Column:
    """Squared L2 between subspace ``s`` of embedding ``e`` and
    centroid ``c`` (both may be int or Column), as the strict
    sequential fold ((0.0 + t0) + t1) + ... the DuckDB twin's
    list_reduce([0.0] || terms) reproduces term for term (each term
    = (x - n/256)^2 via one multiply — no pow)."""
    s = F.lit(s) if isinstance(s, int) else s
    c = F.lit(c) if isinstance(c, int) else c
    base_e = s * _PQ_D
    base_cb = (s * k_cent + c) * _PQ_D
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(_PQ_D - 1)),
        F.lit(0.0),
        lambda a, d: a
        + (
            F.element_at(e, (base_e + d + 1).cast("int")).cast("double")
            - F.element_at(cbflat, (base_cb + d + 1).cast("int")).cast(
                "double"
            )
            / F.lit(256.0)
        )
        * (
            F.element_at(e, (base_e + d + 1).cast("int")).cast("double")
            - F.element_at(cbflat, (base_cb + d + 1).cast("int")).cast(
                "double"
            )
            / F.lit(256.0)
        ),
    )


def _stage_pq_dists(
    df: DataFrame, keep: list, vec_col: str, cbflat: Column
) -> DataFrame:
    """Stage the 16-distance array per subspace as REAL columns
    da0..da7 next to ``keep``: each fold then runs once per
    (row, subspace) instead of once per consumer (argmin / min /
    error all re-evaluating the transform — HOFs sit outside
    codegen's subexpression elimination, and CollapseProject will
    not inline a non-cheap producer referenced more than once).
    Shared by pq_encode and the x47d residual encode so the staging
    discipline cannot silently diverge between them."""

    def _dist_at(s: int):
        # NB: a two-arg transform lambda would receive (element,
        # index) — the subspace must be bound via a real closure
        return lambda c: _pq_dist_expr(F.col(vec_col), s, c, cbflat)

    return df.select(
        *keep,
        *[
            F.transform(
                F.sequence(F.lit(0), F.lit(_PQ_K - 1)), _dist_at(s)
            ).alias(f"da{s}")
            for s in range(_PQ_S)
        ],
    )


def _pq_argmin(s: int) -> Column:
    """First-min argmin over the staged da{s} column (ties -> lowest
    code, = list_position(ds, list_min(ds)) - 1 in the oracle)."""
    da = F.col(f"da{s}")
    return (F.array_position(da, F.array_min(da)) - 1).cast("long")


def pq_encode(emb: DataFrame) -> DataFrame:
    """PQ-encode embeddings: per subspace, argmin squared-L2 centroid
    (ties -> smallest centroid id, = first position of the min in
    both engines), 8 4-bit codes packed little-endian into ONE int64
    ``pq_code``. Returns (vec_id, pq_code, q_err_raw).

    Scale shape: map-only — no UDF, no shuffle; the distances run as
    higher-order-function folds over one array-Literal codebook
    (HOFs are CodegenFallback, but a constant-size interpreted
    expression — the unrolled codegen'd form overflowed the JVM's
    64KB method limit and was strictly slower; see the x47b note)
    at ~2.4 s for the full sf1 corpus. The
    point at 100 TB: the persisted search column shrinks 256 bytes
    (64 f32) -> 8 bytes, so an exhaustive ADC scan reads 1/32 the
    bytes and the code table for 10^12 vectors is 8 TB instead of
    256 TB (memory-resident per executor for its partition slice)."""
    staged = _stage_pq_dists(emb, ["vec_id"], "embedding", _pq_cb_flat())
    pq = F.lit(0).cast("long")
    err: Column = F.lit(0.0)
    for s in range(_PQ_S):
        pq = pq + _pq_argmin(s) * F.lit(1 << (4 * s)).cast("long")
        err = err + F.array_min(F.col(f"da{s}"))
    return staged.select(
        "vec_id", pq.alias("pq_code"), err.alias("q_err_raw")
    )


def _pq_cb_cte() -> str:
    """Shared oracle CTEs: codebook from the in-SQL mixer + per-
    (vec, subspace) strict-fold distances + first-min argmin codes."""
    term = (
        f"(CAST(embedding[CAST(cb.s * {_PQ_D} + d + 1 AS INTEGER)] "
        "AS DOUBLE) - CAST(cn[CAST(d + 1 AS INTEGER)] AS DOUBLE) / 256.0)"
    )
    return f"""
    WITH cb AS (
      SELECT CAST(sr.range AS BIGINT) AS s, CAST(cr.range AS BIGINT) AS c,
             list_transform(range(0, {_PQ_D}), d ->
               {_pq_mix_sql(f"(CAST(sr.range AS BIGINT) * 128 + CAST(cr.range AS BIGINT) * 8 + d)")})
               AS cn
      FROM range(0, {_PQ_S}) sr, range(0, {_PQ_K}) cr
    ), dist AS (
      SELECT e.vec_id, cb.s, cb.c,
             list_reduce([CAST(0.0 AS DOUBLE)] ||
               list_transform(range(0, {_PQ_D}), d -> {term} * {term}),
               (a, b) -> a + b) AS dd
      FROM embeddings e CROSS JOIN cb
    ), bysub AS (
      SELECT vec_id, s, list(dd ORDER BY c) AS ds
      FROM dist GROUP BY vec_id, s
    ), code AS (
      SELECT vec_id, s,
             CAST(list_position(ds, list_min(ds)) - 1 AS BIGINT) AS cd,
             list_min(ds) AS md
      FROM bysub
    )
    """


@query(
    "x47_pq_encode",
    oracle=_pq_cb_cte()
    + """
    SELECT vec_id,
           CAST(sum(cd << CAST(4 * s AS INTEGER)) AS BIGINT) AS pq_code,
           round(list_reduce([CAST(0.0 AS DOUBLE)] || list(md ORDER BY s),
                             (a, b) -> a + b) + 5e-10, 4) AS q_err
    FROM code GROUP BY vec_id
    """,
)
def x47_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X47: product-quantization encode — the compression half of
    IVF-PQ, the standard billion-vector ANN layout (x4e supplies the
    IVF half; composing them is partition-by-cell + PQ codes within
    the cell). Graded bit-exact end to end: the codebook mixer, the
    strict-fold subspace distances, the first-min argmin, and the
    packed int64 all recompute identically in DuckDB.

    Reference anchor: extends the reference's per-document embedding
    comparisons (main.py:694-715) with the storage form that makes
    them affordable at 10^12 vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    enc = pq_encode(emb)
    return enc.select(
        "vec_id",
        "pq_code",
        stable_round(F.col("q_err_raw"), 4).alias("q_err"),
    )


def pq_encode_arrow(emb: DataFrame) -> DataFrame:
    """BIT-IDENTICAL Arrow twin of :func:`pq_encode`: same
    (vec_id, pq_code, q_err_raw), computed in one vectorized numpy
    kernel instead of interpreted HOF folds.

    Why it can claim bit-identity (the x27-style discipline, applied
    to kernels instead of engines): every float step reproduces the
    Column form's IEEE-double sequence exactly —

    * centroid value n/256.0 is a dyadic rational, exact in double
      either way;
    * the per-(row, centroid) distance accumulates d = 0..7 as an
      explicit Python loop over vectorized adds, i.e. the SAME strict
      left fold ((0 + t0²) + t1²) + … as F.aggregate (numpy's own
      .sum() would use pairwise summation — different rounding — so
      it is deliberately not used);
    * np.argmin returns the FIRST minimum, matching
      array_position(da, array_min(da)) − 1;
    * q_err adds the per-subspace minima in s-ascending order from 0.

    tests/test_pq_spans.py pins code-and-error equality against
    pq_encode row for row. Scale shape: map-only like pq_encode, but
    the 1024 multiply-adds per row run as 8·8 vectorized (n × 16)
    array ops per Arrow batch instead of ~1024 interpreted lambda
    steps per ROW — the same plan, ~40× less per-row overhead."""
    import numpy as np
    import pyarrow as pa

    cb = (
        np.asarray(_pq_codebook(), dtype=np.float64) / 256.0
    )  # (S, K, D), exact dyadic values
    s_dims, k_cent, d_dims = _PQ_S, _PQ_K, _PQ_D

    def enc(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            x = np.asarray(
                batch.column("embedding").flatten(), dtype=np.float64
            ).reshape(n, s_dims * d_dims)
            codes = np.zeros(n, dtype=np.int64)
            qerr = np.zeros(n, dtype=np.float64)
            rows = np.arange(n)
            for s in range(s_dims):
                xs = x[:, s * d_dims : (s + 1) * d_dims]
                acc = np.zeros((n, k_cent), dtype=np.float64)
                for d in range(d_dims):
                    t = xs[:, d : d + 1] - cb[s, :, d][None, :]
                    acc += t * t
                cd = np.argmin(acc, axis=1)
                codes |= cd.astype(np.int64) << (4 * s)
                qerr += acc[rows, cd]
            yield pa.RecordBatch.from_pydict(
                {
                    "vec_id": batch.column("vec_id").cast(pa.int64()),
                    "pq_code": pa.array(codes, pa.int64()),
                    "q_err_raw": pa.array(qerr, pa.float64()),
                }
            )

    return emb.select("vec_id", "embedding").mapInArrow(
        enc, "vec_id long, pq_code long, q_err_raw double"
    )


_X47B_ORACLE = (
    _pq_cb_cte()
    + f"""
    , q AS (
      SELECT vec_id AS query_id, embedding AS qe
      FROM embeddings WHERE vec_id % 250 = 0
    ), pd AS (
      SELECT q.query_id, code.vec_id, code.s,
             list_reduce([CAST(0.0 AS DOUBLE)] ||
               list_transform(range(0, {_PQ_D}), d ->
                 (CAST(qe[CAST(code.s * {_PQ_D} + d + 1 AS INTEGER)]
                       AS DOUBLE)
                  - CAST(cn[CAST(d + 1 AS INTEGER)] AS DOUBLE) / 256.0)
                 * (CAST(qe[CAST(code.s * {_PQ_D} + d + 1 AS INTEGER)]
                         AS DOUBLE)
                    - CAST(cn[CAST(d + 1 AS INTEGER)] AS DOUBLE) / 256.0)),
               (a, b) -> a + b) AS dd
      FROM q CROSS JOIN code JOIN cb ON cb.s = code.s AND cb.c = code.cd
    ), adc AS (
      SELECT query_id, vec_id,
             list_reduce([CAST(0.0 AS DOUBLE)] || list(dd ORDER BY s),
                         (a, b) -> a + b) AS adc_raw
      FROM pd GROUP BY query_id, vec_id
    )
    SELECT query_id, vec_id, round(adc_raw + 5e-10, 4) AS adc_dist,
           rank FROM (
      SELECT query_id, vec_id, adc_raw,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc_raw, vec_id) AS rank
      FROM adc
    ) WHERE rank <= 5
    """
)


@query("x47b_pq_adc_topk", oracle=_X47B_ORACLE)
def x47b_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X47b: asymmetric-distance (ADC) top-k over the 8-byte PQ codes
    — the query half of IVF-PQ. Queries (vec_id % 250 = 0, the x4
    probe-set convention) stay full-precision; corpus vectors are
    reconstructed per subspace from the packed code's 4-bit fields
    (pq_code >> 4s & 15) and scored by summed subspace squared-L2 in
    subspace order (strict fold, bit-exact vs the SQL twin). Self
    matches stay in the result — PQ distance of a vector to its own
    code is its quantization error, a useful sanity signal.

    Scale shape: the ADC LUT — dist(q_s, centroid c) for all 8×16
    (s, c) pairs — is computed ONCE per query on the broadcast-tiny
    query side (the standard PQ trick: it turns the per-pair work
    from 1024 multiply-adds into 8 array lookups + adds, and keeps
    the per-pair expression small enough for whole-stage codegen —
    the unrolled form's ~2000-node tree blew the JVM method limit
    into interpreted fallback, 6.8× slower than DuckDB at sf1; the
    LUT form inverts that). The code scan is map-only over the
    8-byte column; the only keyed exchange is the per-query top-5,
    WindowGroupLimit-partial per partition. Summation order (s
    ascending, d ascending within s) is unchanged, so adc values are
    bit-identical to the unrolled form and the oracle.

    r14 (VERDICT r13 #2): the encode half is the Arrow kernel
    (pq_encode_arrow) — the canonical name was the one registered
    query still reading >2× at sf1 (2.02×, BENCH_r13) while its
    bit-identical fused twin read 0.30×; the kernel reproduces the
    HOF fold's float sequence exactly (pinned row-for-row by
    tests/test_pq_spans.py), so the oracle and the answer are
    unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    enc = pq_encode_arrow(emb)
    cbflat = _pq_cb_flat()
    lut = F.transform(
        F.sequence(F.lit(0), F.lit(_PQ_S * _PQ_K - 1)),
        lambda i: _pq_dist_expr(
            F.col("qe"),
            F.shiftright(i, 4),
            i.bitwiseAND(F.lit(_PQ_K - 1)),
            cbflat,
        ),
    )
    q = emb.filter(F.col("vec_id") % 250 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    ).select("query_id", lut.alias("lut"))
    pairs = enc.crossJoin(F.broadcast(q))
    adc: Column = F.lit(0.0)
    for s in range(_PQ_S):
        code_s = (
            F.shiftright(F.col("pq_code"), 4 * s)
            .bitwiseAND(F.lit(15))
            .cast("int")
        )
        adc = adc + F.element_at(F.col("lut"), F.lit(s * _PQ_K) + code_s + 1)
    scored = pairs.select(
        "query_id", "vec_id", adc.alias("adc_raw")
    )
    w = Window.partitionBy("query_id").orderBy("adc_raw", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            "vec_id",
            stable_round(F.col("adc_raw"), 4).alias("adc_dist"),
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# X47c — trained product quantization (per-subspace fixed-point Lloyd)
# ---------------------------------------------------------------------------


def _pqfp_sub(s_expr, e: Column) -> Column:
    """Fixed-point 8-dim subvector for subspace ``s_expr``:
    floor(x·10⁴) per component (the x45b discipline — all downstream
    distance/mean arithmetic is then exact integer math, gradable in
    any engine regardless of accumulation order)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(_PQ_D - 1)),
        lambda d: F.floor(
            F.element_at(e, s_expr * _PQ_D + d + 1).cast("double")
            * 10000
        ).cast("long"),
    )


def _pqfp_dist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _pqfp_assign(vecs: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest centroid per (vec_id, s): broadcast the 8×16-row
    codebook, join on subspace, integer L2, argmin with ties → lowest
    cell. Returns (vec_id, s, cell, md)."""
    a = vecs.join(F.broadcast(cent), "s").select(
        "vec_id",
        "s",
        "cell",
        _pqfp_dist(F.col("qa"), F.col("c")).alias("dist"),
    )
    m = a.groupBy("vec_id", "s").agg(F.min("dist").alias("md"))
    return (
        a.join(m, ["vec_id", "s"])
        .filter(F.col("dist") == F.col("md"))
        .groupBy("vec_id", "s")
        .agg(F.min("cell").alias("cell"), F.min("md").alias("md"))
    )


def _pqfp_lloyd(vecs: DataFrame, train: DataFrame, iters: int) -> DataFrame:
    """Per-subspace Lloyd over the training sample (x45b's _fp_lloyd
    with the subspace key threaded through): seeds are the first 16
    vec_ids' subvectors FROM THE FULL RELATION (seeding from the
    sample would keep only vec_ids ≡ 0 mod 4 < 16 — four centroids,
    squandering 2 of the 4 code bits), means floor(Σ/n) per
    component. Returns the trained codebook (s, cell,
    c: array<bigint>); cells keep their seed ids so codes stay < 16
    even when a cell empties."""
    cent = vecs.filter(F.col("vec_id") < _PQ_K).select(
        "s", F.col("vec_id").alias("cell"), F.col("qa").alias("c")
    )
    for _ in range(iters):
        assigned = _pqfp_assign(train, cent).select("vec_id", "s", "cell")
        long = assigned.join(train, ["vec_id", "s"]).select(
            "s", "cell", F.posexplode("qa").alias("j", "qj")
        )
        comps = long.groupBy("s", "cell", "j").agg(
            F.floor(F.sum("qj").cast("double") / F.count(F.lit(1)))
            .cast("long")
            .alias("cj")
        )
        cent = comps.groupBy("s", "cell").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "cj"))),
                lambda st: st["cj"],
            ).alias("c")
        )
    return cent


def _pqfp_sql_dist(a: str, b: str) -> str:
    return (
        f"list_reduce([CAST(0 AS BIGINT)] || list_transform("
        f"list_zip({a}, {b}), p -> (p[1] - p[2]) * (p[1] - p[2])), "
        "(acc, x) -> acc + x)"
    )


def _pqfp_iter_sql(i: int, prev_cent: str) -> str:
    """One unrolled Lloyd iteration (assign → integer means) as CTEs
    a{i}/m{i}/as{i}/c{i}/cent{i}, keyed by (s, cell)."""
    d = _pqfp_sql_dist("t.qa", "cc.c")
    return f"""
    a{i} AS (
      SELECT t.vec_id, t.s, cc.cell, {d} AS dist
      FROM train t JOIN {prev_cent} cc ON cc.s = t.s
    ), m{i} AS (
      SELECT vec_id, s, min(dist) AS md FROM a{i} GROUP BY 1, 2
    ), as{i} AS (
      SELECT a.vec_id, a.s, min(a.cell) AS cell
      FROM a{i} a JOIN m{i} m
        ON a.vec_id = m.vec_id AND a.s = m.s AND a.dist = m.md
      GROUP BY 1, 2
    ), c{i} AS (
      SELECT a.s, a.cell, r.j,
             CAST(floor(CAST(sum(t.qa[CAST(r.j AS INTEGER) + 1])
                             AS DOUBLE) / count(*)) AS BIGINT) AS cj
      FROM as{i} a JOIN train t ON t.vec_id = a.vec_id AND t.s = a.s,
           range(0, {_PQ_D}) r(j)
      GROUP BY 1, 2, 3
    ), cent{i} AS (
      SELECT s, cell, list(cj ORDER BY j) AS c FROM c{i} GROUP BY 1, 2
    )"""


_X47C_ORACLE = f"""
    WITH q AS (
      SELECT vec_id, CAST(sr.range AS BIGINT) AS s,
             list_transform(range(0, {_PQ_D}), d ->
               CAST(floor(CAST(embedding[
                 CAST(CAST(sr.range AS BIGINT) * {_PQ_D} + d + 1
                      AS INTEGER)] AS DOUBLE) * 10000) AS BIGINT)) AS qa
      FROM embeddings, range(0, {_PQ_S}) sr
    ), train AS (
      SELECT * FROM q WHERE vec_id % 4 = 0
    ), cent0 AS (
      SELECT s, vec_id AS cell, qa AS c FROM q WHERE vec_id < {_PQ_K}
    ), {_pqfp_iter_sql(1, "cent0")[5:]}
    , {_pqfp_iter_sql(2, "cent1")[5:]}
    , af AS (
      SELECT t.vec_id, t.s, cc.cell,
             {_pqfp_sql_dist("t.qa", "cc.c")} AS dist
      FROM q t JOIN cent2 cc ON cc.s = t.s
    ), mf AS (
      SELECT vec_id, s, min(dist) AS md FROM af GROUP BY 1, 2
    ), code AS (
      SELECT a.vec_id, a.s, min(a.cell) AS cd, min(m.md) AS md
      FROM af a JOIN mf m
        ON a.vec_id = m.vec_id AND a.s = m.s AND a.dist = m.md
      GROUP BY 1, 2
    )
    SELECT vec_id,
           CAST(sum(cd << CAST(4 * s AS INTEGER)) AS BIGINT) AS pq_code,
           CAST(sum(md) AS BIGINT) AS q_err_fp
    FROM code GROUP BY vec_id
"""


@query("x47c_pq_encode_trained", oracle=_X47C_ORACLE)
def x47c_pq_encode_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X47c: PQ with a TRAINED codebook — per-subspace sampled-Lloyd
    k-means (2 iterations, seeds = first 16 vec_ids, deterministic
    1/4 sample: the x45b recipe with the subspace key threaded
    through), then the same argmin-encode into one packed int64. The
    entire pipeline INCLUDING training grades bit-exact cross-engine
    because every distance, mean, and quantization error is
    fixed-point integer arithmetic (q_err_fp is an exact BIGINT —
    no float rounding anywhere).

    Why this exists next to x47: the fixed mixer codebook leaves
    ~92% of vector energy as quantization error on this corpus;
    training drops that to ~62% (measured; the near-uniform random
    testdata is the PQ worst case — no cluster structure to exploit,
    so this is the floor training can reach here, and real embedding
    corpora do much better) — the same quality-over-machinery lesson
    as the r12 LSH plane fix. tests/test_pq_spans.py pins the error
    drop and that all 16 codes per subspace are in play (the
    train-side seeding bug this replaced silently used only 4).

    Scale shape: training touches only the sample (corpus/4 × 8
    subspace rows, each 8 ints); the codebook (≤128 rows) broadcasts
    into assignment; encode is one broadcast join + per-(vec, s)
    argmin groupBy — no corpus-sized shuffle carries vector payload
    more than once, and at 100 TB the sample rate drops (Lloyd needs
    thousands of points per centroid, not a fixed fraction)."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    vecs = emb.select(
        "vec_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(_PQ_S - 1)),
                lambda s: F.struct(
                    s.cast("long").alias("s"),
                    _pqfp_sub(s, e).alias("qa"),
                ),
            )
        ).alias("g"),
    ).select("vec_id", "g.s", "g.qa")
    train = vecs.filter(F.col("vec_id") % 4 == 0)
    # materialize the (<=128 x 8-int) codebook once: _pqfp_assign's
    # argmin references its input twice (distances + the min join),
    # which would otherwise re-run the whole Lloyd chain per branch.
    # localCheckpoint (lazy), NOT persist: a persist entry is keyed
    # by canonical plan in the CacheManager, so it would survive
    # across the bench's rebuilt DataFrames and let a "fresh" timed
    # run silently skip training; a lazy local checkpoint is scoped
    # to THIS DataFrame object and recomputes per rebuild.
    cent = _pqfp_lloyd(vecs, train, iters=2).localCheckpoint(eager=False)
    coded = _pqfp_assign(vecs, cent)
    return coded.groupBy("vec_id").agg(
        F.sum(
            F.col("cell") * F.expr("shiftleft(1L, cast(4 * s as int))")
        ).cast("long").alias("pq_code"),
        F.sum("md").cast("long").alias("q_err_fp"),
    )


# ---------------------------------------------------------------------------
# X47d — IVF-PQ: coarse cells + PQ-coded residuals + cell-pruned ADC probe
# ---------------------------------------------------------------------------

_IVFPQ_CELLS = 8   # coarse cells (seeds: vec_id < 8)
_IVFPQ_NPROBE = 2  # cells probed per query


def _ivfpq_coarse(vecs_fp: DataFrame) -> DataFrame:
    """Coarse quantizer = x45b's fixed-point sampled Lloyd on FULL
    vectors (2 iterations, seeds vec_id < 8, deterministic 1/4
    sample). Returns (cell, c: array<bigint>). Integer-exact, so the
    cell assignment — the partition key of the whole layout —
    grades bit-identically cross-engine."""
    cent = vecs_fp.filter(F.col("vec_id") < _IVFPQ_CELLS).select(
        F.col("vec_id").alias("cell"), F.col("qa").alias("c")
    )
    train = vecs_fp.filter(F.col("vec_id") % 4 == 0)
    for _ in range(2):
        a = train.crossJoin(F.broadcast(cent)).select(
            "vec_id",
            _pqfp_dist(F.col("qa"), F.col("c")).alias("dist"),
            "cell",
        )
        m = a.groupBy("vec_id").agg(F.min("dist").alias("md"))
        assigned = (
            a.join(m, "vec_id")
            .filter(F.col("dist") == F.col("md"))
            .groupBy("vec_id")
            .agg(F.min("cell").alias("cell"))
        )
        long = assigned.join(train, "vec_id").select(
            "cell", F.posexplode("qa").alias("j", "qj")
        )
        comps = long.groupBy("cell", "j").agg(
            F.floor(F.sum("qj").cast("double") / F.count(F.lit(1)))
            .cast("long")
            .alias("cj")
        )
        cent = comps.groupBy("cell").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "cj"))),
                lambda st: st["cj"],
            ).alias("c")
        )
    return cent


def _ivfpq_fp(emb: DataFrame) -> DataFrame:
    """(vec_id, embedding, qa): the 1e4 fixed-point view every IVF-PQ
    stage keys on (floor(x·10⁴) as BIGINT — integer-exact in both
    engines)."""
    return emb.select(
        "vec_id",
        "embedding",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * 10000).cast("long"),
        ).alias("qa"),
    )


def _ivfpq_assign_encode(vecs_fp: DataFrame, cent: DataFrame) -> DataFrame:
    """Assign every vector to its nearest (integer-distance, min-cell
    tie-break) centroid and residual-PQ-encode it: returns
    (vec_id, cell, cd0..cd7). r15: the DECLARATIVE REFERENCE form —
    the canonical encode everywhere (x47d, build, append) is now
    _ivfpq_assign_encode_arrow; this expression form stays as the
    SQL-oracle mirror and is pinned bit-identical to the kernel by
    test_ivfpq_inflight_arrow_matches_declarative."""
    a = vecs_fp.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "cell",
        _pqfp_dist(F.col("qa"), F.col("c")).alias("dist"),
    )
    m = a.groupBy("vec_id").agg(F.min("dist").alias("md"))
    assigned = (
        a.join(m, "vec_id")
        .filter(F.col("dist") == F.col("md"))
        .groupBy("vec_id")
        .agg(F.min("cell").alias("cell"))
    )
    withcent = assigned.join(
        vecs_fp.select("vec_id", "embedding"), "vec_id"
    ).join(F.broadcast(cent), "cell")
    # residual-PQ encode: codes per (vec, s) against the mixer codebook
    resid = _residual_col(F.col("embedding"), F.col("c"))
    enc = withcent.select("vec_id", "cell", resid.alias("re"))
    staged = _stage_pq_dists(enc, ["vec_id", "cell"], "re", _pq_cb_flat())
    return staged.select(
        "vec_id",
        "cell",
        *[_pq_argmin(s).alias(f"cd{s}") for s in range(_PQ_S)],
    )


def _residual_col(e: Column, c: Column) -> Column:
    """Float residual of embedding ``e`` against fixed-point centroid
    ``c``: x_d − c_d/10⁴, each term one subtraction of exactly-
    representable doubles — identical in both engines."""
    return F.zip_with(
        e, c, lambda x, cj: x.cast("double") - cj.cast("double") / F.lit(1e4)
    )


def _ivfpq_coarse_sql() -> str:
    """Oracle CTEs for the coarse quantizer: qf (fixed-point full
    vectors) → 2 unrolled Lloyd iterations keyed by cell → gcent2,
    plus gcode (every vector's cell via final assignment). The x45b
    CTE pattern verbatim at 64 dims."""
    d = (
        "list_reduce([CAST(0 AS BIGINT)] || "
        "list_transform(list_zip(t.qa, cc.c), "
        "p -> (p[1] - p[2]) * (p[1] - p[2])), (acc, x) -> acc + x)"
    )
    it = lambda i, prev: f"""
    ga{i} AS (
      SELECT t.vec_id, cc.cell, {d} AS dist
      FROM gtrain t, {prev} cc
    ), gm{i} AS (
      SELECT vec_id, min(dist) AS md FROM ga{i} GROUP BY 1
    ), gas{i} AS (
      SELECT a.vec_id, min(a.cell) AS cell
      FROM ga{i} a JOIN gm{i} m
        ON a.vec_id = m.vec_id AND a.dist = m.md
      GROUP BY 1
    ), gc{i} AS (
      SELECT a.cell, r.j,
             CAST(floor(CAST(sum(t.qa[CAST(r.j AS INTEGER) + 1])
                             AS DOUBLE) / count(*)) AS BIGINT) AS cj
      FROM gas{i} a JOIN gtrain t ON t.vec_id = a.vec_id,
           range(0, 64) r(j)
      GROUP BY 1, 2
    ), gcent{i} AS (
      SELECT cell, list(cj ORDER BY j) AS c FROM gc{i} GROUP BY 1
    )"""
    return f"""
    WITH qf AS (
      SELECT vec_id, embedding,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qa
      FROM embeddings
    ), gtrain AS (
      SELECT * FROM qf WHERE vec_id % 4 = 0
    ), gcent0 AS (
      SELECT vec_id AS cell, qa AS c FROM qf WHERE vec_id < {_IVFPQ_CELLS}
    ), {it(1, "gcent0")[5:]}
    , {it(2, "gcent1")[5:]}
    , gaf AS (
      SELECT t.vec_id, cc.cell, {d} AS dist
      FROM qf t, gcent2 cc
    ), gmf AS (
      SELECT vec_id, min(dist) AS md FROM gaf GROUP BY 1
    ), gcode AS (
      SELECT a.vec_id, min(a.cell) AS cell
      FROM gaf a JOIN gmf m ON a.vec_id = m.vec_id AND a.dist = m.md
      GROUP BY 1
    )
    """


def _x47d_oracle() -> str:
    """Full IVF-PQ oracle: coarse CTEs + residual PQ encode + probed
    ADC. Residual r_d = x_d − cent_d/10⁴ (exact doubles); PQ encode
    of the residual against the mixer codebook (cb CTE from
    _pq_cb_cte's pattern); a query probes its NPROBE nearest cells
    by integer centroid distance and ADC-scans only those cells'
    codes using its per-cell residual."""
    term = (
        f"(CAST(v.embedding[CAST(cb.s * {_PQ_D} + d + 1 AS INTEGER)] "
        "AS DOUBLE) "
        f"- CAST(ct.c[CAST(cb.s * {_PQ_D} + d + 1 AS INTEGER)] "
        "AS DOUBLE) / 10000.0 "
        "- CAST(cb.cn[CAST(d + 1 AS INTEGER)] AS DOUBLE) / 256.0)"
    )
    qterm = (
        f"(CAST(q.embedding[CAST(cb.s * {_PQ_D} + d + 1 AS INTEGER)] "
        "AS DOUBLE) "
        f"- CAST(ct.c[CAST(cb.s * {_PQ_D} + d + 1 AS INTEGER)] "
        "AS DOUBLE) / 10000.0 "
        "- CAST(cb.cn[CAST(d + 1 AS INTEGER)] AS DOUBLE) / 256.0)"
    )
    return _ivfpq_coarse_sql() + f"""
    , cb AS (
      SELECT CAST(sr.range AS BIGINT) AS s, CAST(cr.range AS BIGINT) AS c,
             list_transform(range(0, {_PQ_D}), d ->
               {_pq_mix_sql(f"(CAST(sr.range AS BIGINT) * 128 + CAST(cr.range AS BIGINT) * 8 + d)")})
               AS cn
      FROM range(0, {_PQ_S}) sr, range(0, {_PQ_K}) cr
    ), rdist AS (
      SELECT v.vec_id, g.cell, cb.s, cb.c,
             list_reduce([CAST(0.0 AS DOUBLE)] ||
               list_transform(range(0, {_PQ_D}), d -> {term} * {term}),
               (a, b) -> a + b) AS dd
      FROM embeddings v
      JOIN gcode g ON g.vec_id = v.vec_id
      JOIN gcent2 ct ON ct.cell = g.cell
      CROSS JOIN cb
    ), rcode AS (
      SELECT vec_id, cell, s,
             CAST(list_position(list(dd ORDER BY c),
                  list_min(list(dd ORDER BY c))) - 1 AS BIGINT) AS cd
      FROM rdist GROUP BY vec_id, cell, s
    ), qsel AS (
      SELECT vec_id AS query_id, embedding, qa
      FROM qf WHERE vec_id % 250 = 0
    ), qcelld AS (
      SELECT q.query_id, cc.cell,
             list_reduce([CAST(0 AS BIGINT)] ||
               list_transform(list_zip(q.qa, cc.c),
                 p -> (p[1] - p[2]) * (p[1] - p[2])),
               (acc, x) -> acc + x) AS dist
      FROM qsel q, gcent2 cc
    ), probed AS (
      SELECT query_id, cell FROM (
        SELECT query_id, cell,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY dist, cell) AS rn
        FROM qcelld
      ) WHERE rn <= {_IVFPQ_NPROBE}
    ), pd AS (
      SELECT p.query_id, rc.vec_id, rc.cell, cb.s,
             list_reduce([CAST(0.0 AS DOUBLE)] ||
               list_transform(range(0, {_PQ_D}), d -> {qterm} * {qterm}),
               (a, b) -> a + b) AS dd
      FROM probed p
      JOIN rcode rc ON rc.cell = p.cell
      JOIN qsel q ON q.query_id = p.query_id
      JOIN gcent2 ct ON ct.cell = p.cell
      JOIN cb ON cb.s = rc.s AND cb.c = rc.cd
    ), adc AS (
      SELECT query_id, vec_id, min(cell) AS cell,
             list_reduce([CAST(0.0 AS DOUBLE)] || list(dd ORDER BY s),
                         (a, b) -> a + b) AS adc_raw
      FROM pd GROUP BY query_id, vec_id
    )
    SELECT query_id, vec_id, cell,
           round(adc_raw + 5e-10, 4) AS adc_dist, rank
    FROM (
      SELECT query_id, vec_id, cell, adc_raw,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc_raw, vec_id) AS rank
      FROM adc
    ) WHERE rank <= 5
    """


@query("x47d_ivfpq_topk", oracle=_x47d_oracle())
def x47d_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X47d: IVF-PQ end to end — the standard billion-vector serving
    layout, every stage oracle-graded: (1) coarse cells from the
    fixed-point sampled Lloyd (integer-exact ⇒ the partition key
    grades bit-identically), (2) PQ codes of the RESIDUAL x − cent
    against the mixer codebook (residual terms are exact-double
    subtractions; distances strict folds), (3) a query ranks cells
    by integer centroid distance, probes the nprobe=2 nearest, and
    ADC-scans ONLY those cells' 8-byte codes with its per-cell
    residual LUT.

    Scale shape: cells are the partition key — a probe touches
    nprobe partitions, reading 8-byte codes + one 64-int centroid
    per cell; the encode side adds one broadcast join (centroids)
    to x47's map-only scan; nothing corpus-sized shuffles more than
    the one cell assignment. This composes x4e's IVF pruning with
    x47's 32× scan compression — the two levers that make 10^12
    vectors probeable.

    r15: the canonical encode is the Arrow kernel, the r14 x47b
    precedent — the coarse model still trains declaratively (the
    distributed fixed-point Lloyd), but its ≤8 rows are collected at
    plan-construction time (the x47e/x49b train-at-construction
    precedent) and assignment+encode run as one vectorized map-only
    pass instead of a crossJoin + min-aggregate + ~1k interpreted
    HOF-fold steps per row. Bit-identity with the declarative
    _ivfpq_assign_encode is pinned by
    test_ivfpq_inflight_arrow_matches_declarative plus the unchanged
    DuckDB oracle (which recomputes the declarative form in SQL).
    Measured sf0.1 fresh: 33 s → ~6 s (construction 17 s → 3 s,
    execution 16 s → 2.7 s)."""
    emb = load_table(spark, sf_dir, "embeddings")
    vecs_fp = _ivfpq_fp(emb)
    # materialize the (<=8 x 64-int) centroid relation once: it is
    # referenced by the assignment, the residual join, AND the
    # query-side cell ranking — without it each reference re-runs
    # the whole 2-iteration Lloyd chain. Lazy localCheckpoint, not
    # persist — see the x47c note on bench-honesty; the collect()
    # below is its materializing action.
    cent = _ivfpq_coarse(vecs_fp).localCheckpoint(eager=False)
    codes = _unpack_codes(_ivfpq_assign_encode_arrow(emb, cent.collect()))
    return _ivfpq_probe_plan(vecs_fp, cent, codes)


def _ivfpq_queries(
    vecs_fp: DataFrame, query_filter: Column | None = None
) -> DataFrame:
    """The graded query set: every 250th vector, as
    (query_id, qe: float embedding, qqa: fixed-point embedding).
    ``query_filter`` overrides the set for the recall sweep
    (tools/recall_ivfpq_sf1.py's planted-pair lane)."""
    if query_filter is None:
        query_filter = F.col("vec_id") % 250 == 0
    return vecs_fp.filter(query_filter).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("qa").alias("qqa"),
    )


def _ivfpq_probed(
    q: DataFrame, cent: DataFrame, nprobe: int = _IVFPQ_NPROBE
) -> DataFrame:
    """Per query: the nprobe nearest cells by integer centroid
    distance (min-cell tie-break), with the winning centroid vector
    attached — (query_id, qe, cell, centvec, dist, rn)."""
    qc = q.crossJoin(F.broadcast(cent)).select(
        "query_id",
        "qe",
        "cell",
        F.col("c").alias("centvec"),
        _pqfp_dist(F.col("qqa"), F.col("c")).alias("dist"),
    )
    wq = Window.partitionBy("query_id").orderBy("dist", "cell")
    return qc.withColumn("rn", F.row_number().over(wq)).filter(
        F.col("rn") <= nprobe
    )


def _ivfpq_probe_plan(
    vecs_fp: DataFrame,
    cent: DataFrame,
    codes: DataFrame,
    nprobe: int = _IVFPQ_NPROBE,
    k_cent: int = _PQ_K,
    topk: int = 5,
    query_filter: Column | None = None,
) -> DataFrame:
    """The probe side shared by x47d (in-flight codes) and x47e
    (persisted codes): rank cells per query, build the per-(query,
    cell) S·k_cent-double residual LUT, ADC-scan the codes relation,
    top-k per query. ``codes`` must expose (vec_id, cell, cd0..cd7);
    the adc fold's float ADDITION ORDER (s ascending from 0.0) is
    part of the graded contract — both callers produce bit-identical
    adc_raw. The (nprobe, k_cent, topk, query_filter) knobs exist for
    the recall sweep (tools/recall_ivfpq_sf1.py); graded defaults
    (2, 16, 5, %250) reproduce the r13 plan exactly. k_cent must be a
    power of two (the LUT flat index decomposes by shift/mask) —
    enforced, since a non-power-of-two would compute wrong subspace/
    centroid indices silently (ADVICE r14)."""
    if k_cent < 2 or k_cent & (k_cent - 1):
        raise ValueError(
            f"k_cent must be a power of two >= 2, got {k_cent}"
        )
    bits = (k_cent - 1).bit_length()
    cbflat = _pq_cb_flat(k_cent)
    probed = _ivfpq_probed(
        _ivfpq_queries(vecs_fp, query_filter), cent, nprobe
    )
    # per (query, cell): residual LUT (S·k_cent doubles)
    qresid = _residual_col(F.col("qe"), F.col("centvec"))
    lut = F.transform(
        F.sequence(F.lit(0), F.lit(_PQ_S * k_cent - 1)),
        lambda i: _pq_dist_expr(
            F.col("qr"),
            F.shiftright(i, bits),
            i.bitwiseAND(F.lit(k_cent - 1)),
            cbflat,
            k_cent,
        ),
    )
    qlut = probed.select(
        "query_id", "cell", qresid.alias("qr")
    ).select("query_id", "cell", lut.alias("lut"))
    pairs = codes.join(F.broadcast(qlut), "cell")
    adc: Column = F.lit(0.0)
    for s in range(_PQ_S):
        adc = adc + F.element_at(
            F.col("lut"), F.lit(s * k_cent) + F.col(f"cd{s}").cast("int") + 1
        )
    scored = pairs.select(
        "query_id", "vec_id", "cell", adc.alias("adc_raw")
    )
    w = Window.partitionBy("query_id").orderBy("adc_raw", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= topk)
        .select(
            "query_id",
            "vec_id",
            "cell",
            stable_round(F.col("adc_raw"), 4).alias("adc_dist"),
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# X47e — persisted IVF-PQ index: build once, probe from the artifact,
# maintain incrementally (assign + encode + append; no retrain)
# ---------------------------------------------------------------------------


def default_ivfpq_dir(sf_dir: str) -> str:
    """Scratch location for the persisted IVF-PQ index over
    ``sf_dir``'s embeddings, keyed by source identity (path + mtime +
    size) so regenerated testdata re-indexes instead of reusing a
    stale build."""
    return scratch_dir(
        "spark_graft_ivfpq",
        table_path(sf_dir, "embeddings"),
        f"{_IVFPQ_CELLS}c_{_PQ_S}s{_PQ_K}k",
    )


def _unpack_codes(packed: DataFrame) -> DataFrame:
    """(vec_id, cell, code) → (vec_id, cell, cd0..cd7): codegen'd
    shift/mask unpack at scan time (the x4n bit-ops precedent). The
    PACK direction lives inside _ivfpq_assign_encode_arrow (both the
    build and append paths pack there), so this is the only half
    needed as a Column expression; the round-trip is pinned by
    test_ivfpq_persisted_matches_inflight, whose unpacked codes must
    reproduce x47d's declarative cd0..cd7 exactly."""
    return packed.select(
        "vec_id",
        "cell",
        *[
            F.shiftright(F.col("code"), 4 * s)
            .bitwiseAND(F.lit(_PQ_K - 1))
            .cast("long")
            .alias(f"cd{s}")
            for s in range(_PQ_S)
        ],
    )


def _ivfpq_assign_encode_arrow(
    vecs: DataFrame,
    cent_rows: list,
    k_cent: int = _PQ_K,
    packed: bool = True,
) -> DataFrame:
    """Arrow-kernel twin of _ivfpq_assign_encode for the BUILD path
    (build_ivfpq_index / append_ivfpq_index, where the ≤8-row trained
    centroid table is already collected): assign + residual-PQ encode
    fused into one map-only kernel, emitting the PACKED
    (vec_id, cell, code) relation directly.

    Bit-identity with the declarative path (end-to-end pinned by
    test_ivfpq_persisted_matches_inflight):

    * the cell assignment is pure int64 arithmetic (fixed-point
      floor(x·10⁴) distances) — order-free, so vectorization cannot
      change it; first-min argmin over cell-ascending order = the
      min-cell tie-break;
    * the residual re_d = x_d − c_d/10⁴ is the same two IEEE-double
      ops; the encode distance accumulates d-ascending as an explicit
      loop (the pq_encode_arrow discipline), argmin first-min.

    Takes ``vecs`` as (vec_id, embedding) — no qa column needed; the
    fixed-point view is computed in-kernel. At sf1 this replaces a
    crossJoin + min-aggregate + two joins + ~4k interpreted lambda
    steps per row with 8 vectorized passes (build: 24 s → ~3 s).

    (k_cent, packed) exist for the recall sweep
    (tools/recall_ivfpq_sf1.py): ``k_cent`` sizes the mixer codebook
    (graded default 16 = 4-bit codes); ``packed=False`` emits the
    codes as cd0..cd7 columns instead of one int64 — required at
    k_cent=256, where 8·8 packed bits would overflow into the int64
    sign bit. Graded defaults (16, True) are the r13 kernel
    verbatim."""
    import numpy as np
    import pyarrow as pa

    if k_cent < 2 or k_cent & (k_cent - 1):
        raise ValueError(
            f"k_cent must be a power of two >= 2, got {k_cent}"
        )
    cent_sorted = sorted((int(r["cell"]), list(r["c"])) for r in cent_rows)
    cell_ids = np.array([c for c, _ in cent_sorted], dtype=np.int64)
    cent_fp = np.array([v for _, v in cent_sorted], dtype=np.int64)
    cent_f = cent_fp.astype(np.float64) / 1e4
    cb = np.asarray(_pq_codebook(k_cent), dtype=np.float64) / 256.0
    s_dims, d_dims = _PQ_S, _PQ_D
    bits = (k_cent - 1).bit_length()

    def kern(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            x = np.asarray(
                batch.column("embedding").flatten(), dtype=np.float64
            ).reshape(n, s_dims * d_dims)
            qa = np.floor(x * 1e4).astype(np.int64)
            # integer assign: Σ_d (qa_d − c_d)², first-min over
            # cell-ascending order == min-cell tie-break
            diff = qa[:, None, :] - cent_fp[None, :, :]
            idx = np.argmin((diff * diff).sum(axis=2), axis=1)
            cells = cell_ids[idx]
            resid = x - cent_f[idx]
            cds = np.zeros((s_dims, n), dtype=np.int64)
            for s in range(s_dims):
                rs = resid[:, s * d_dims : (s + 1) * d_dims]
                acc = np.zeros((n, k_cent), dtype=np.float64)
                for d in range(d_dims):
                    t = rs[:, d : d + 1] - cb[s, :, d][None, :]
                    acc += t * t
                cds[s] = np.argmin(acc, axis=1).astype(np.int64)
            out = {
                "vec_id": batch.column("vec_id").cast(pa.int64()),
                "cell": pa.array(cells, pa.int64()),
            }
            if packed:
                codes = np.zeros(n, dtype=np.int64)
                for s in range(s_dims):
                    codes |= cds[s] << (bits * s)
                out["code"] = pa.array(codes, pa.int64())
            else:
                for s in range(s_dims):
                    out[f"cd{s}"] = pa.array(cds[s], pa.int64())
            yield pa.RecordBatch.from_pydict(out)

    schema = (
        "vec_id long, cell long, code long"
        if packed
        else "vec_id long, cell long, "
        + ", ".join(f"cd{s} long" for s in range(_PQ_S))
    )
    return vecs.select("vec_id", "embedding").mapInArrow(kern, schema)


def build_ivfpq_index(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """Build the persisted IVF-PQ index ONCE: train the coarse
    quantizer (x45b's fixed-point sampled Lloyd — deterministic,
    integer-exact), assign + residual-PQ-encode every vector, and
    persist three artifacts under ``out_dir``:

    * ``centroids`` — the ≤8-row (cell, c: array<bigint>) coarse
      model (the only trained state);
    * ``codes`` — (vec_id, code: int64) parquet PARTITIONED BY cell,
      one file per cell (repartition-by-key before the partitioned
      write, the small-files guard build_ann_index documents);
    * ``manifest`` — one row: n_base, the trained-corpus size the
      retrain trigger compares against (ivfpq_needs_retrain).

    Codes are written LAST: ``codes/_SUCCESS`` is the build-complete
    marker probes check, so a killed build can never serve centroids
    without codes or vice versa."""
    emb = load_table(spark, sf_dir, "embeddings")
    vecs_fp = _ivfpq_fp(emb)
    cent = _ivfpq_coarse(vecs_fp).localCheckpoint(eager=False)
    cent.write.mode("overwrite").parquet(f"{out_dir}/centroids")
    n_base = vecs_fp.count()
    spark.createDataFrame([(n_base,)], "n_base long").write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/manifest")
    # build path = imperative (jobs fine): collect the ≤8-row model
    # once and run the fused Arrow kernel — bit-identical to the
    # declarative _ivfpq_assign_encode (pinned end-to-end by
    # test_ivfpq_persisted_matches_inflight against x47d)
    codes = _ivfpq_assign_encode_arrow(
        emb, spark.read.parquet(f"{out_dir}/centroids").collect()
    )
    codes.repartition("cell").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(f"{out_dir}/codes")


def _guard_fresh_vec_ids(
    spark: SparkSession, index_dir: str, new_emb: DataFrame, what: str
) -> None:
    """Fail-loud duplicate-id guard shared by the IVF-PQ append paths
    (ADVICE r14 — the append_ann_index discipline): vec_id is the
    index's primary key, and a re-appended id leaves two code rows
    per vector, silently corrupting ADC sums (the trained probe's
    groupBy(query_id, vec_id).sum doubles that vector's distance).
    One broadcast semi-join of the persisted codes tree's vec_id
    column against the batch's distinct ids; updates are
    delete-and-rebuild, never silent overwrite."""
    new_ids = new_emb.select("vec_id").distinct()
    clash = (
        spark.read.parquet(f"{index_dir}/codes")
        .select("vec_id")
        .join(F.broadcast(new_ids), "vec_id", "left_semi")
        .limit(5)
        .collect()
    )
    if clash:
        raise ValueError(
            f"{what}: vec_id(s) already present in the index "
            f"(e.g. {sorted(r['vec_id'] for r in clash)}); appends must "
            "carry fresh ids — rebuild to replace existing vectors"
        )


def append_ivfpq_index(
    spark: SparkSession, index_dir: str, new_emb: DataFrame
) -> None:
    """Incremental maintenance: fold a new vector batch into the
    persisted index WITHOUT retraining — read the frozen centroids,
    assign + residual-encode the batch through the SAME
    _ivfpq_assign_encode path the build used, and append the packed
    codes into the cell-partitioned tree (each task appends whole
    cells; existing files are never rewritten).

    Retrain trigger (documented, checked by ivfpq_needs_retrain): the
    coarse quantizer is trained state — appends re-use it, so a
    drifting ingest distribution degrades cell balance and residual
    scale rather than failing loudly. Retrain (full rebuild) when the
    appended mass exceeds ~30% of n_base, or sooner if the probe
    recall audit (tools/recall_ivfpq_sf1.py — recall@5 vs exact kNN,
    corpus + planted-pair lanes, floors in RECALL_IVFPQ_SF1.json)
    shows drift; the trigger-fires → rebuild → probe-parity loop is
    exercised end-to-end by test_ivfpq_retrain_after_drift_end_to_end.
    At 100 TB this is the standard IVF serving discipline:
    appends are cheap map-side work + a partitioned append; the
    rebuild is the rare scheduled job."""
    _guard_fresh_vec_ids(spark, index_dir, new_emb, "append_ivfpq_index")
    cent_rows = spark.read.parquet(f"{index_dir}/centroids").collect()
    codes = _ivfpq_assign_encode_arrow(new_emb, cent_rows)
    codes.repartition("cell").write.mode("append").partitionBy(
        "cell"
    ).parquet(f"{index_dir}/codes")


def ivfpq_needs_retrain(
    spark: SparkSession, index_dir: str, max_appended_fraction: float = 0.3
) -> bool:
    """True when the appended mass exceeds ``max_appended_fraction``
    of the trained base — the rebuild trigger append_ivfpq_index
    documents. Both counts are metadata reads (manifest row + parquet
    footer counts), no data scan."""
    n_base = (
        spark.read.parquet(f"{index_dir}/manifest").collect()[0]["n_base"]
    )
    n_now = spark.read.parquet(f"{index_dir}/codes").count()
    return (n_now - n_base) > max_appended_fraction * n_base


def probe_ivfpq_index(
    spark: SparkSession, sf_dir: str, index_dir: str
) -> DataFrame:
    """Serve the graded query set from the PERSISTED index with
    static partition pruning: rank cells per query against the
    persisted centroids, collect the ≤``_IVFPQ_CELLS`` distinct
    probed cell ids (O(cells) driver work — the probe_ann_index
    precedent: this collect is what turns the probe into literal
    partition predicates), and read ONLY those cell directories of
    the codes tree. The scan's ``PartitionFilters`` carries the cell
    IN-list; unprobed cells are never opened. Everything downstream
    (LUT, ADC fold, top-5) is _ivfpq_probe_plan, shared with x47d."""
    vecs_fp = _ivfpq_fp(load_table(spark, sf_dir, "embeddings"))
    cent = spark.read.parquet(f"{index_dir}/centroids")
    probed_cells = sorted(
        int(r["cell"])
        for r in _ivfpq_probed(_ivfpq_queries(vecs_fp), cent)
        .select("cell")
        .distinct()
        .collect()
    )
    codes = _unpack_codes(
        spark.read.parquet(f"{index_dir}/codes").filter(
            F.col("cell").isin(probed_cells)
        )
    )
    return _ivfpq_probe_plan(vecs_fp, cent, codes)


@query("x47e_ivfpq_persisted", oracle=_x47d_oracle())
def x47e_ivfpq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X47e: the PRODUCTION similarity-search deliverable — x47d's
    IVF-PQ probe served from a persisted index instead of an
    in-flight build. First call builds the artifact (trained
    centroids + cell-partitioned packed codes + manifest,
    build_ivfpq_index); every probe after that reads ≤ nprobe-probed
    cell partitions of 8-byte codes plus the ≤8-row centroid table —
    the corpus parquet is touched only for the query vectors
    themselves. Graded with x47d's ORACLE VERBATIM: same cells, same
    codes (shared _ivfpq_assign_encode), same ADC float order, so
    the persisted round-trip must be hash-identical to the in-flight
    plan. Incremental maintenance (append without retrain) is
    exercised by tests/test_ann_index.py's append-loop.

    Scale shape: at 10^12 vectors the index is the only thing a
    probe reads — nprobe/ncells of an 8 TB code table (vs 256 TB of
    raw vectors), partition-pruned statically; appends are map-side
    encode + partitioned append; the coarse model is 8 rows."""
    index_dir = default_ivfpq_dir(sf_dir)
    if not pathlib.Path(index_dir, "codes", "_SUCCESS").exists():
        build_ivfpq_index(spark, sf_dir, index_dir)
    return probe_ivfpq_index(spark, sf_dir, index_dir)


# ---------------------------------------------------------------------------
# X47h — IVF-PQ with a TRAINED residual codebook (integer-exact end to end)
# ---------------------------------------------------------------------------


def _ivfpq_assign_cells(vecs_fp: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, cell): nearest coarse centroid by integer distance,
    min-cell tie-break — the assignment half of _ivfpq_assign_encode,
    shared with the trained-residual pipeline."""
    a = vecs_fp.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "cell",
        _pqfp_dist(F.col("qa"), F.col("c")).alias("dist"),
    )
    m = a.groupBy("vec_id").agg(F.min("dist").alias("md"))
    return (
        a.join(m, "vec_id")
        .filter(F.col("dist") == F.col("md"))
        .groupBy("vec_id")
        .agg(F.min("cell").alias("cell"))
    )


def _subspace_explode(vec: Column) -> Column:
    """array<struct<s, qa>>: ``vec`` (64 ints) split into its 8
    8-int subspace vectors, for posexploding into the (id, s, qa)
    long form _pqfp_lloyd/_pqfp_assign key on."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(_PQ_S - 1)),
        lambda s: F.struct(
            s.cast("long").alias("s"),
            F.transform(
                F.sequence(F.lit(0), F.lit(_PQ_D - 1)),
                lambda d: F.element_at(vec, (s * _PQ_D + d + 1).cast("int")),
            ).alias("qa"),
        ),
    )


def _ivfpq_model_np(cent_rows: list):
    """(cell_ids ascending, fixed-point centroid matrix) from the
    collected ≤8-row coarse model — shared by the trained-residual
    Arrow kernels; ascending order makes numpy's first-min argmin
    reproduce the declarative min-cell tie-break."""
    import numpy as np

    cent_sorted = sorted((int(r["cell"]), list(r["c"])) for r in cent_rows)
    cell_ids = np.array([c for c, _ in cent_sorted], dtype=np.int64)
    cent_fp = np.array([v for _, v in cent_sorted], dtype=np.int64)
    return cell_ids, cent_fp


def _ivfpq_resid_sub_arrow(vecs: DataFrame, cent_rows: list) -> DataFrame:
    """Arrow twin of the declarative assign + _subspace_explode chain
    (r15): one map-only pass emitting the INTEGER residual subspace
    long form (vec_id, cell, s, qa: 8 ints) — the relation the
    residual-codebook Lloyd trains on. Bit-identity with the
    declarative chain holds because every step is exact int64
    arithmetic: qa = floor(x·10⁴) (same double multiply+floor), cell
    = first-min integer L2 over cell-ascending order (= min-cell
    tie-break), residual = qa − cent exactly. Pinned end-to-end by
    test_ivfpq_trained_arrow_matches_declarative plus the unchanged
    x47h DuckDB oracle (which recomputes the declarative form)."""
    import numpy as np
    import pyarrow as pa

    cell_ids, cent_fp = _ivfpq_model_np(cent_rows)
    s_dims, d_dims = _PQ_S, _PQ_D

    def kern(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            x = np.asarray(
                batch.column("embedding").flatten(), dtype=np.float64
            ).reshape(n, s_dims * d_dims)
            qa = np.floor(x * 1e4).astype(np.int64)
            diff = qa[:, None, :] - cent_fp[None, :, :]
            idx = np.argmin((diff * diff).sum(axis=2), axis=1)
            cells = pa.array(cell_ids[idx], pa.int64())
            resid = qa - cent_fp[idx]
            vid = batch.column("vec_id").cast(pa.int64())
            offs = pa.array(np.arange(n + 1, dtype=np.int32) * d_dims)
            for s in range(s_dims):
                sub = pa.ListArray.from_arrays(
                    offs,
                    pa.array(
                        resid[:, s * d_dims : (s + 1) * d_dims].ravel(),
                        pa.int64(),
                    ),
                )
                yield pa.RecordBatch.from_arrays(
                    [
                        vid,
                        cells,
                        pa.array(np.full(n, s, dtype=np.int64), pa.int64()),
                        sub,
                    ],
                    ["vec_id", "cell", "s", "qa"],
                )

    return vecs.select("vec_id", "embedding").mapInArrow(
        kern, "vec_id long, cell long, s long, qa array<long>"
    )


def _ivfpq_trained_encode_arrow(
    vecs: DataFrame, cent_rows: list, cb_rows: list
) -> DataFrame:
    """Arrow twin of the declarative trained-residual ENCODE (r15,
    the x47b/x47d canonical-kernel precedent): with both collected
    models (≤8-row coarse, ≤128-row residual codebook), assignment +
    residual + per-subspace code argmin run as one vectorized
    map-only pass, emitting the (vec_id, s, cd, cell) long form the
    probe joins on. All-int64 arithmetic — no float anywhere, so
    vectorization cannot change a single value; first-min argmin over
    cd-ascending order = the declarative min-cd tie-break. Replaces a
    crossJoin assign + broadcast-join encode with ~a thousand
    interpreted HOF-fold steps per row."""
    import numpy as np
    import pyarrow as pa

    cell_ids, cent_fp = _ivfpq_model_np(cent_rows)
    s_dims, d_dims = _PQ_S, _PQ_D
    by_s: dict[int, list] = {}
    for r in cb_rows:
        by_s.setdefault(int(r["s"]), []).append((int(r["cell"]), list(r["c"])))
    cb_ids, cb_mats = [], []
    for s in range(s_dims):
        entries = sorted(by_s.get(s, []))
        cb_ids.append(np.array([c for c, _ in entries], dtype=np.int64))
        cb_mats.append(np.array([v for _, v in entries], dtype=np.int64))

    def kern(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            x = np.asarray(
                batch.column("embedding").flatten(), dtype=np.float64
            ).reshape(n, s_dims * d_dims)
            qa = np.floor(x * 1e4).astype(np.int64)
            diff = qa[:, None, :] - cent_fp[None, :, :]
            idx = np.argmin((diff * diff).sum(axis=2), axis=1)
            cells = pa.array(cell_ids[idx], pa.int64())
            resid = qa - cent_fp[idx]
            vid = batch.column("vec_id").cast(pa.int64())
            for s in range(s_dims):
                rs = resid[:, s * d_dims : (s + 1) * d_dims]
                d2 = rs[:, None, :] - cb_mats[s][None, :, :]
                cd = cb_ids[s][np.argmin((d2 * d2).sum(axis=2), axis=1)]
                yield pa.RecordBatch.from_arrays(
                    [
                        vid,
                        pa.array(np.full(n, s, dtype=np.int64), pa.int64()),
                        pa.array(cd, pa.int64()),
                        cells,
                    ],
                    ["vec_id", "s", "cd", "cell"],
                )

    return vecs.select("vec_id", "embedding").mapInArrow(
        kern, "vec_id long, s long, cd long, cell long"
    )


def _ivfpq_trained_plan(
    emb: DataFrame,
    nprobe: int = _IVFPQ_NPROBE,
    topk: int = 5,
    query_filter: Column | None = None,
) -> DataFrame:
    """IVF + TRAINED residual PQ — the recall fix the r14 audit
    (RECALL_IVFPQ_SF1.json) demanded: the mixer codebook leaves the
    residual mostly unexplained (full-probe recall@5 0.03 at sf1),
    because its centroids are arbitrary hash points; training the
    residual codebook per subspace (the standard IVF-PQ recipe) is
    the lever that actually moves recall (0.075 trained-16 /
    0.23 trained-256 full-probe in the numpy pre-study; the shipped
    16-centroid config is measured in the artifact).

    The whole pipeline is INTEGER-exact — stronger than x47d's
    float-order discipline, no ordering contract at all:

    * fixed-point residual = qa − cent EXACTLY (floor(x·10⁴) − c is
      floor((x − c/10⁴)·10⁴) because c is an integer), so residuals
      never touch floats;
    * the residual codebook is _pqfp_lloyd on residual subvectors
      (x47c's trained-PQ machinery verbatim: seeds = first 16
      vec_ids' residuals, 2 iterations, deterministic 1/4 sample);
    * ADC = Σ_s integer L2(query residual subvector, trained centroid
      of the corpus code) — an exact BIGINT, order-free by
      commutativity of integer addition.

    Scale shape: assignment + encode are one broadcast join each
    (8-row coarse model, ≤128-row codebook); the ADC join keys the
    code relation (8 rows/vector of (cell, s, cd)) against the
    BROADCAST per-(query, cell, s, cd) distance table — candidate
    volume is bounded by the probed cells, and in the persisted
    layout (same codes tree + one codebook artifact next to the
    centroids) the probe prunes cell partitions statically exactly
    as x47e does. Reference anchor: extends main.py:694-715's
    embedding comparisons like x47d, with the trained codebook
    closing the recall gap the audit measured."""
    vecs_fp = _ivfpq_fp(emb)
    cent, cb, codes = _ivfpq_trained_parts(vecs_fp)
    return _ivfpq_trained_probe(
        vecs_fp, cent, cb, codes, nprobe, topk, query_filter
    )


def _ivfpq_trained_parts(
    vecs_fp: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The model+encode half of the trained-residual pipeline, shared
    by the in-flight x47h plan and the persisted x47i build so the
    persisted codes can never drift from the graded in-flight ones:
    returns (cent: coarse centroids, cb: trained residual codebook
    (s, cell→code id, c), codes: (vec_id, s, cd, cell) long form).

    r15: both corpus-sized passes are the Arrow kernels (the
    x47b/x47d canonical-kernel precedent) — the ≤8-row coarse model
    and ≤128-row codebook still TRAIN declaratively (distributed
    fixed-point Lloyd, unchanged), but their collected rows drive
    vectorized map-only assignment/encode instead of crossJoin +
    interpreted HOF folds over every vector. All-int64, value drift
    impossible; pinned by test_ivfpq_trained_arrow_matches_declarative
    + the unchanged x47h oracle."""
    cent = _ivfpq_coarse(vecs_fp).localCheckpoint(eager=False)
    cent_rows = cent.collect()
    vecs = vecs_fp.select("vec_id", "embedding")
    # integer residual subspaces (vec_id, cell, s, qa: 8 ints) — the
    # training relation; checkpointed so the Lloyd iterations don't
    # re-run the kernel per reference
    rvecs = (
        _ivfpq_resid_sub_arrow(vecs, cent_rows)
        .select("vec_id", "s", "qa")
        .localCheckpoint(eager=False)
    )
    cb = _pqfp_lloyd(
        rvecs, rvecs.filter(F.col("vec_id") % 4 == 0), iters=2
    ).localCheckpoint(eager=False)
    codes = _ivfpq_trained_encode_arrow(vecs, cent_rows, cb.collect())
    return cent, cb, codes


def _ivfpq_trained_probe(
    vecs_fp: DataFrame,
    cent: DataFrame,
    cb: DataFrame,
    codes: DataFrame,
    nprobe: int = _IVFPQ_NPROBE,
    topk: int = 5,
    query_filter: Column | None = None,
) -> DataFrame:
    """The probe half shared by x47h (in-flight codes) and x47i
    (persisted codes): probe cells, residualize the query, broadcast
    the integer ADC distance table (n_queries × nprobe × 8 × 16
    rows), candidate-bounded integer sum, top-k. ``codes`` must
    expose (vec_id, cell, s, cd); the adc sum is an exact BIGINT —
    order-free, so both callers produce identical values."""
    if query_filter is None:
        query_filter = F.col("vec_id") % 250 == 0
    q = vecs_fp.filter(query_filter).select(
        F.col("vec_id").alias("query_id"), F.col("qa").alias("qqa")
    )
    qc = q.crossJoin(F.broadcast(cent)).select(
        "query_id",
        "cell",
        "c",
        "qqa",
        _pqfp_dist(F.col("qqa"), F.col("c")).alias("dist"),
    )
    wq = Window.partitionBy("query_id").orderBy("dist", "cell")
    probed = qc.withColumn("rn", F.row_number().over(wq)).filter(
        F.col("rn") <= nprobe
    )
    qra = F.zip_with(F.col("qqa"), F.col("c"), lambda x, y: x - y)
    qsub = probed.select(
        "query_id", "cell", F.explode(_subspace_explode(qra)).alias("g")
    ).select("query_id", "cell", "g.s", F.col("g.qa").alias("qra"))
    cbr = cb.select("s", F.col("cell").alias("cd"), "c")
    qdist = qsub.join(cbr, "s").select(
        "query_id",
        "cell",
        "s",
        "cd",
        _pqfp_dist(F.col("qra"), F.col("c")).alias("d"),
    )
    adc = (
        codes.join(F.broadcast(qdist), ["cell", "s", "cd"])
        .groupBy("query_id", "vec_id")
        .agg(
            F.min("cell").alias("cell"),
            F.sum("d").cast("long").alias("adc_fp"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("adc_fp", "vec_id")
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= topk)
        .select("query_id", "vec_id", "cell", "adc_fp", "rank")
    )


def _x47h_oracle() -> str:
    """Trained-residual IVF-PQ oracle: the coarse CTEs (gcent2/gcode)
    + integer residual subspaces + x47c's unrolled Lloyd iterations
    (keyed by (s, cell) over residual ints) + integer ADC over the
    probed cells. Every value BIGINT — no float anywhere.

    The multiply-referenced stage outputs (qf/gcode/gcent2, then
    rsub/train) are re-declared AS MATERIALIZED: DuckDB inlines CTEs
    by default, and with the residual Lloyd stacked on the coarse
    Lloyd the inlining goes exponential (the un-materialized form did
    not finish 500 vectors in 5 minutes; materialized it runs in
    seconds). Values are unchanged — materialization is an evaluation
    hint, not semantics."""
    sub = (
        f"list_transform(range(0, {_PQ_D}), d -> "
        "{q}[CAST(CAST(sr.range AS BIGINT) * 8 + d + 1 AS INTEGER)] "
        "- {c}[CAST(CAST(sr.range AS BIGINT) * 8 + d + 1 AS INTEGER)])"
    )
    return _ivfpq_coarse_sql() + f"""
    , qfm AS MATERIALIZED (
      SELECT vec_id, qa FROM qf
    ), gcodem AS MATERIALIZED (
      SELECT vec_id, cell FROM gcode
    ), gcent2m AS MATERIALIZED (
      SELECT cell, c FROM gcent2
    ), rsub AS MATERIALIZED (
      SELECT q.vec_id, g.cell, CAST(sr.range AS BIGINT) AS s,
             {sub.format(q="q.qa", c="ct.c")} AS qa
      FROM qfm q
      JOIN gcodem g ON g.vec_id = q.vec_id
      JOIN gcent2m ct ON ct.cell = g.cell, range(0, {_PQ_S}) sr
    ), train AS MATERIALIZED (
      SELECT vec_id, s, qa FROM rsub WHERE vec_id % 4 = 0
    ), cent0 AS (
      SELECT s, vec_id AS cell, qa AS c FROM rsub WHERE vec_id < {_PQ_K}
    ), {_pqfp_iter_sql(1, "cent0")[5:]}
    , {_pqfp_iter_sql(2, "cent1")[5:]}
    , cent2m AS MATERIALIZED (
      SELECT s, cell, c FROM cent2
    ), raf AS (
      SELECT t.vec_id, t.s, cc.cell,
             {_pqfp_sql_dist("t.qa", "cc.c")} AS dist
      FROM rsub t JOIN cent2m cc ON cc.s = t.s
    ), rmf AS (
      SELECT vec_id, s, min(dist) AS md FROM raf GROUP BY 1, 2
    ), rcd AS (
      SELECT a.vec_id, a.s, min(a.cell) AS cd
      FROM raf a JOIN rmf m
        ON a.vec_id = m.vec_id AND a.s = m.s AND a.dist = m.md
      GROUP BY 1, 2
    ), qsel AS (
      SELECT vec_id AS query_id, qa FROM qfm WHERE vec_id % 250 = 0
    ), qcelld AS (
      SELECT q.query_id, cc.cell, cc.c, q.qa AS qqa,
             {_pqfp_sql_dist("q.qa", "cc.c")} AS dist
      FROM qsel q, gcent2m cc
    ), qprobed AS (
      SELECT query_id, cell, c, qqa FROM (
        SELECT query_id, cell, c, qqa,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY dist, cell) AS rn
        FROM qcelld
      ) WHERE rn <= {_IVFPQ_NPROBE}
    ), qsub AS (
      SELECT p.query_id, p.cell, CAST(sr.range AS BIGINT) AS s,
             {sub.format(q="p.qqa", c="p.c")} AS qa
      FROM qprobed p, range(0, {_PQ_S}) sr
    ), qdist AS (
      SELECT su.query_id, su.cell, su.s, cc.cell AS cd,
             {_pqfp_sql_dist("su.qa", "cc.c")} AS d
      FROM qsub su JOIN cent2m cc ON cc.s = su.s
    ), adc AS (
      SELECT qd.query_id, r.vec_id, min(g.cell) AS cell,
             CAST(sum(qd.d) AS BIGINT) AS adc_fp
      FROM rcd r
      JOIN gcodem g ON g.vec_id = r.vec_id
      JOIN qdist qd
        ON qd.cell = g.cell AND qd.s = r.s AND qd.cd = r.cd
      GROUP BY 1, 2
    )
    SELECT query_id, vec_id, cell, adc_fp, rank FROM (
      SELECT query_id, vec_id, cell, adc_fp,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc_fp, vec_id) AS rank
      FROM adc
    ) WHERE rank <= 5
    """


@query("x47h_ivfpq_trained_residual", oracle=_x47h_oracle())
def x47h_ivfpq_trained_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X47h: IVF-PQ with the residual codebook TRAINED (see
    _ivfpq_trained_plan — the r14 recall fix, integer-exact end to
    end including both trainings, so the full pipeline grades
    value-identical cross-engine with no float contract at all)."""
    return _ivfpq_trained_plan(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# X47i — persisted trained-residual IVF-PQ index: the x47e serving
# discipline applied to the x47h recall-fixed configuration
# ---------------------------------------------------------------------------


def default_ivfpq_trained_dir(sf_dir: str) -> str:
    """Scratch location for the persisted trained-residual index over
    ``sf_dir``'s embeddings, keyed by source identity (path + mtime +
    size) so regenerated testdata re-indexes instead of reusing a
    stale build."""
    return scratch_dir(
        "spark_graft_ivfpq_trained",
        table_path(sf_dir, "embeddings"),
        f"{_IVFPQ_CELLS}c_{_PQ_S}s{_PQ_K}k_trained",
    )


def _pack_trained_codes(codes: DataFrame) -> DataFrame:
    """(vec_id, s, cd, cell) long form → (vec_id, cell, code): the 8
    4-bit trained codes packed little-endian into ONE int64 — the
    same 8-byte-per-vector persisted layout as x47e, integer-exact
    (sum of cd·2^(4s) over the 8 distinct s rows)."""
    return codes.groupBy("vec_id").agg(
        F.min("cell").alias("cell"),
        F.sum(
            F.col("cd") * F.expr("shiftleft(1L, cast(4 * s as int))")
        ).cast("long").alias("code"),
    )


def _unpack_trained_codes(packed: DataFrame) -> DataFrame:
    """(vec_id, cell, code) → the (vec_id, cell, s, cd) long form
    _ivfpq_trained_probe joins on: codegen'd shift/mask unpack at
    scan time, 8 rows per vector."""
    return packed.select(
        "vec_id",
        "cell",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).cast("long").alias("s"),
                        F.shiftright(F.col("code"), 4 * s)
                        .bitwiseAND(F.lit(_PQ_K - 1))
                        .cast("long")
                        .alias("cd"),
                    )
                    for s in range(_PQ_S)
                ]
            )
        ).alias("g"),
    ).select("vec_id", "cell", "g.s", "g.cd")


def build_ivfpq_trained_index(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> None:
    """Build the persisted TRAINED-RESIDUAL IVF-PQ index once
    (build_ivfpq_index's layout plus one artifact): ``centroids``
    (≤8-row coarse model), ``codebook`` (≤128-row trained residual
    codebook — the extra trained state x47e does not have),
    ``manifest`` (n_base for the retrain trigger), and ``codes`` —
    packed int64 residual codes parquet PARTITIONED BY cell, written
    LAST so codes/_SUCCESS is the build-complete marker. The encode
    is _ivfpq_trained_parts, shared verbatim with the in-flight x47h
    plan, so persisted codes cannot drift from the graded ones."""
    vecs_fp = _ivfpq_fp(load_table(spark, sf_dir, "embeddings"))
    cent, cb, codes = _ivfpq_trained_parts(vecs_fp)
    cent.write.mode("overwrite").parquet(f"{out_dir}/centroids")
    cb.write.mode("overwrite").parquet(f"{out_dir}/codebook")
    n_base = vecs_fp.count()
    spark.createDataFrame([(n_base,)], "n_base long").write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/manifest")
    _pack_trained_codes(codes).repartition("cell").write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(f"{out_dir}/codes")


def append_ivfpq_trained_index(
    spark: SparkSession, index_dir: str, new_emb: DataFrame
) -> None:
    """Incremental maintenance with BOTH models frozen: assign the
    batch to cells against the persisted coarse centroids and encode
    its residuals against the persisted codebook (no retrain of
    either), appending packed codes into the cell-partitioned tree.
    The retrain trigger is ivfpq_needs_retrain on this index's
    manifest — same discipline, and the recall audit
    (tools/recall_ivfpq_sf1.py) is the drift signal."""
    _guard_fresh_vec_ids(
        spark, index_dir, new_emb, "append_ivfpq_trained_index"
    )
    cent_rows = spark.read.parquet(f"{index_dir}/centroids").collect()
    cb_rows = spark.read.parquet(f"{index_dir}/codebook").collect()
    # one encode path for build, in-flight AND append (r15): the
    # Arrow kernel against both frozen models
    codes = _ivfpq_trained_encode_arrow(
        new_emb.select("vec_id", "embedding"), cent_rows, cb_rows
    )
    _pack_trained_codes(codes).repartition("cell").write.mode(
        "append"
    ).partitionBy("cell").parquet(f"{index_dir}/codes")


def probe_ivfpq_trained_index(
    spark: SparkSession, sf_dir: str, index_dir: str
) -> DataFrame:
    """Serve the graded query set from the persisted trained index
    with static cell-partition pruning (the probe_ivfpq_index
    recipe): rank cells against the persisted centroids, collect the
    ≤8 probed cell ids into literal partition predicates, read ONLY
    those cell directories, unpack, and run the shared
    _ivfpq_trained_probe."""
    vecs_fp = _ivfpq_fp(load_table(spark, sf_dir, "embeddings"))
    cent = spark.read.parquet(f"{index_dir}/centroids")
    cb = spark.read.parquet(f"{index_dir}/codebook")
    probed_cells = sorted(
        int(r["cell"])
        for r in _ivfpq_probed(_ivfpq_queries(vecs_fp), cent)
        .select("cell")
        .distinct()
        .collect()
    )
    codes = _unpack_trained_codes(
        spark.read.parquet(f"{index_dir}/codes").filter(
            F.col("cell").isin(probed_cells)
        )
    )
    return _ivfpq_trained_probe(vecs_fp, cent, cb, codes)


@query("x47i_ivfpq_trained_persisted", oracle=_x47h_oracle())
def x47i_ivfpq_trained_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X47i: the recall-fixed configuration as a PRODUCTION serving
    artifact — x47h's trained-residual probe served from a persisted
    index (x47e's build-once/probe-many discipline: first call builds
    trained centroids + trained codebook + cell-partitioned packed
    codes + manifest; every probe after that reads ≤ nprobe cell
    partitions of 8-byte codes plus two ≤128-row model tables).
    Graded with x47h's ORACLE VERBATIM, so the persisted round-trip —
    including the int64 pack/unpack — must reproduce the in-flight
    integer ADC values exactly."""
    index_dir = default_ivfpq_trained_dir(sf_dir)
    if not pathlib.Path(index_dir, "codes", "_SUCCESS").exists():
        build_ivfpq_trained_index(spark, sf_dir, index_dir)
    return probe_ivfpq_trained_index(spark, sf_dir, index_dir)
