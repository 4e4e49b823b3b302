"""Vector indexes for X4/X47 similarity search (SURVEY.md §2.11): the
bucket-partitioned LSH index, product quantization (PQ), and the one
IVF-PQ engine. The reference service has no vector path at all; this
module extends its /get-results top-k idea (main.py:808-811) to
embedding space.

**LSH index (x4b in flight, x4f persisted).** :func:`_lsh_index_rows`
explodes each vector into its L (table, bucket) slots, carrying the
payload the probe scores from. ``x4b_ann_lsh_topk`` builds those rows
in flight and left-semi-joins them to the query's own broadcast
(t, b) rows, so every probe still scans all embedding rows.
:func:`build_ann_index` pays the bucket assignment once, at write
time, as parquet partitioned by (t, b); :func:`probe_ann_index`
evaluates the query vector's L buckets driver-side, turns them into
literal ``(t = …, b = …)`` disjuncts, and the scan touches ≤ L of the
n_tables × 2^k partition directories (``PartitionFilters``).
Both probes rescore their candidates with one exact cosine top-k
(:func:`_lsh_topk`, x4's scorer). :func:`append_ann_index` appends a
batch into the same tree. tests/test_ann_index.py pins the pruning
and the equivalence of the two probes.

**IVF-PQ engine (x47b, x47d/x47e/x47h/x47i, stw_ivfpq_ingest).** One
build/append/probe over one persisted layout, for two codebooks:

* the coarse quantizer is x45b's fixed-point sampled Lloyd
  (extensions._fp_lloyd, 8 cells) over floor(x·10⁴) vectors, so the
  cell — the partition key of the layout — is integer-exact in both
  engines;
* one Arrow kernel assigns every vector to its cell and PQ-encodes
  its residual (8 subspaces × 16 codes) into the packed
  ``(vec_id, cell, code)`` relation; the persisted index writes it
  partitioned by cell next to ``centroids`` and a ``manifest``;
* a probe ranks cells per query, reads only the nprobe nearest
  cells' partitions, builds one ADC lookup table per (query, cell),
  and the ADC scorer (``_adc_topk``) sums 8 lookups per candidate and
  keeps the top 5.

x47b (plain PQ top-k) is the one-cell binding: the encode kernel
against one centroid at the origin (its residual is the vector
itself), the mixer lookup table over each query's embedding, and the
ADC scorer — no cell ranking.

``codebook="mixer"`` encodes the float residual x − c/10⁴ against the
fixed hash-mixer codebook of x47; its oracle fixes the float addition
order of the ADC sum, reported as ``adc_dist``. ``codebook="trained"``
encodes the integer residual qa − c against a per-subspace
fixed-point Lloyd codebook trained on the residuals (x47c's recipe,
persisted as ``codebook``); every ADC term is an exact BIGINT,
reported as ``adc_fp``. The ``codebook`` string is read only where
the models are trained, loaded or located (``_ivfpq_train``,
``_index_models``, ``default_ivfpq_dir``; the build writes the
``codebook`` artifact when training returned one). Past that point
the choice travels as ``cb_rows`` (None for the mixer), and three
places branch on it: the encode residual (``_ivfpq_encode_arrow``
with ``_pq_books``), the query's lookup table (``_ivfpq_probe_plan``)
and the ADC sum (``_adc_topk``), whose two oracles differ. Training
is the recall lever: RECALL_IVFPQ_SF1.json measures both codebooks
against exact k-NN at sf1.
"""

from __future__ import annotations

import pathlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pdf_etl_engine_spark.catalog import load_table, table_path
from pdf_etl_engine_spark.functions.stable import stable_round
from pdf_etl_engine_spark.operators.extensions import (
    _cosine_topk,
    _fp_assign,
    _fp_lloyd,
    _fp_quantize,
    _fp_sqdist,
    _lsh_buckets,
)
from pdf_etl_engine_spark.registry import query
from pdf_etl_engine_spark.scratch import scratch_dir

# The (k, L) operating point of x4b and x4f — see x4b's docstring for
# the recall math on this near-uniform testdata.
N_TABLES = 12
N_BITS = 3


def _write_index(rows: DataFrame, path: str, mode: str, *keys: str) -> None:
    """The partitioned write of every index tree (LSH, IVF-PQ, and
    the streaming IVF-PQ ingest's per-batch directories). Shuffle on
    the partition key first: each writer task then owns whole cells, so
    the layout is one file per cell instead of (tasks × cells) small
    files — the standard small-files guard for partitioned tables.
    Appends never rewrite existing files."""
    rows.repartition(*keys).write.mode(mode).partitionBy(*keys).parquet(path)


def _guard_fresh_vec_ids(
    spark: SparkSession, tree: str, new_emb: DataFrame, what: str
) -> None:
    """Fail-loud duplicate-id guard of every index append: vec_id is
    the index's primary key. A re-appended id would leave two rows per
    vector — the LSH probe's per-id dedup would pick an arbitrary
    (possibly stale) payload, and the IVF-PQ probe would score the
    vector twice. One broadcast semi-join of the index tree's pruned
    vec_id column against the batch's distinct ids; updates are
    delete-and-rebuild, never silent overwrite."""
    new_ids = new_emb.select("vec_id").distinct()
    clash = (
        spark.read.parquet(tree)
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


def _lsh_index_rows(
    emb: DataFrame, n_tables: int = N_TABLES, n_bits: int = N_BITS
) -> DataFrame:
    """The LSH index rows: one per (vector, table), carrying the
    payload the probe scores from — (t, b, vec_id, label, embedding)."""
    return emb.select(
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


def build_ann_index(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_tables: int = N_TABLES,
    n_bits: int = N_BITS,
) -> None:
    """Write the LSH index table: one row per (vector, table), parquet
    partitioned by (t, b) so probes prune directories, not rows."""
    rows = _lsh_index_rows(
        load_table(spark, sf_dir, "embeddings"), n_tables, n_bits
    )
    _write_index(rows, out_dir, "overwrite", "t", "b")


def _lsh_topk(
    rows: DataFrame, qrow: DataFrame, query_vec_id: int, k: int
) -> DataFrame:
    """The LSH probe's rescore, in flight (x4b) and persisted (x4f):
    the index ``rows`` that share a bucket with the query, minus the
    query itself, one per vec_id, scored from the INDEX-CARRIED
    payload by the exact cosine top-k (x4's _cosine_topk). A vector's
    L bucket rows carry identical payload, so the per-id dedup is
    value-deterministic; scoring from the carried payload instead of
    an embeddings join is what makes vectors appended by
    append_ann_index — which never existed in the base corpus
    parquet — servable."""
    cand = (
        rows.filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", "label", "embedding")
        .dropDuplicates(["vec_id"])
    )
    return _cosine_topk(cand, qrow, k)


@query("x4b_ann_lsh_topk")  # rows-only: approximate by design
def x4b_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4b: ANN scale path — MULTI-TABLE random-hyperplane LSH, the
    LSH index built and probed in flight. L tables of k bits; a vector
    is a candidate if it lands in the query's bucket in ANY table
    (a left-semi join of the index rows against the query's own L
    broadcast (t, b) rows), then exact cosine rescoring picks top-10
    (_lsh_topk, shared with the persisted probe x4f). Recall follows
    1-(1-p^k)^L with p = 1 - theta/pi per bit.

    Parameter honesty: the testdata embeddings are near-uniform — the
    query's true top-10 sit at cos 0.28-0.41 (p ≈ 0.59-0.63), so
    recall ≥ 0.8 needs the permissive (k=3, L=12): predicted
    1-(1-0.6³)^12 ≈ 0.94, measured by tests/test_extensions_recall.py.
    At that p the candidate set is a large fraction of the data —
    weak-similarity neighbors are information-theoretically expensive.
    On real near-dup workloads (cos ≥ 0.8, p ≥ 0.86) the SAME code
    with k=12-16 keeps recall ≥ 0.95 while pruning 100-1000×. At
    100 TB (t, b) is the partition key of the persisted index (x4f):
    a probe touches L partitions, and only the candidate set pays the
    exact rescore."""
    emb = load_table(spark, sf_dir, "embeddings")
    # one bucket expression for both sides: the filter pushes below the
    # explode, and the 36-plane tree is built and analysed once
    rows = _lsh_index_rows(emb)
    buckets = rows.filter(F.col("vec_id") == 0).select("t", "b")
    cand = rows.join(F.broadcast(buckets), ["t", "b"], "left_semi")
    return _lsh_topk(cand, emb.filter(F.col("vec_id") == 0), 0, 10)


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
    buckets = _lsh_index_rows(qrow).select("t", "b").collect()
    # unknown query id ⇒ no buckets ⇒ empty candidate set (not a crash)
    pred = F.lit(False)
    for r in buckets:
        pred = pred | (
            (F.col("t") == int(r["t"])) & (F.col("b") == int(r["b"]))
        )
    rows = spark.read.parquet(index_dir).filter(pred)
    return _lsh_topk(rows, qrow, query_vec_id, k)


def append_ann_index(
    spark: SparkSession,
    index_dir: str,
    new_emb: DataFrame,
    n_tables: int = N_TABLES,
    n_bits: int = N_BITS,
) -> None:
    """Incremental maintenance for the LSH index: explode a new vector
    batch into its L (t, b) slots and APPEND into the same partition
    tree; probes see appended vectors immediately because they score
    from index-carried payload. The hyperplanes are derived from
    (n_tables, n_bits) alone — stateless, nothing to retrain, so
    unlike IVF-PQ there is no drift trigger; the only rebuild reason
    is re-parameterizing (k, L). An append that reuses an existing
    vec_id fails loudly (_guard_fresh_vec_ids)."""
    _guard_fresh_vec_ids(spark, index_dir, new_emb, "append_ann_index")
    rows = _lsh_index_rows(new_emb, n_tables, n_bits)
    _write_index(rows, index_dir, "append", "t", "b")


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


def _int_array_lit(values) -> Column:
    """An array<int> constant from ONE SQL-text py4j call. F.lit(list)
    makes one py4j call per element (~0.4 ms each: ~0.4 s of plan
    construction for a 1024-entry codebook); both forms constant-fold
    to the same Literal."""
    return F.expr(f"array({', '.join(str(int(v)) for v in values)})")


def _pq_cb_flat(k_cent: int = _PQ_K) -> Column:
    """The codebook as ONE array<int> Literal (flat index
    (s·k_cent + c)·8 + d). A Literal, not CreateArray — 1024 unrolled
    constant children (like 1024 unrolled distance terms) overflow
    the JVM's 64KB-per-method codegen limit and drop the whole stage
    into interpreted evaluation; a Literal is a constant object
    reference and higher-order functions over it codegen as loops."""
    return _int_array_lit(
        n for cs in _pq_codebook(k_cent) for ds in cs for n in ds
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
    64KB method limit and was strictly slower; see _pq_cb_flat)
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


def _batch_vectors(batch):
    """An Arrow batch's ``embedding`` column as an (n, 64) float64
    matrix (float32 → float64 is exact)."""
    import numpy as np

    return np.asarray(
        batch.column("embedding").flatten(), dtype=np.float64
    ).reshape(batch.num_rows, _PQ_S * _PQ_D)


def _pq_books(cb_rows: list | None = None, k_cent: int = _PQ_K) -> list:
    """Per subspace, (code ids ascending, centroid matrix) for
    _subspace_encode_np: the mixer codebook as exact n/256 doubles
    with ids 0..k_cent−1 when ``cb_rows`` is None, else the integer
    centroids of a trained codebook's (s, cell, c) rows — only the
    cells that survived training, so an emptied cell is never a
    code."""
    import numpy as np

    if cb_rows is None:
        cb = np.asarray(_pq_codebook(k_cent), dtype=np.float64) / 256.0
        ids = np.arange(k_cent, dtype=np.int64)
        return [(ids, cb[s]) for s in range(_PQ_S)]
    by_s: dict[int, list] = {}
    for r in cb_rows:
        by_s.setdefault(int(r["s"]), []).append((int(r["cell"]), list(r["c"])))
    books = []
    for s in range(_PQ_S):
        entries = sorted(by_s.get(s, []))
        books.append(
            (
                np.array([c for c, _ in entries], dtype=np.int64),
                np.array([v for _, v in entries], dtype=np.int64),
            )
        )
    return books


def _subspace_encode_np(r, books: list):
    """The one PQ encode step: per subspace s, the squared L2 from
    r's 8-dim slice to every centroid of books[s], accumulated
    d-ascending as an explicit loop — the SAME strict left fold
    ((0 + t0²) + t1²) + … as the Column form's F.aggregate (numpy's
    .sum() would use pairwise summation, a different rounding) — and
    the FIRST minimum (np.argmin), matching
    array_position(da, array_min(da)) − 1 and the min-cell tie-break.
    Float r gives the mixer's IEEE sequence bit for bit; integer r
    gives exact sums. Returns (codes, minimum distances), each
    (S, n)."""
    import numpy as np

    n = r.shape[0]
    rows = np.arange(n)
    cds = np.zeros((_PQ_S, n), dtype=np.int64)
    mds = np.zeros((_PQ_S, n), dtype=r.dtype)
    for s, (ids, mat) in enumerate(books):
        rs = r[:, s * _PQ_D : (s + 1) * _PQ_D]
        acc = np.zeros((n, len(ids)), dtype=r.dtype)
        for d in range(_PQ_D):
            t = rs[:, d : d + 1] - mat[None, :, d]
            acc += t * t
        j = np.argmin(acc, axis=1)
        cds[s] = ids[j]
        mds[s] = acc[rows, j]
    return cds, mds


def _pack_np(cds, bits: int):
    """The 8 codes of each vector packed little-endian into one int64
    (``bits`` per code; built unsigned, so 8-bit codes may fill the
    sign bit — Spark's arithmetic shift + mask unpacks them either
    way)."""
    import numpy as np

    code = np.zeros(cds.shape[1], dtype=np.uint64)
    for s in range(_PQ_S):
        code |= cds[s].astype(np.uint64) << np.uint64(bits * s)
    return code.view(np.int64)


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
    — the query half of IVF-PQ, as the IVF-PQ engine bound to ONE
    coarse cell at the origin. Queries (vec_id % 250 = 0, the x4
    probe-set convention) stay full-precision; every corpus vector is
    scored by the summed subspace distances from the query to its
    code's centroids, in subspace order (strict fold, bit-exact vs the
    SQL twin). Self matches stay in the result — PQ distance of a
    vector to its own code is its quantization error, a useful sanity
    signal.

    Three engine steps: the encode kernel (_ivfpq_encode_arrow)
    against the one centroid 0 — its residual x − 0/10⁴ is x exactly,
    so the codes equal pq_encode's (pinned per vec_id by
    tests/test_pq_spans.py); the mixer lookup table over each query's
    own embedding (_mixer_lut, computed ONCE per query on the
    broadcast-tiny side: 8 lookups + adds per pair instead of 1024
    multiply-adds); and the engine's ADC scorer (_adc_topk), whose
    equi-join on the constant cell plans as a filter plus a broadcast
    pairing of every code with every query. No cell ranking: with one
    cell it would only add jobs. The code scan is map-only; the
    only keyed exchange is the per-query top-5, WindowGroupLimit-
    partial per partition."""
    emb = load_table(spark, sf_dir, "embeddings")
    origin = [{"cell": 0, "c": [0] * (_PQ_S * _PQ_D)}]
    codes = _ivfpq_encode_arrow(emb, origin)
    qlut = emb.filter(F.col("vec_id") % 250 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.lit(0).cast("long").alias("cell"),
        _mixer_lut(F.col("embedding")).alias("lut"),
    )
    return _adc_topk(codes, qlut).drop("cell")


# ---------------------------------------------------------------------------
# X47c — trained product quantization (per-subspace fixed-point Lloyd)
# ---------------------------------------------------------------------------


def _subspace_explode(vec: Column) -> Column:
    """array<struct<s, qa>>: ``vec`` (64 ints) split into its 8
    8-int subspace vectors, for exploding into the (vec_id, s, qa)
    long form _fp_lloyd/_fp_assign key on with ``key="s"``."""
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
    # quantize in its own projection: inside _subspace_explode's
    # lambdas an inlined _fp_quantize would re-run per component read
    vecs = (
        emb.select("vec_id", _fp_quantize(F.col("embedding")).alias("qa"))
        .select("vec_id", F.explode(_subspace_explode(F.col("qa"))).alias("g"))
        .select("vec_id", "g.s", "g.qa")
    )
    # materialize the (<=128 x 8-int) codebook once: _fp_assign's
    # argmin references its input twice (distances + the min join),
    # which would otherwise re-run the whole Lloyd chain per branch.
    # localCheckpoint (lazy), NOT persist: a persist entry is keyed
    # by canonical plan in the CacheManager, so it would survive
    # across the bench's rebuilt DataFrames and let a "fresh" timed
    # run silently skip training; a lazy local checkpoint is scoped
    # to THIS DataFrame object and recomputes per rebuild.
    cent = _fp_lloyd(vecs, _PQ_K, key="s").localCheckpoint(eager=False)
    coded = _fp_assign(vecs, cent, key="s")
    return coded.groupBy("vec_id").agg(
        F.sum(
            F.col("cell") * F.expr("shiftleft(1L, cast(4 * s as int))")
        ).cast("long").alias("pq_code"),
        F.sum("md").cast("long").alias("q_err_fp"),
    )


# ---------------------------------------------------------------------------
# The IVF-PQ engine: coarse cells + PQ-coded residuals + cell-pruned
# ADC probe, in flight (x47d/x47h) or persisted (x47e/x47i)
# ---------------------------------------------------------------------------

_IVFPQ_CELLS = 8   # coarse cells (seeds: vec_id < 8)
_IVFPQ_NPROBE = 2  # cells probed per query
_CODEBOOKS = ("mixer", "trained")


def _ivfpq_fp(emb: DataFrame) -> DataFrame:
    """(vec_id, embedding, qa): the 1e4 fixed-point view every IVF-PQ
    stage keys on (floor(x·10⁴) as BIGINT — integer-exact in both
    engines)."""
    return emb.select(
        "vec_id", "embedding", _fp_quantize(F.col("embedding")).alias("qa")
    )


def _ivfpq_assign_encode(vecs_fp: DataFrame, cent: DataFrame) -> DataFrame:
    """The DECLARATIVE reference of the mixer encode: assign every
    vector to its nearest (integer-distance, min-cell tie-break)
    centroid and residual-PQ-encode it, returning
    (vec_id, cell, cd0..cd7). It mirrors the x47d oracle's SQL step
    for step; the engine runs _ivfpq_encode_arrow, pinned
    bit-identical to this form by
    test_ivfpq_inflight_arrow_matches_declarative."""
    assigned = _fp_assign(vecs_fp, cent).select("vec_id", "cell")
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


def _check_k_cent(k_cent: int) -> None:
    """k_cent must be a power of two — the LUT index and the packed
    code split by shift/mask, so any other size would compute wrong
    subspace/centroid indices silently — and at most 256, so that 8
    codes fit one int64."""
    if k_cent < 2 or k_cent & (k_cent - 1) or k_cent > 256:
        raise ValueError(
            f"k_cent must be a power of two in [2, 256], got {k_cent}"
        )


def _check_codebook(codebook: str) -> None:
    if codebook not in _CODEBOOKS:
        raise ValueError(
            f"codebook must be one of {_CODEBOOKS}, got {codebook!r}"
        )


def _ivfpq_model_np(cent_rows: list):
    """(cell_ids ascending, fixed-point centroid matrix) from the
    collected ≤8-row coarse model; ascending order makes numpy's
    first-min argmin reproduce the declarative min-cell tie-break."""
    import numpy as np

    cent_sorted = sorted((int(r["cell"]), list(r["c"])) for r in cent_rows)
    cell_ids = np.array([c for c, _ in cent_sorted], dtype=np.int64)
    cent_fp = np.array([v for _, v in cent_sorted], dtype=np.int64)
    return cell_ids, cent_fp


def _fp_assign_np(x, cent_fp):
    """numpy twin of extensions._fp_assign over a float batch x:
    qa = floor(x·10⁴) (the same double multiply + floor), integer L2
    to every centroid, first-min argmin over cell-ascending rows. Pure
    int64 arithmetic, so vectorization cannot change a value. Returns
    (qa, index of the nearest centroid)."""
    import numpy as np

    qa = np.floor(x * 1e4).astype(np.int64)
    diff = qa[:, None, :] - cent_fp[None, :, :]
    return qa, np.argmin((diff * diff).sum(axis=2), axis=1)


def _ivfpq_encode_arrow(
    vecs: DataFrame,
    cent_rows: list,
    cb_rows: list | None = None,
    k_cent: int = _PQ_K,
) -> DataFrame:
    """The engine's one encode: with the collected models, assignment
    + residual + per-subspace argmin run as one map-only Arrow kernel
    over (vec_id, embedding), emitting the packed (vec_id, cell, code)
    relation that x47b (one cell at the origin) and x47d/x47h probe in
    flight, the persisted index stores, and the streaming ingest
    appends.

    The codebook decides only the residual: the mixer
    (``cb_rows`` None) encodes the float residual x − c/10⁴ (two
    exactly-specified IEEE-double ops, as in the oracle) against the
    mixer codebook of ``k_cent`` entries; a trained codebook encodes
    the integer residual qa − c, which equals floor((x − c/10⁴)·10⁴)
    because c is an integer, so it never touches floats. Both then run
    _subspace_encode_np. Bit-identity with the declarative forms is
    pinned by test_ivfpq_inflight_arrow_matches_declarative and
    test_ivfpq_trained_arrow_matches_declarative, plus the unchanged
    DuckDB oracles. ``k_cent`` exists for the recall sweep
    (tools/recall_ivfpq_sf1.py; 256 = 8-bit codes)."""
    import numpy as np
    import pyarrow as pa

    _check_k_cent(k_cent)
    cell_ids, cent_fp = _ivfpq_model_np(cent_rows)
    cent_f = cent_fp.astype(np.float64) / 1e4
    books = _pq_books(cb_rows, k_cent)
    bits = (k_cent - 1).bit_length()

    def kern(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            x = _batch_vectors(batch)
            qa, idx = _fp_assign_np(x, cent_fp)
            resid = x - cent_f[idx] if cb_rows is None else qa - cent_fp[idx]
            cds, _ = _subspace_encode_np(resid, books)
            yield pa.RecordBatch.from_pydict(
                {
                    "vec_id": batch.column("vec_id").cast(pa.int64()),
                    "cell": pa.array(cell_ids[idx], pa.int64()),
                    "code": pa.array(_pack_np(cds, bits), pa.int64()),
                }
            )

    return vecs.select("vec_id", "embedding").mapInArrow(
        kern, "vec_id long, cell long, code long"
    )


def _ivfpq_resid_sub_arrow(vecs: DataFrame, cent_rows: list) -> DataFrame:
    """The trained codebook's training relation in one map-only pass:
    the INTEGER residual subspaces (vec_id, cell, s, qa: 8 ints) of
    every vector against its cell. Exact int64 arithmetic throughout
    (_fp_assign_np, then qa − cent), pinned against the declarative
    chain by test_ivfpq_trained_arrow_matches_declarative."""
    import numpy as np
    import pyarrow as pa

    cell_ids, cent_fp = _ivfpq_model_np(cent_rows)

    def kern(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            qa, idx = _fp_assign_np(_batch_vectors(batch), cent_fp)
            cells = pa.array(cell_ids[idx], pa.int64())
            resid = qa - cent_fp[idx]
            vid = batch.column("vec_id").cast(pa.int64())
            offs = pa.array(np.arange(n + 1, dtype=np.int32) * _PQ_D)
            for s in range(_PQ_S):
                sub = pa.ListArray.from_arrays(
                    offs,
                    pa.array(
                        resid[:, s * _PQ_D : (s + 1) * _PQ_D].ravel(),
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


def _ivfpq_train(vecs_fp: DataFrame, codebook: str) -> tuple:
    """The index's trained state: (cent, cent_rows, cb, cb_rows), each
    model as a DataFrame (for the writes and the probe's cell ranking)
    and as its collected rows (for the Arrow kernels). ``cent`` is the
    coarse model, x45b's fixed-point sampled Lloyd over full vectors
    (8 cells, 2 iterations, deterministic 1/4 sample), (cell, c).
    ``cb`` is None for the mixer codebook; for the trained one it is
    the same Lloyd per subspace over the integer residuals (x47c's
    recipe: seeds = the first 16 vec_ids' residuals), (s, cell, c).

    Both are lazy localCheckpoints, NOT persists: each is referenced
    by several branches (the assignment's argmin reads its input
    twice, the probe ranks cells against it), and a persist entry is
    keyed by canonical plan in the CacheManager, so it would survive
    across the bench's rebuilt DataFrames and let a "fresh" timed run
    silently skip training; a lazy local checkpoint is scoped to THIS
    DataFrame object and recomputes per rebuild."""
    _check_codebook(codebook)
    cent = _fp_lloyd(vecs_fp, _IVFPQ_CELLS).localCheckpoint(eager=False)
    cent_rows = cent.collect()
    if codebook == "mixer":
        return cent, cent_rows, None, None
    rvecs = (
        _ivfpq_resid_sub_arrow(vecs_fp, cent_rows)
        .select("vec_id", "s", "qa")
        .localCheckpoint(eager=False)
    )
    cb = _fp_lloyd(rvecs, _PQ_K, key="s").localCheckpoint(eager=False)
    return cent, cent_rows, cb, cb.collect()


def _unpack_codes(packed: DataFrame, k_cent: int = _PQ_K) -> DataFrame:
    """(vec_id, cell, code) → (vec_id, cell, cd0..cd7): codegen'd
    shift/mask unpack at scan time (the x4n bit-ops precedent); the
    pack is _pack_np inside the encode kernel."""
    bits = (k_cent - 1).bit_length()
    return packed.select(
        "vec_id",
        "cell",
        *[
            F.shiftright(F.col("code"), bits * s)
            .bitwiseAND(F.lit(k_cent - 1))
            .cast("long")
            .alias(f"cd{s}")
            for s in range(_PQ_S)
        ],
    )


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
    attached — (query_id, qe, qqa, cell, centvec, dist, rn)."""
    qc = q.crossJoin(F.broadcast(cent)).select(
        "query_id",
        "qe",
        "qqa",
        "cell",
        F.col("c").alias("centvec"),
        _fp_sqdist(F.col("qqa"), F.col("c")).alias("dist"),
    )
    wq = Window.partitionBy("query_id").orderBy("dist", "cell")
    return qc.withColumn("rn", F.row_number().over(wq)).filter(
        F.col("rn") <= nprobe
    )


def _mixer_lut(vec: Column, k_cent: int = _PQ_K) -> Column:
    """The mixer codebook's ADC lookup table for one float vector
    (x47b's query embedding, or a query's residual against a probed
    cell): entry s·k_cent + c is the strict-fold squared L2 from
    subspace s of ``vec`` to mixer centroid c (_pq_dist_expr, the
    oracle's float sequence)."""
    bits = (k_cent - 1).bit_length()
    cbflat = _pq_cb_flat(k_cent)
    return F.transform(
        F.sequence(F.lit(0), F.lit(_PQ_S * k_cent - 1)),
        lambda i: _pq_dist_expr(
            vec,
            F.shiftright(i, bits),
            i.bitwiseAND(F.lit(k_cent - 1)),
            cbflat,
            k_cent,
        ),
    )


def _adc_topk(
    codes: DataFrame,
    qlut: DataFrame,
    cb_rows: list | None = None,
    k_cent: int = _PQ_K,
    topk: int = 5,
) -> DataFrame:
    """The ADC scorer of every IVF-PQ binding: unpack the packed
    ``codes`` (vec_id, cell, code), equi-join them on cell against the
    broadcast lookup tables ``qlut`` (query_id, cell, lut: one per
    (query, probed cell)), sum 8 lookups per candidate, and keep the
    top-k per query by (adc, vec_id) — a partial WindowGroupLimit
    below the one keyed exchange.

    It branches on the codebook (``cb_rows`` None for the mixer),
    because the two oracles differ:

    * mixer: the sum adds s = 0..7 from 0.0 in order — that addition
      order is part of the x47b/x47d oracles. Output ``adc_dist``,
      rounded to 4 places;
    * trained: every entry is an exact BIGINT, so the sum is
      order-free. Output ``adc_fp``."""
    pairs = _unpack_codes(codes, k_cent).join(F.broadcast(qlut), "cell")
    adc = F.lit(0.0) if cb_rows is None else F.lit(0).cast("long")
    for s in range(_PQ_S):
        adc = adc + F.element_at(
            F.col("lut"), F.lit(s * k_cent) + F.col(f"cd{s}").cast("int") + 1
        )
    scored = pairs.select("query_id", "vec_id", "cell", adc.alias("adc_raw"))
    score = (
        stable_round(F.col("adc_raw"), 4).alias("adc_dist")
        if cb_rows is None
        else F.col("adc_raw").alias("adc_fp")
    )
    w = Window.partitionBy("query_id").orderBy("adc_raw", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= topk)
        .select("query_id", "vec_id", "cell", score, "rank")
    )


def _ivfpq_probe_plan(
    vecs_fp: DataFrame,
    cent: DataFrame,
    codes: DataFrame,
    cb_rows: list | None = None,
    nprobe: int = _IVFPQ_NPROBE,
    k_cent: int = _PQ_K,
    topk: int = 5,
    query_filter: Column | None = None,
) -> DataFrame:
    """The probe of the engine, shared by the in-flight and the
    persisted plans: rank cells per query, build one ADC lookup table
    of S·k_cent entries per (query, probed cell), and score the packed
    ``codes`` against them (_adc_topk).

    The table follows the codebook (``cb_rows`` None for the mixer):

    * mixer: the strict-fold float distances from the query's float
      residual x − c/10⁴ to the mixer centroids (_mixer_lut);
    * trained: the integer distances from the query's integer
      residual to the trained centroids (cells that emptied in
      training hold zeros and are never looked up).

    (nprobe, k_cent, topk, query_filter) exist for the recall sweep
    (tools/recall_ivfpq_sf1.py); the graded defaults are
    (2, 16, 5, every 250th vector)."""
    _check_k_cent(k_cent)
    probed = _ivfpq_probed(
        _ivfpq_queries(vecs_fp, query_filter), cent, nprobe
    )
    if cb_rows is None:
        qr = _residual_col(F.col("qe"), F.col("centvec"))
        lut = _mixer_lut(F.col("qr"), k_cent)
    else:
        bits = (k_cent - 1).bit_length()
        # flat index (s·k_cent + c)·8 + d, as the mixer's _pq_cb_flat
        flat = [0] * (_PQ_S * k_cent * _PQ_D)
        for r in cb_rows:
            base = (int(r["s"]) * k_cent + int(r["cell"])) * _PQ_D
            flat[base : base + _PQ_D] = [int(v) for v in r["c"]]
        cbflat = _int_array_lit(flat).cast("array<bigint>")
        qr = F.zip_with(F.col("qqa"), F.col("centvec"), lambda x, c: x - c)
        lut = F.transform(
            F.sequence(F.lit(0), F.lit(_PQ_S * k_cent - 1)),
            lambda i: _fp_sqdist(
                F.slice(F.col("qr"), F.shiftright(i, bits) * _PQ_D + 1, _PQ_D),
                F.slice(cbflat, i * _PQ_D + 1, _PQ_D),
            ),
        )
    qlut = probed.select("query_id", "cell", qr.alias("qr")).select(
        "query_id", "cell", lut.alias("lut")
    )
    return _adc_topk(codes, qlut, cb_rows, k_cent, topk)


def _ivfpq_inflight(emb: DataFrame, codebook: str) -> DataFrame:
    """Train, encode and probe in one plan (x47d, x47h). The ≤8-row
    coarse model and ≤128-row codebook train declaratively (the
    distributed fixed-point Lloyd); their rows are collected at
    plan-construction time (the x47e/x49b train-at-construction
    precedent) to drive the map-only Arrow encode."""
    vecs_fp = _ivfpq_fp(emb)
    cent, cent_rows, _, cb_rows = _ivfpq_train(vecs_fp, codebook)
    codes = _ivfpq_encode_arrow(vecs_fp, cent_rows, cb_rows)
    return _ivfpq_probe_plan(vecs_fp, cent, codes, cb_rows)


# ---------------------------------------------------------------------------
# The persisted index: build once, probe from the artifact, maintain
# incrementally (assign + encode + append; no retrain)
# ---------------------------------------------------------------------------


def default_ivfpq_dir(sf_dir: str, codebook: str = "mixer") -> str:
    """Scratch location for the persisted IVF-PQ index over
    ``sf_dir``'s embeddings, keyed by source identity (path + mtime +
    size) so regenerated testdata re-indexes instead of reusing a
    stale build, and by codebook."""
    suffix = "" if codebook == "mixer" else f"_{codebook}"
    return scratch_dir(
        f"spark_graft_ivfpq{suffix}",
        table_path(sf_dir, "embeddings"),
        f"{_IVFPQ_CELLS}c_{_PQ_S}s{_PQ_K}k{suffix}",
    )


def _index_models(
    spark: SparkSession, index_dir: str, codebook: str
) -> tuple[DataFrame, list | None]:
    """The persisted trained state: the coarse centroids (a DataFrame,
    for the probe's cell ranking) and the trained codebook's rows
    (None for the mixer)."""
    _check_codebook(codebook)
    cent = spark.read.parquet(f"{index_dir}/centroids")
    if codebook == "mixer":
        return cent, None
    return cent, spark.read.parquet(f"{index_dir}/codebook").collect()


def build_ivfpq_index(
    spark: SparkSession, sf_dir: str, out_dir: str, codebook: str = "mixer"
) -> None:
    """Build the persisted IVF-PQ index ONCE: train (_ivfpq_train),
    encode every vector, and persist under ``out_dir``:

    * ``centroids`` — the ≤8-row (cell, c: array<bigint>) coarse model;
    * ``codebook`` — for ``codebook="trained"`` only, the ≤128-row
      (s, cell, c) residual codebook;
    * ``manifest`` — one row: n_base, the trained-corpus size the
      retrain trigger compares against (ivfpq_needs_retrain);
    * ``codes`` — (vec_id, code: int64) parquet PARTITIONED BY cell,
      one file per cell.

    Codes are written LAST: ``codes/_SUCCESS`` is the build-complete
    marker probes check, so a killed build can never serve models
    without codes or vice versa."""
    vecs_fp = _ivfpq_fp(load_table(spark, sf_dir, "embeddings"))
    cent, cent_rows, cb, cb_rows = _ivfpq_train(vecs_fp, codebook)
    cent.write.mode("overwrite").parquet(f"{out_dir}/centroids")
    if cb is not None:
        cb.write.mode("overwrite").parquet(f"{out_dir}/codebook")
    n_base = vecs_fp.count()
    spark.createDataFrame([(n_base,)], "n_base long").write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/manifest")
    codes = _ivfpq_encode_arrow(vecs_fp, cent_rows, cb_rows)
    _write_index(codes, f"{out_dir}/codes", "overwrite", "cell")


def append_ivfpq_index(
    spark: SparkSession,
    index_dir: str,
    new_emb: DataFrame,
    codebook: str = "mixer",
) -> None:
    """Incremental maintenance: fold a new vector batch into the
    persisted index WITHOUT retraining — encode it against the frozen
    models through the same path the build used, and append the
    packed codes into the cell-partitioned tree. A batch that reuses
    an indexed vec_id fails loudly (_guard_fresh_vec_ids).

    Retrain trigger (checked by ivfpq_needs_retrain): the models are
    trained state, so a drifting ingest distribution degrades cell
    balance and residual scale rather than failing loudly. Retrain
    (full rebuild) when the appended mass exceeds ~30% of n_base, or
    sooner if the recall audit (tools/recall_ivfpq_sf1.py, floors in
    RECALL_IVFPQ_SF1.json) shows drift; the trigger-fires → rebuild →
    probe-parity loop is exercised end-to-end by
    test_ivfpq_retrain_after_drift_end_to_end. At 100 TB this is the
    standard IVF serving discipline: appends are cheap map-side work
    + a partitioned append; the rebuild is the rare scheduled job."""
    _guard_fresh_vec_ids(
        spark, f"{index_dir}/codes", new_emb, "append_ivfpq_index"
    )
    cent, cb_rows = _index_models(spark, index_dir, codebook)
    codes = _ivfpq_encode_arrow(new_emb, cent.collect(), cb_rows)
    _write_index(codes, f"{index_dir}/codes", "append", "cell")


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
    spark: SparkSession, sf_dir: str, index_dir: str, codebook: str = "mixer"
) -> DataFrame:
    """Serve the graded query set from the PERSISTED index with
    static partition pruning: rank cells per query against the
    persisted centroids, collect the ≤``_IVFPQ_CELLS`` distinct
    probed cell ids (O(cells) driver work — the probe_ann_index
    precedent: this collect is what turns the probe into literal
    partition predicates), and read ONLY those cell directories of
    the codes tree. The scan's ``PartitionFilters`` carries the cell
    IN-list; unprobed cells are never opened. Everything downstream
    is _ivfpq_probe_plan, shared with the in-flight plans."""
    vecs_fp = _ivfpq_fp(load_table(spark, sf_dir, "embeddings"))
    cent, cb_rows = _index_models(spark, index_dir, codebook)
    probed_cells = sorted(
        int(r["cell"])
        for r in _ivfpq_probed(_ivfpq_queries(vecs_fp), cent)
        .select("cell")
        .distinct()
        .collect()
    )
    codes = spark.read.parquet(f"{index_dir}/codes").filter(
        F.col("cell").isin(probed_cells)
    )
    return _ivfpq_probe_plan(vecs_fp, cent, codes, cb_rows)


def _ivfpq_persisted(
    spark: SparkSession, sf_dir: str, codebook: str
) -> DataFrame:
    """Probe the default index over ``sf_dir``, building it on first
    use (write-once)."""
    index_dir = default_ivfpq_dir(sf_dir, codebook)
    if not pathlib.Path(index_dir, "codes", "_SUCCESS").exists():
        build_ivfpq_index(spark, sf_dir, index_dir, codebook)
    return probe_ivfpq_index(spark, sf_dir, index_dir, codebook)


@query("x47d_ivfpq_topk", oracle=_x47d_oracle())
def x47d_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X47d: IVF-PQ end to end with the mixer codebook — the standard
    billion-vector serving layout, every stage oracle-graded: (1)
    coarse cells from the fixed-point sampled Lloyd (integer-exact ⇒
    the partition key grades bit-identically), (2) PQ codes of the
    RESIDUAL x − cent against the mixer codebook (residual terms are
    exact-double subtractions; distances strict folds), (3) a query
    ranks cells by integer centroid distance, probes the nprobe=2
    nearest, and ADC-scans ONLY those cells' 8-byte codes with its
    per-cell residual LUT.

    Scale shape: cells are the partition key — a probe touches
    nprobe partitions, reading 8-byte codes + one 64-int centroid
    per cell; the encode is one map-only Arrow pass; nothing
    corpus-sized shuffles. This composes x4e's IVF pruning with x47's
    32× scan compression — the two levers that make 10^12 vectors
    probeable. Bit-identity of the Arrow encode with the declarative
    _ivfpq_assign_encode (which the DuckDB oracle recomputes in SQL)
    is pinned by test_ivfpq_inflight_arrow_matches_declarative."""
    return _ivfpq_inflight(load_table(spark, sf_dir, "embeddings"), "mixer")


@query("x47e_ivfpq_persisted", oracle=_x47d_oracle())
def x47e_ivfpq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X47e: the PRODUCTION similarity-search deliverable — x47d
    served from the persisted mixer index. The first call builds the
    artifact (build_ivfpq_index); every probe after that reads ≤
    nprobe-probed cell partitions of 8-byte codes plus the ≤8-row
    centroid table — the corpus parquet is touched only for the query
    vectors themselves. Graded with x47d's ORACLE VERBATIM: same
    cells, same codes, same ADC float order, so the persisted
    round-trip must be hash-identical to the in-flight plan.

    Scale shape: at 10^12 vectors the index is the only thing a
    probe reads — nprobe/ncells of an 8 TB code table (vs 256 TB of
    raw vectors), partition-pruned statically; appends are map-side
    encode + partitioned append; the coarse model is 8 rows."""
    return _ivfpq_persisted(spark, sf_dir, "mixer")


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
    """X47h: IVF-PQ with the residual codebook TRAINED — the recall
    fix RECALL_IVFPQ_SF1.json measures: the mixer codebook's centroids
    are arbitrary hash points that leave the residual mostly
    unexplained, and training them per subspace (the standard IVF-PQ
    recipe) is the lever that moves recall. Integer-exact end to end,
    both trainings included: the residual is qa − cent, the codebook
    is x47c's fixed-point Lloyd over the residual subvectors, and the
    ADC is a BIGINT sum — the pipeline grades value-identical
    cross-engine with no float contract at all."""
    return _ivfpq_inflight(
        load_table(spark, sf_dir, "embeddings"), "trained"
    )


@query("x47i_ivfpq_trained_persisted", oracle=_x47h_oracle())
def x47i_ivfpq_trained_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X47i: x47h served from the persisted trained index — x47e's
    build-once/probe-many discipline with the ``codebook`` artifact
    beside the centroids; every probe reads ≤ nprobe cell partitions
    of 8-byte codes plus two ≤128-row model tables. Graded with x47h's
    ORACLE VERBATIM, so the persisted round-trip — including the int64
    pack/unpack — must reproduce the in-flight integer ADC values
    exactly."""
    return _ivfpq_persisted(spark, sf_dir, "trained")
