"""Unit pins for the r12 additions: x46 substring-span dedup and
x47 product quantization.

The oracle-parity lane (tests/test_oracle_parity.py) already grades
all seven queries (x46/b/c, x47/b/c/d) cross-engine at sf0.01; these
tests pin the SEMANTIC
contracts parity alone can't see — known-duplicate span geometry, the
content-defined sampling trade-off, PQ pack/unpack consistency, and the ADC-vs-
quantization-error identity.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row

from pdf_etl_engine_spark.operators.ann_index import (
    _PQ_D,
    _PQ_K,
    _PQ_S,
    _pq_codebook,
    pq_encode,
)
from pdf_etl_engine_spark.operators.curation import substring_dup_spans

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark, texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )


class TestSubstringSpans:
    def test_shared_substring_detected_exactly(self, spark):
        """Two docs sharing one run longer than G=40 and nothing
        else: each doc reports exactly the shared region."""
        shared = "the quick brown fox jumps over the lazy dog again and 123"
        L = len(shared)
        assert L >= 40
        a = "A" * 25 + shared + "B" * 25
        b = "C" * 30 + shared + "D" * 20
        out = {
            (r.doc_id, r.span_start, r.span_end)
            for r in substring_dup_spans(_docs(spark, [a, b])).collect()
        }
        # the shared run occupies [25, 25+L) in a and [30, 30+L) in
        # b; all L-39 grams inside it (and only those) are duplicated
        assert out == {(0, 25, 25 + L), (1, 30, 30 + L)}

    def test_below_gram_length_not_detected(self, spark):
        """A 39-char shared run (< G) produces no spans."""
        shared = "s" * 20 + "hared-content-19chr"
        assert len(shared) == 39
        a = "A" * 40 + shared + "B" * 40
        b = "C" * 40 + shared + "D" * 40
        assert substring_dup_spans(_docs(spark, [a, b])).count() == 0

    def test_intra_doc_duplicate(self, spark):
        """The same >=40-char run twice inside ONE doc marks both
        occurrences (suffix-array semantics: any repetition counts,
        not just cross-doc)."""
        run = "intra-document duplicated span of 44 chars !"
        L = len(run)
        assert L >= 40
        doc = run + "-" * 10 + run
        spans = sorted(
            (r.span_start, r.span_end)
            for r in substring_dup_spans(_docs(spark, [doc])).collect()
        )
        assert spans == [(0, L), (L + 10, 2 * L + 10)]

    def test_mod_sampling_is_alignment_free(self, spark):
        """sample_mod=4 selects grams by CONTENT (h1 % 4 == 0), so a
        run shared at offsets 25 and 30 (non-congruent mod 4, where a
        positional stride would never collide) still dedups: both
        docs report spans, and every span sits inside the true
        shared region."""
        shared = (
            "the quick brown fox jumps over the lazy dog again and "
            "again while the engine watches every rolling gram go by"
        )
        L = len(shared)
        assert L >= 100
        a = "A" * 25 + shared + "B" * 25
        b = "C" * 30 + shared + "D" * 20
        out = substring_dup_spans(
            _docs(spark, [a, b]), sample_mod=4
        ).collect()
        by_doc: dict[int, list[tuple[int, int]]] = {}
        for r in out:
            by_doc.setdefault(r.doc_id, []).append(
                (r.span_start, r.span_end)
            )
        assert set(by_doc) == {0, 1}
        for s, e in by_doc[0]:
            assert 25 <= s and e <= 25 + L
        for s, e in by_doc[1]:
            assert 30 <= s and e <= 30 + L
        # selection is content-defined: both copies select the SAME
        # gram offsets relative to the shared run
        rel0 = sorted((s - 25, e - 25) for s, e in by_doc[0])
        rel1 = sorted((s - 30, e - 30) for s, e in by_doc[1])
        assert rel0 == rel1

    def test_span_cut_matches_python_splice(self, spark):
        """x46c on real testdata == a Python-side removal of the x46
        spans from the raw text, doc for doc (length AND tail)."""
        from pdf_etl_engine_spark.registry import QUERIES

        texts = {
            r.doc_id: r.text
            for r in spark.read.parquet(
                f"{SF_DIR}/documents.parquet"
            ).collect()
        }
        spans: dict[int, list[tuple[int, int]]] = {}
        for r in QUERIES["x46_substring_span_dedup"](
            spark, SF_DIR
        ).collect():
            spans.setdefault(r.doc_id, []).append(
                (r.span_start, r.span_end)
            )
        cut_rows = QUERIES["x46c_span_cut"](spark, SF_DIR).collect()
        assert len(cut_rows) == len(texts)
        checked_nonzero = 0
        for r in cut_rows:
            t = texts[r.doc_id]
            expect = t
            for s, e in sorted(spans.get(r.doc_id, []), reverse=True):
                expect = expect[:s] + expect[e:]
            assert r.n_spans == len(spans.get(r.doc_id, []))
            assert r.cleaned_len == len(expect)
            assert r.cleaned_tail == expect[-120:]
            if r.n_spans:
                checked_nonzero += 1
        assert checked_nonzero > 0, "testdata should contain dup spans"

    def test_short_docs_empty(self, spark):
        """Sub-G and empty texts produce no spans and no crash (the
        char-code transform runs on every row; Spark's sequence(1, 0)
        would run DESCENDING, so the position array must be gated on
        length >= G)."""
        assert (
            substring_dup_spans(
                _docs(spark, ["tiny", "tiny", "", ""])
            ).count()
            == 0
        )


class TestPQ:
    @pytest.fixture(scope="class")
    def enc(self, spark):
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        return (
            pq_encode(emb).collect(),
            {r.vec_id: r.embedding for r in emb.collect()},
        )

    def test_codes_match_numpy_argmin(self, enc):
        rows, vecs = enc
        cb = np.array(_pq_codebook(), dtype=np.float64) / 256.0
        for r in rows[:50]:
            v = np.array(vecs[r.vec_id], dtype=np.float64)
            for s in range(_PQ_S):
                sub = v[s * _PQ_D : (s + 1) * _PQ_D]
                d = ((cb[s] - sub[None, :]) ** 2).sum(axis=1)
                assert (r.pq_code >> (4 * s)) & 15 == int(np.argmin(d))

    def test_code_range_and_err_nonneg(self, enc):
        rows, _ = enc
        for r in rows:
            assert 0 <= r.pq_code < 1 << (4 * _PQ_S)
            for s in range(_PQ_S):
                assert 0 <= (r.pq_code >> (4 * s)) & 15 < _PQ_K
            assert r.q_err_raw >= 0.0

    def test_adc_self_distance_is_quantization_error(self, spark):
        """ADC(q, code(q)) == q_err(q) BIT-exactly — the two folds
        share term construction and summation order, so the identity
        pins that x47b reconstructs exactly what x47 encoded."""
        from pdf_etl_engine_spark.registry import QUERIES

        adc = {
            (r.query_id, r.vec_id): r.adc_dist
            for r in QUERIES["x47b_pq_adc_topk"](spark, SF_DIR).collect()
        }
        err = {
            r.vec_id: r.q_err
            for r in QUERIES["x47_pq_encode"](spark, SF_DIR).collect()
        }
        self_pairs = [(q, v) for (q, v) in adc if q == v]
        assert self_pairs, "query set should rank itself somewhere"
        for q, v in self_pairs:
            assert adc[(q, v)] == err[v]


class TestTrainedPQ:
    @pytest.fixture(scope="class")
    def encs(self, spark):
        from pdf_etl_engine_spark.registry import QUERIES

        fixed = QUERIES["x47_pq_encode"](spark, SF_DIR).collect()
        trained = QUERIES["x47c_pq_encode_trained"](spark, SF_DIR).collect()
        return fixed, trained

    def test_training_reduces_quantization_error(self, encs):
        """The trained codebook must beat the fixed mixer codebook on
        mean quantization error by a clear margin (measured 0.92 →
        0.62 of vector energy; pinned at 20% improvement). q_err_fp
        is exact integer arithmetic at 1e4 fixed point, so the
        comparison is deterministic."""
        fixed, trained = encs
        fixed_mean = float(np.mean([r.q_err for r in fixed]))
        trained_mean = float(
            np.mean([r.q_err_fp for r in trained])
        ) / 1e8
        assert trained_mean < 0.8 * fixed_mean

    def test_all_code_values_reachable(self, encs):
        """Every subspace must use MORE than 4 distinct codes — the
        seeding-from-the-sample bug (vec_id % 4 == 0 AND < 16 → four
        seeds) capped each subspace at 4 codes, silently wasting 2 of
        the 4 bits."""
        _, trained = encs
        for s in range(_PQ_S):
            used = {(r.pq_code >> (4 * s)) & 15 for r in trained}
            assert len(used) > 4, f"subspace {s} uses only {used}"
            assert all(0 <= c < _PQ_K for c in used)

    def test_arrow_encode_is_bit_identical(self, spark):
        """The IVF-PQ engine's encode kernel against one centroid at
        the origin (x47b's codes) must reproduce pq_encode's codes per
        vec_id on the whole sf0.001 corpus: the residual x − 0/10⁴ is
        x exactly, the numpy kernel's explicit d-ascending
        accumulation is the same strict left fold as the Column form,
        and argmin the same first-min, so no code may differ."""
        from pdf_etl_engine_spark.operators.ann_index import (
            _ivfpq_encode_arrow,
        )

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        origin = [{"cell": 0, "c": [0] * 64}]
        a = {r.vec_id: r.pq_code for r in pq_encode(emb).collect()}
        b = {
            r.vec_id: r.code
            for r in _ivfpq_encode_arrow(emb, origin).collect()
        }
        assert a == b and len(a) > 0
