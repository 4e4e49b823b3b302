"""IVF-PQ recall at sf1, measured against exact k-NN (VERDICT r13 #1).

The IVF-PQ engine (mixer codebook: x47d in-flight, x47e persisted,
stw_ivfpq_ingest streaming; trained codebook: x47h in-flight, x47i
persisted — each codebook produces the SAME cells and codes on every
path through the one encode kernel, pinned hash-identical in
tests/test_ann_index.py and tests/test_streaming_dedup.py, so ONE
measurement per codebook covers its bindings) is graded hash-exact
against oracles that recompute the same approximation — nothing in
the repo measured how good the approximation IS. This harness does, in two lanes (the
RECALL_SF1.json structure):

**Corpus lane** — the sf1 corpus is near-isotropic random unit
vectors: the ANN worst case (top-5 distance margins are noise-level,
there is no cluster structure for the codebook to exploit), so these
numbers are read as the ADVERSARIAL floor and as regression rows,
not as the operating point. Ground truth: per graded query
(vec_id % 250 = 0, 80 queries), the exact top-10 by squared L2 over
the raw floats — the metric residual-PQ ADC approximates — computed
densely in numpy (80 × 20k distances; the corpus collect is a
tools-harness convenience, same as tools/recall_lsh_sf1.py's truth
pass). Self-matches excluded on both sides. Sweep: nprobe ∈
{1, 2, 4, 8} × codebook ∈ {mixer-4bit, mixer-8bit, trained-16}.
nprobe=8 probes every cell → pure PQ quantization loss; the drop at
lower nprobe is pure IVF cell-miss loss, also reported directly as
``cell_coverage_at_5`` (fraction of exact top-5 in probed cells —
an upper bound on recall@5 at that nprobe, whatever the codebook).

**Planted lane** — where a similarity decision actually has signal:
tools/recall_lsh_sf1.planted_fixture's corpus (20k random unit
background + 4 × 1200 planted pairs with exact-by-construction
cosine in [0.6, 0.95), dim 64). Query = each pair's first partner
(300/band subsample, deterministic); metric = is the OTHER partner
in the approx top-5/top-10. At cos ≥ 0.6 the partner's squared-L2
distance (2 − 2c ≤ 0.8) sits far below the ~2.0 background, so this
lane measures whether the index finds the neighbors that matter.

**Plans measured are the SHIPPED ones**: models from _ivfpq_train,
codes from _ivfpq_encode_arrow (the build/append/streaming kernel),
probes from _ivfpq_probe_plan (every IVF-PQ binding's probe), all at
the sweep point via knobs whose graded defaults are the graded
plans. Each codebook trains and encodes once per lane; the nprobe
sweep reuses its codes.

Floors pinned here (and sanity-pinned in tests/test_ann_index.py),
set ~0.05 under the r14 measured values (the RECALL_SF1.json
discipline): see FLOORS below. The headline finding this artifact
exists to record: the mixer codebook leaves the residual mostly
unexplained (corpus full-probe recall@5 ≈ 0.03), TRAINING the
residual codebook (x47h) is the recall lever, and
ivfpq_needs_retrain's recall-audit trigger now has a real audit.

Run: python tools/recall_ivfpq_sf1.py → one JSON line, persisted to
RECALL_IVFPQ_SF1.json at the repo root (round artifact).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

NPROBE_SWEEP = (1, 2, 4, 8)
PROD_NPROBE = 2
PLANTED_PER_BAND = 300
FLOORS: dict[str, float] = {
    # corpus lane: regression floors on the adversarial corpus
    "corpus_production_mixer4_recall_at_5": 0.015,
    "corpus_production_trained16_recall_at_5": 0.03,
    "corpus_fullprobe_trained16_recall_at_5": 0.05,
    # planted lane: the operating point — production config (nprobe=2)
    "planted_trained16_found_at_5_band_09": 0.9,
    "planted_trained16_found_at_5_band_06": 0.35,
}


def _band(c: float) -> str:
    lo = int(c * 10) / 10
    return f"[{lo},{round(lo + 0.1, 1)})"


def main() -> None:  # noqa: C901 — one linear measurement script
    import numpy as np
    from pyspark.sql import functions as F

    from pdf_etl_engine_spark.catalog import load_table
    from pdf_etl_engine_spark.operators.ann_index import (
        _ivfpq_encode_arrow,
        _ivfpq_fp,
        _ivfpq_probe_plan,
        _ivfpq_probed,
        _ivfpq_queries,
        _ivfpq_train,
    )
    from pdf_etl_engine_spark.session import get_spark
    from tools.recall_lsh_sf1 import (
        PLANTED_BACKGROUND,
        PLANTED_BANDS,
        PLANTED_PAIRS_PER_BAND,
        planted_fixture,
    )
    from tools.synth_sf1 import synth

    spark = get_spark(app_name="recall-ivfpq-sf1", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    sf1 = synth()

    emb = load_table(spark, sf1, "embeddings")
    vecs_fp = _ivfpq_fp(emb).localCheckpoint(eager=True)

    # ---- corpus lane: exact squared-L2 truth (numpy, queries only) --
    t0 = time.monotonic()
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    x = np.array([r["embedding"] for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    ids, x = ids[order], x[order]
    id_pos = {int(v): i for i, v in enumerate(ids)}
    q_ids = ids[ids % 250 == 0]
    truth: dict[int, list[int]] = {}
    for qid in q_ids:
        qi = id_pos[int(qid)]
        d = ((x - x[qi]) ** 2).sum(axis=1)
        d[qi] = np.inf  # exclude self
        top = np.argsort(d, kind="stable")[:10]
        truth[int(qid)] = [int(ids[i]) for i in top]
    exact_sec = round(time.monotonic() - t0, 1)

    # one training serves both codebooks: the coarse model does not
    # depend on the codebook
    cent, cent_rows, _, cb_rows = _ivfpq_train(vecs_fp, "trained")

    def score(got_rows, vec_cell, probed_by_q) -> dict:
        by_q: dict[int, list[int]] = {}
        for r in sorted(got_rows, key=lambda r: (r["query_id"], r["rank"])):
            if r["vec_id"] != r["query_id"]:
                by_q.setdefault(int(r["query_id"]), []).append(
                    int(r["vec_id"])
                )
        hit5 = hit10 = cov5 = 0
        for qid, tr in truth.items():
            approx = by_q.get(qid, [])
            hit5 += len(set(tr[:5]) & set(approx[:5]))
            hit10 += len(set(tr) & set(approx[:10]))
            cov5 += sum(
                1
                for v in tr[:5]
                if vec_cell[v] in probed_by_q.get(qid, set())
            )
        n_q = len(truth)
        return {
            "recall_at_5": round(hit5 / (5 * n_q), 4),
            "recall_at_10": round(hit10 / (10 * n_q), 4),
            "cell_coverage_at_5": round(cov5 / (5 * n_q), 4),
        }

    def probed_cells_map(vfp, cnt, nprobe) -> dict[int, set[int]]:
        out: dict[int, set[int]] = {}
        for r in (
            _ivfpq_probed(_ivfpq_queries(vfp), cnt, nprobe)
            .select("query_id", "cell")
            .collect()
        ):
            out.setdefault(int(r["query_id"]), set()).add(int(r["cell"]))
        return out

    corpus: dict[str, dict] = {}
    for label, k_cent in (("mixer_4bit", 16), ("mixer_8bit", 256)):
        codes = _ivfpq_encode_arrow(
            emb, cent_rows, k_cent=k_cent
        ).localCheckpoint(eager=True)
        vec_cell = {
            int(r["vec_id"]): int(r["cell"])
            for r in codes.select("vec_id", "cell").collect()
        }
        for nprobe in NPROBE_SWEEP:
            t0 = time.monotonic()
            got = (
                _ivfpq_probe_plan(
                    vecs_fp, cent, codes,
                    nprobe=nprobe, k_cent=k_cent, topk=11,
                )
                .select("query_id", "vec_id", "rank")
                .collect()
            )
            corpus[f"{label},nprobe={nprobe}"] = {
                **score(got, vec_cell, probed_cells_map(vecs_fp, cent, nprobe)),
                "spark_sec": round(time.monotonic() - t0, 1),
            }
    # trained codebook (x47h/x47i's probe)
    codes = _ivfpq_encode_arrow(emb, cent_rows, cb_rows).localCheckpoint(
        eager=True
    )
    vec_cell = {
        int(r["vec_id"]): int(r["cell"])
        for r in codes.select("vec_id", "cell").collect()
    }
    for nprobe in NPROBE_SWEEP:
        t0 = time.monotonic()
        got = (
            _ivfpq_probe_plan(
                vecs_fp, cent, codes, cb_rows, nprobe=nprobe, topk=11
            )
            .select("query_id", "vec_id", "rank")
            .collect()
        )
        corpus[f"trained_16,nprobe={nprobe}"] = {
            **score(got, vec_cell, probed_cells_map(vecs_fp, cent, nprobe)),
            "spark_sec": round(time.monotonic() - t0, 1),
        }

    # ---- planted lane --------------------------------------------
    planted_dir, _ = planted_fixture()
    p_emb = spark.read.parquet(
        os.path.join(planted_dir, "embeddings.parquet")
    ).select("vec_id", "embedding")
    p_fp = _ivfpq_fp(p_emb).localCheckpoint(eager=True)
    p_cent, p_cent_rows, _, p_cb_rows = _ivfpq_train(p_fp, "trained")
    # query = first partner of the first PLANTED_PER_BAND pairs per
    # band (u at id B + band_offset + 2i, partner at +1)
    bands: dict[str, list[int]] = {}
    base = PLANTED_BACKGROUND
    for lo, hi in PLANTED_BANDS:
        bands[f"[{lo},{hi})"] = [
            base + 2 * i for i in range(PLANTED_PER_BAND)
        ]
        base += 2 * PLANTED_PAIRS_PER_BAND
    all_q = [q for qs in bands.values() for q in qs]
    qfilter = F.col("vec_id").isin(all_q)

    def planted_score(got_rows) -> dict:
        by_q: dict[int, list[int]] = {}
        for r in sorted(got_rows, key=lambda r: (r["query_id"], r["rank"])):
            if r["vec_id"] != r["query_id"]:
                by_q.setdefault(int(r["query_id"]), []).append(
                    int(r["vec_id"])
                )
        out = {}
        for band, qs in bands.items():
            f5 = sum(1 for q in qs if q + 1 in by_q.get(q, [])[:5])
            f10 = sum(1 for q in qs if q + 1 in by_q.get(q, [])[:10])
            out[band] = {
                "found_at_5": round(f5 / len(qs), 4),
                "found_at_10": round(f10 / len(qs), 4),
            }
        return out

    planted: dict[str, dict] = {}
    for label, k_cent in (("mixer_4bit", 16), ("mixer_8bit", 256)):
        p_codes = _ivfpq_encode_arrow(
            p_emb, p_cent_rows, k_cent=k_cent
        ).localCheckpoint(eager=True)
        t0 = time.monotonic()
        got = (
            _ivfpq_probe_plan(
                p_fp, p_cent, p_codes,
                nprobe=PROD_NPROBE, k_cent=k_cent, topk=11,
                query_filter=qfilter,
            )
            .select("query_id", "vec_id", "rank")
            .collect()
        )
        planted[f"{label},nprobe={PROD_NPROBE}"] = {
            "found_by_band": planted_score(got),
            "spark_sec": round(time.monotonic() - t0, 1),
        }
    p_codes = _ivfpq_encode_arrow(
        p_emb, p_cent_rows, p_cb_rows
    ).localCheckpoint(eager=True)
    for nprobe in (PROD_NPROBE, 8):
        t0 = time.monotonic()
        got = (
            _ivfpq_probe_plan(
                p_fp, p_cent, p_codes, p_cb_rows,
                nprobe=nprobe, topk=11, query_filter=qfilter,
            )
            .select("query_id", "vec_id", "rank")
            .collect()
        )
        planted[f"trained_16,nprobe={nprobe}"] = {
            "found_by_band": planted_score(got),
            "spark_sec": round(time.monotonic() - t0, 1),
        }

    prod_mix = corpus[f"mixer_4bit,nprobe={PROD_NPROBE}"]
    prod_tr = corpus[f"trained_16,nprobe={PROD_NPROBE}"]
    full_tr = corpus["trained_16,nprobe=8"]
    pl_tr = planted[f"trained_16,nprobe={PROD_NPROBE}"]["found_by_band"]
    floors = {
        "corpus_production_mixer4_recall_at_5": {
            "floor": FLOORS["corpus_production_mixer4_recall_at_5"],
            "measured": prod_mix["recall_at_5"],
            "ok": prod_mix["recall_at_5"]
            >= FLOORS["corpus_production_mixer4_recall_at_5"],
        },
        "corpus_production_trained16_recall_at_5": {
            "floor": FLOORS["corpus_production_trained16_recall_at_5"],
            "measured": prod_tr["recall_at_5"],
            "ok": prod_tr["recall_at_5"]
            >= FLOORS["corpus_production_trained16_recall_at_5"],
        },
        "corpus_fullprobe_trained16_recall_at_5": {
            "floor": FLOORS["corpus_fullprobe_trained16_recall_at_5"],
            "measured": full_tr["recall_at_5"],
            "ok": full_tr["recall_at_5"]
            >= FLOORS["corpus_fullprobe_trained16_recall_at_5"],
        },
        "planted_trained16_found_at_5_band_09": {
            "floor": FLOORS["planted_trained16_found_at_5_band_09"],
            "measured": pl_tr["[0.9,0.95)"]["found_at_5"],
            "ok": pl_tr["[0.9,0.95)"]["found_at_5"]
            >= FLOORS["planted_trained16_found_at_5_band_09"],
        },
        "planted_trained16_found_at_5_band_06": {
            "floor": FLOORS["planted_trained16_found_at_5_band_06"],
            "measured": pl_tr["[0.6,0.7)"]["found_at_5"],
            "ok": pl_tr["[0.6,0.7)"]["found_at_5"]
            >= FLOORS["planted_trained16_found_at_5_band_06"],
        },
    }

    payload = {
        "metric": "ivfpq_recall_vs_exact_sql2_knn",
        "sf": 1.0,
        "n_vectors": int(len(ids)),
        "n_queries_corpus": len(truth),
        "exact_knn_sec": exact_sec,
        "covers": [
            "x47d_ivfpq_topk",
            "x47e_ivfpq_persisted (persisted ≡ in-flight pinned)",
            "stw_ivfpq_ingest (slicing-independent encode pinned)",
            "x47h_ivfpq_trained_residual (the trained_16 rows)",
        ],
        "production_config": (
            f"nprobe={PROD_NPROBE} of 8 cells; mixer 4-bit = what "
            "x47d/x47e ship, trained_16 = x47h (the r14 recall fix)"
        ),
        "corpus_lane": corpus,
        "planted_lane": {
            "fixture": (
                f"{len(PLANTED_BANDS)} bands x {PLANTED_PER_BAND} "
                "queried pairs (of 1200 planted), exact-by-construction "
                "cosine, 20k background unit vectors "
                "(tools/recall_lsh_sf1.planted_fixture)"
            ),
            "metric": "planted partner found in approx top-k",
            "families": planted,
        },
        "reading": (
            "the corpus is near-isotropic random unit vectors — the ANN "
            "worst case (top-5 margins are noise-level), so corpus rows "
            "are the adversarial floor / regression lane; nprobe=8 rows "
            "are pure PQ quantization loss, lower nprobe adds IVF "
            "cell-miss loss bounded by cell_coverage_at_5. The planted "
            "lane is the operating point: pairs with real signal "
            "(cos >= 0.6). Headline: the fixed mixer codebook is the "
            "bottleneck; training the residual codebook (x47h) is the "
            "recall lever at identical index geometry"
        ),
        "floors": floors,
        "passes_floor": all(f["ok"] for f in floors.values()),
    }
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "RECALL_IVFPQ_SF1.json"), "w") as fh:
        json.dump(payload, fh, indent=1)
        fh.write("\n")
    print(json.dumps(payload))
    if not payload["passes_floor"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
