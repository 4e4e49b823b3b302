"""X14b: LSH-edge connected components vs the exact x14 baseline.

x14 and x14b run the one star-rewrite engine (connected_components);
they differ only in their edge source — x14's exact O(n²) cosine
join, x14b's fused LSH kernel. Three pins (VERDICT r2 next-round #3):
1. the star-rewrite CC engine is exact on a handcrafted graph whose
   diameter forces multiple alternation rounds;
2. x14b's edge generation is the fused LSH group kernel and plans
   with NO cartesian product (the exact x14's O(n²) pair join is the
   disclosed oracle baseline, not the scale path);
3. on sf0.01, x14b components are a strict refinement of x14
   components (LSH edges are a rescored subset of exact edges) and
   reproduce them near-exactly at the measured ≥0.94 edge recall.
"""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F

from pdf_etl_engine_spark import registry
from pdf_etl_engine_spark.operators import extensions
from pdf_etl_engine_spark.operators.extensions import connected_components

registry.load_all()

SF_DIR = os.environ.get("SPARK_GRAFT_T2_SF_DIR", "/root/testdata/sf0.01")


@pytest.mark.slow
def test_star_cc_exact_on_handcrafted_graph(spark):
    """Chain of 8 (multi-round convergence), a triangle, one isolated
    vertex, and a 2-node component — exact component minimums."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)]  # chain 1..8
        + [(20, 21), (21, 22), (20, 22)]  # triangle
        + [(40, 41)],  # pair
        "src INT, dst INT",
    )
    vertices = spark.createDataFrame(
        [(v,) for v in list(range(1, 9)) + [20, 21, 22, 30, 40, 41]],
        "vec_id INT",
    )
    got = {
        (r["vec_id"], r["component"])
        for r in connected_components(vertices, edges).collect()
    }
    want = {(v, 1) for v in range(1, 9)} | {
        (20, 20), (21, 20), (22, 20), (30, 30), (40, 40), (41, 40),
    }
    assert got == want


@pytest.mark.slow
def test_x14b_edge_gen_has_no_cartesian_product(spark, monkeypatch):
    """The plans x14b itself builds: the edge relation it hands to
    connected_components, and the clustering it returns."""
    edges = []

    def spy(vertices, e, *args, **kwargs):
        edges.append(e)
        return connected_components(vertices, e, *args, **kwargs)

    monkeypatch.setattr(extensions, "connected_components", spy)
    out = registry.QUERIES["x14b_dedup_clusters_lsh"](spark, SF_DIR)
    assert len(edges) == 1
    edge_plan, out_plan = (
        df._jdf.queryExecution().executedPlan().toString()
        for df in (edges[0], out)
    )
    assert "FlatMapGroupsInPandas" in edge_plan, edge_plan  # fused kernel
    for plan in (edge_plan, out_plan):
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan


@pytest.mark.slow
def test_x14b_components_match_exact_x14(spark):
    exact = {
        r["vec_id"]: r["component"]
        for r in registry.QUERIES["x14_dedup_clusters"](spark, SF_DIR).collect()
    }
    approx = {
        r["vec_id"]: r["component"]
        for r in registry.QUERIES["x14b_dedup_clusters_lsh"](
            spark, SF_DIR
        ).collect()
    }
    assert set(exact) == set(approx)

    # refinement: every x14b cluster sits inside ONE exact cluster
    # (guaranteed by edge-subset-ness; violation = CC bug)
    by_approx: dict[int, set[int]] = {}
    for vid, comp in approx.items():
        by_approx.setdefault(comp, set()).add(vid)
    for members in by_approx.values():
        assert len({exact[v] for v in members}) == 1

    # near-equality at the measured edge recall: the fraction of
    # vertices whose full cluster is reproduced exactly
    by_exact: dict[int, set[int]] = {}
    for vid, comp in exact.items():
        by_exact.setdefault(comp, set()).add(vid)
    reproduced = sum(
        len(m) for c, m in by_approx.items() if by_exact.get(exact[c]) == m
    )
    assert reproduced / len(exact) >= 0.8


def test_keep_best_picks_longest_not_min_id(spark, tmp_path):
    """x55's selection policy: within a near-dup cluster the
    representative is the LONGEST member (tie → min doc_id), not the
    min-id member — pinned on a crafted corpus where the longer
    capture has the higher id, plus a singleton and an exact-tie
    pair."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, "en", base),                      # cluster {1,2}: 2 is longer
        (2, "en", base + " lambda mu"),
        (7, "en", "totally unrelated text about something else entirely"),
        (10, "en", "one two three four five six seven eight nine ten"),
        (11, "en", "one two three four five six seven eight nine ten"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    d = str(tmp_path / "kb")
    df.coalesce(1).write.parquet(f"{d}/documents.parquet")
    out = {
        r["component"]: (r["rep_doc_id"], r["n_members"])
        for r in registry.QUERIES["x55_cluster_keep_best"](spark, d).collect()
    }
    assert out[1] == (2, 2)    # longer wins despite higher id
    assert out[7] == (7, 1)    # singleton passes through
    assert out[10] == (10, 2)  # exact tie -> min doc_id


def test_keep_best_edge_join_is_hash_not_cartesian(spark):
    """x55's candidate generation must plan as an equi-join on the
    gram key (blocking), never a nested-loop/cartesian over the
    corpus."""
    df = registry.QUERIES["x55_cluster_keep_best"](spark, SF_DIR)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_prefix_variant_equals_exact_keep_best(spark):
    """x55b (prefix-filtered candidates) must return exactly x55's
    rows — the filter may only drop candidate PAIRS that provably
    cannot pass the Jaccard test, never edges."""
    a = sorted(
        map(tuple, registry.QUERIES["x55_cluster_keep_best"](spark, SF_DIR).collect())
    )
    b = sorted(
        map(tuple, registry.QUERIES["x55b_keep_best_prefix"](spark, SF_DIR).collect())
    )
    assert a == b and len(a) > 0


def test_prefix_filter_lemma_property():
    """Property (hypothesis): for ANY two gram sets with
    J ≥ 0.5, their ⌊|x|/2⌋+1 prefixes under ANY shared total order
    intersect — the completeness lemma x55b's candidate pruning
    rests on."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(
        a=st.sets(st.integers(0, 40), min_size=1, max_size=20),
        b=st.sets(st.integers(0, 40), min_size=1, max_size=20),
        seed=st.integers(0, 10_000),
    )
    def run(a, b, seed):
        import random

        inter = len(a & b)
        union = len(a | b)
        if 2 * inter < union:  # J < 0.5: lemma makes no claim
            return
        order = list(range(41))
        random.Random(seed).shuffle(order)
        rank = {v: i for i, v in enumerate(order)}
        pa = set(sorted(a, key=rank.get)[: len(a) // 2 + 1])
        pb = set(sorted(b, key=rank.get)[: len(b) // 2 + 1])
        assert pa & pb, (sorted(a), sorted(b), order)

    run()


def test_x55b_sf1_oracle_override_matches_graded_spec():
    """ADVICE r14: tools/sf1_parity.py swaps x55b's registered
    quadratic DuckDB oracle for a gram-join formulation at sf1; the
    two formulations' value-identity was only asserted in a comment.
    Bind the override to the graded spec: both run at the sf0.01
    grading scale on the same DuckDB views and must be row-identical,
    so an edit that drifts _X55B_SF1_ORACLE from the registered
    oracle fails HERE instead of silently weakening the sf1 sweep."""
    import duckdb

    from tools.sf1_parity import SF1_ORACLE_OVERRIDE

    con = duckdb.connect()
    for t in ("documents",):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'/root/testdata/sf0.01/{t}.parquet'"
        )
    graded = con.execute(
        registry.ORACLES["x55b_keep_best_prefix"]
    ).fetchall()
    override = con.execute(
        SF1_ORACLE_OVERRIDE["x55b_keep_best_prefix"]
    ).fetchall()
    assert sorted(graded) == sorted(override)
    assert len(graded) > 0


def test_positional_filter_property():
    """Property (hypothesis): for ANY two gram sets with J ≥ 0.5 and
    ANY shared total order, the pair's globally-FIRST shared element
    e₁ lies inside both ⌊|x|/2⌋+1 prefixes AND its occurrence passes
    the PPJoin size + positional filters x55b applies in the
    candidate join — so the filters can only drop occurrences of
    pairs that keep another surviving occurrence, never a true pair.
    (Overlap elements are order-aligned in both docs, so at e₁ the
    remaining-capacity bound 1 + min(|a|−ra, |b|−rb) ≥ |∩| ≥ t
    holds, with t = ⌈(|a|+|b|)/3⌉ the minimum overlap J ≥ 0.5
    forces.)"""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(
        a=st.sets(st.integers(0, 40), min_size=1, max_size=20),
        b=st.sets(st.integers(0, 40), min_size=1, max_size=20),
        seed=st.integers(0, 10_000),
    )
    def run(a, b, seed):
        import random

        inter = len(a & b)
        union = len(a | b)
        if 2 * inter < union:  # J < 0.5: filters make no claim
            return
        order = list(range(41))
        random.Random(seed).shuffle(order)
        rank = {v: i for i, v in enumerate(order)}
        sa, sb = sorted(a, key=rank.get), sorted(b, key=rank.get)
        sza, szb = len(a), len(b)
        # size filter must hold for every true pair
        assert 2 * min(sza, szb) >= max(sza, szb)
        e1 = min(a & b, key=rank.get)
        ra, rb = sa.index(e1) + 1, sb.index(e1) + 1  # 1-based ranks
        # e1 is inside both prefixes
        assert ra <= sza // 2 + 1 and rb <= szb // 2 + 1
        # and its occurrence passes the positional filter
        t = (sza + szb + 2) // 3  # = ceil((sza+szb)/3)
        assert 1 + min(sza - ra, szb - rb) >= t, (sorted(a), sorted(b))

    run()
