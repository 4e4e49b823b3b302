"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # perfbench/
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))  # checkout root

import common  # noqa: E402
import datagen  # noqa: E402
import layers  # noqa: E402

# -- analytics reference -----------------------------------------------------


def test_reference_makes_the_cent_rounding_of_money_sums_exact():
    from pdf_etl_engine_spark import registry

    import analytics

    registry.load_all()
    rewritten = {
        q for _, q in analytics.HEADLINE
        if analytics.reference_sql(registry.ORACLES[q]) != registry.ORACLES[q]
    }
    assert rewritten == {"a2_groupby_pricing_summary", "j5_multiway_equi"}


def test_reference_rounds_an_exact_half_cent_up_where_the_oracle_does_not():
    import duckdb

    import analytics

    (frag, _), = analytics.EXACT_FRAGMENTS.items()
    sql = f"SELECT {frag} AS v FROM lineitem"
    con = duckdb.connect()
    # one line worth exactly 4420503619.4850 at scale 10^4
    con.execute("CREATE TABLE lineitem AS SELECT 4420503619.485::DOUBLE AS l_extendedprice,"
                " 0.0::DOUBLE AS l_discount")
    assert con.execute(sql).fetchone()[0] == 4420503619.48
    assert con.execute(analytics.reference_sql(sql)).fetchone()[0] == 4420503619.49


# -- percentile rule ---------------------------------------------------------


@pytest.mark.parametrize(
    "n, expected",
    [(0, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_reportable_percentile_keeps_ten_samples_beyond(n, expected):
    assert common.reportable_percentile(n) == expected


def test_reportable_percentile_is_the_highest_qualifying():
    for n in range(0, 2500, 7):
        p = common.reportable_percentile(n)
        if p is None:
            continue
        xs = list(range(n))

        def beyond(q):
            return n - 1 - common.percentile(xs, q)  # samples above it

        assert beyond(p) >= common.TAIL_SAMPLES
        higher = [q for q in common.PERCENTILES if q > p]
        assert all(beyond(q) < common.TAIL_SAMPLES for q in higher)


def test_nearest_rank_percentile():
    xs = list(range(100, 0, -1))  # unsorted input
    assert common.percentile(xs, 50) == 50
    assert common.percentile(xs, 90) == 90
    assert common.percentile(xs, 100) == 100
    assert common.percentile([7.0], 95) == 7.0
    with pytest.raises(ValueError):
        common.percentile([], 50)


def test_spread_matches_statistics_quantiles():
    s = common.spread([10.0, 11.0, 12.0, 13.0, 14.0])
    assert s["median"] == 12.0
    assert s["iqr_over_median"] == pytest.approx((s["q3"] - s["q1"]) / 12.0)


# -- failure counting --------------------------------------------------------


def test_tally_counts_attempted_and_failed():
    t = common.Tally()
    assert t.record(True) is True
    assert t.record(False, "bad digest") is False
    t.record(True)
    assert (t.attempted, t.failed) == (3, 1)
    t.fail("audit: missing row")  # after the fact: not a new attempt
    assert (t.attempted, t.failed) == (3, 2)
    assert t.reasons == ["bad digest", "audit: missing row"]


def test_tally_keeps_only_the_first_reasons():
    t = common.Tally()
    for i in range(20):
        t.record(False, f"r{i}")
    assert t.failed == 20 and len(t.reasons) == common.Tally.KEEP
    assert t.reasons[0] == "r0"


# -- result digests ----------------------------------------------------------


def test_digest_ignores_row_and_column_order():
    a = pd.DataFrame({"k": ["x", "y", None], "v": [1.5, 2.0, float("nan")]})
    b = a.iloc[::-1][["v", "k"]].reset_index(drop=True)
    assert common.frame_digest(a) == common.frame_digest(b)


def test_digest_normalises_like_oracle_parity():
    ints = pd.DataFrame({"n": pd.Series([1, 2], dtype="int32")})
    floats = pd.DataFrame({"n": [1.0, 2.0]})
    assert common.frame_digest(ints) == common.frame_digest(floats)
    near = pd.DataFrame({"n": [1.0 + 1e-15, 2.0]})
    assert common.frame_digest(near) == common.frame_digest(floats)
    off = pd.DataFrame({"n": [1.0 + 1e-9, 2.0]})
    assert common.frame_digest(off) != common.frame_digest(floats)


def test_digest_sees_duplicates_and_timestamp_units():
    one = pd.DataFrame({"k": [1, 2]})
    dup = pd.DataFrame({"k": [1, 2, 2]})
    assert common.frame_digest(one) != common.frame_digest(dup)
    ts = pd.Series(pd.to_datetime(["1996-09-13 00:00:00", "2001-01-02 03:04:05"]))
    ns = pd.DataFrame({"t": ts.astype("datetime64[ns]")})
    us = pd.DataFrame({"t": ts.astype("datetime64[us]")})
    assert common.frame_digest(ns) == common.frame_digest(us)


# -- seeded inputs -----------------------------------------------------------


def test_ingest_documents_are_seed_deterministic():
    a, b = datagen.IngestDocs(5), datagen.IngestDocs(5)
    for key in [(0, 0, 0), (3, 2, 4), (17, 3, 1)]:
        assert a.doc(*key) == b.doc(*key)
    other = datagen.IngestDocs(6)
    assert [other.doc(0, 0, j)["content"] for j in range(5)] != [
        a.doc(0, 0, j)["content"] for j in range(5)
    ]
    names = {a.doc(r, t, j)["filename"] for r in range(3) for t in range(4) for j in range(5)}
    assert len(names) == 60


def test_ingest_documents_carry_their_kpi_values():
    from pdf_etl_engine_spark.functions.pdftext import pdf_kpi_extractor

    for j in range(5):
        d = datagen.IngestDocs(11).doc(2, 1, j)
        got = pdf_kpi_extractor(d["content"], ["Total Amount ($)", "Status"], "")
        assert got["Status"] == d["status"]
        assert float(got["Total Amount ($)"].lstrip("$")) == d["amount"]


def test_tables_are_seed_deterministic():
    a = datagen.make_tables(3, ["customer", "events"])
    b = datagen.make_tables(3, ["events", "customer"])
    c = datagen.make_tables(4, ["events"])
    assert a["events"].equals(b["events"]) and a["customer"].equals(b["customer"])
    assert not a["events"].equals(c["events"])
    assert a["events"].num_rows == datagen.ROWS["events"]


def test_lineitem_order_line_is_a_key():
    # t1_results_topk orders by (l_shipdate, l_orderkey, l_linenumber)
    # and cuts at 100 rows: a duplicate key would make its answer, and
    # the oracle comparison, depend on tie order.
    li = datagen.make_tables(9, ["lineitem"])["lineitem"]
    keys = li.select(["l_orderkey", "l_linenumber"]).to_pandas()
    assert not keys.duplicated().any()
    assert 500_000 < li.num_rows < 700_000


# -- layer counters ----------------------------------------------------------


@pytest.mark.parametrize(
    "text, value",
    [("2.4 MiB", 2.4 * 2**20), ("361 ms", 361.0), ("1.2 s", 1200.0),
     ("60,000", 60000.0), ("0.0 B", 0.0),
     ("total (min, med, max (stageId: taskId))\n29 ms (3 ms, 6 ms, 14 ms (stage 5.0: task 9))", 29.0)],
)
def test_parse_metric(text, value):
    assert layers.parse_metric(text) == pytest.approx(value)


def test_tracer_totals_count_nested_spans_once():
    tr = layers.Tracer()
    tr.enabled = True
    tr.op = 1
    with tr.span("writers.read"):
        with tr.span("writers.inner"):
            pass
    with tr.span("pipeline.catalog.get"):
        pass
    t = tr.totals("writers.")
    assert t["calls"] == {1: 1}
    assert [s["parent"] for s in tr.spans] == [None, 0, None]
    tr.enabled = False
    with tr.span("writers.read"):
        pass
    assert len(tr.spans) == 3


# -- closed loop and metrics -------------------------------------------------


class _FakeCounters:
    def jvm_ms(self):
        return 0.0, 0.0

    def codegen_compiles(self):
        return 0

    def mark_sql(self):
        pass

    def peak_rss_mb(self):
        return 100.0


def _bench(trace: int, seconds: float = 0.0):
    import argparse

    import run

    b = run.Bench(argparse.Namespace(trace=trace, seconds=seconds, workload="x"), "")
    b.counters = _FakeCounters()
    return b


def _pass(traced, layers_=None):
    out = {"seconds": 1.0, "op_ms": [10.0, 20.0]}
    if traced:
        out["layers"] = dict(layers_ or {"exec.jobs": 3.0})
    return out


def test_traced_run_alternates_passes_and_extends_until_more_is_false():
    b = _bench(trace=1)
    seen = []

    def one_pass(traced):
        seen.append(traced)
        assert b.tracer.enabled == traced
        return _pass(traced)

    left = [3]  # ask for three passes past the window

    def more():
        left[0] -= 1
        return left[0] >= 0

    plain, traced = b.measure(one_pass, more=more)
    assert seen == [False, True, False, True, False]
    assert (len(plain), len(traced)) == (3, 2)
    assert b.record["traced_passes"] == 2


def test_untraced_run_reports_the_end_to_end_metrics():
    b = _bench(trace=0)
    plain, traced = b.measure(lambda traced: _pass(traced))
    assert traced == [] and len(plain) == 1
    m = b.metrics(plain, traced, 2, op_ms=14.1)
    assert common.with_units(m, common.E2E_UNITS)["ops_per_s"]["value"] == 2.0


def test_only_unreached_layers_read_zero():
    b = _bench(trace=1)
    plain = [_pass(False)]
    traced = [_pass(True)]
    unreached = [k for k in common.LAYER_UNITS if k not in ("exec.jobs", "trace.overhead_pct")]
    m = common.with_units(b.metrics(plain, traced, 2, op_ms=1.0, unreached=unreached),
                          common.LAYER_UNITS)
    assert m["exec.jobs"]["value"] == 3.0 and m["python.bytes_sent"]["value"] == 0.0
    # a reached layer that no pass measured fails the run
    with pytest.raises(KeyError, match="python.bytes_sent"):
        common.with_units(
            b.metrics(plain, traced, 2, op_ms=1.0,
                      unreached=[k for k in unreached if k != "python.bytes_sent"]),
            common.LAYER_UNITS,
        )
    # ... as does one measured in some traced passes only
    with pytest.raises(KeyError):
        b.metrics(plain, [_pass(True), _pass(True, {"plan.analysis_ms": 1.0})], 2,
                  op_ms=1.0, unreached=unreached)
