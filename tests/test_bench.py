"""bench.py: the lane table is consistent with the registry, the gate
line stays small, and the executor times fresh plans (a re-executed
DataFrame skips its shuffle map stage, which the profile would show)."""

from __future__ import annotations

import json
from collections import Counter

import bench
from tests.conftest import SF_DIR_T2
from pdf_etl_engine_spark import registry


def test_every_lane_query_is_registered():
    registry.load_all()
    for lane in bench.LANES:
        for key, query in lane.rows:
            assert query in registry.QUERIES, (lane.name, key, query)


def test_every_run_twin_has_an_oracle():
    registry.load_all()
    for lane in bench.LANES:
        for key, query in lane.rows:
            if lane.twin_of(query) == "run":
                assert query in registry.ORACLES, (lane.name, key, query)


def test_no_lane_repeats_a_key():
    pairs = Counter((lane.name, key) for lane in bench.LANES for key, _ in lane.rows)
    assert [p for p, n in pairs.items() if n > 1] == []
    assert len({lane.name for lane in bench.LANES}) == len(bench.LANES)


def test_gate_line_with_every_lane_filled_stays_under_1kb():
    def section(lane):
        return {"rows": {k: {"query": q, "spark_sec": 12345.6789} for k, q in lane.rows}}

    payload = {k: 12345.6789 for k in bench.GATE_KEYS}
    payload.update(metric="headline_queries_total_sec", unit="sec", load_compromised=False)
    payload.update({lane.name: section(lane) for lane in bench.LANES})
    payload["streaming"] = {"docs_per_sec": 12345.6, "stream_over_batch": 12345.67}
    line = bench.gate_line(payload)
    assert len(line) < 1024
    gate = json.loads(line)
    assert set(gate) == set(bench.GATE_KEYS) | {
        "queries", "streaming_docs_per_sec", "stream_over_batch", "full"
    }
    assert list(gate["queries"]) == [k for k, _ in bench.HEADLINE]


def test_executor_times_fresh_plans(spark, monkeypatch):
    from perfbench.layers import SparkCounters

    monkeypatch.setattr(bench, "QUIET_SPEND_CAP_S", 0.0)  # no load-gate waits

    rows = (("a2", "a2_groupby_pricing_summary"), ("x4j2", "x4j2_lsh_near_dup_colocated"))
    lane = bench.Lane("test", SF_DIR_T2, rows, 4, False, True, 2, "none", 1)
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    out = bench.run_lane(spark, SparkCounters(spark), lane, 600.0)
    assert spark.conf.get("spark.sql.shuffle.partitions") == prior
    assert out["skipped_over_budget"] == []
    for key, query in rows:
        entry = out["rows"][key]
        assert entry["query"] == query and "error" not in entry
        assert entry["timed_runs"] == len(entry["profiles"]) == 2
        for prof in entry["profiles"]:
            # both plans shuffle once: a reused DataFrame would run only
            # the reduce stage
            assert prof["exec.stages"] >= 2, (key, prof)
    assert all(p["python.bytes_sent"] > 0 for p in out["rows"]["x4j2"]["profiles"])
