"""Tests for the benchmark harness's pure-Python parts: order statistics,
span self time, the oracle and its comparator, and the agreement between
BENCHMARK.json and the metrics the harness reports. No Spark needed.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
sys.path.insert(0, BENCH_DIR)

import oracle  # noqa: E402
import run  # noqa: E402
from measure import (  # noqa: E402
    Tracer,
    median,
    quartile_spread,
    rss_bytes,
    tree_cpu_seconds,
)


def test_median_odd_even_and_unsorted():
    assert median([3.0]) == 3.0
    assert median([5, 1, 3]) == 3
    assert median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_quartile_spread_uses_statistics_quantiles():
    values = [9.0, 10.0, 10.5, 11.0, 12.0, 10.2, 9.8, 10.1, 10.9, 10.4]
    q1, _, q3 = statistics.quantiles(values, n=4)
    assert quartile_spread(values) == pytest.approx((q3 - q1) / statistics.median(values))


class FakeClock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now


class CountingHooks:
    def __init__(self):
        self.calls = []

    def enter(self, name):
        self.calls.append(("enter", name))

    def exit(self, name):
        self.calls.append(("exit", name))
        return {"jobs": 1}


def test_span_self_time_subtracts_children():
    clock, hooks = FakeClock(), CountingHooks()
    tr = Tracer(hooks, clock=clock)
    tid = tr.new_trace()
    with tr.span("op"):
        clock.now = 1.0
        with tr.span("a"):
            clock.now = 3.0
            with tr.span("a.inner"):
                clock.now = 3.5
        with tr.span("b", diagnostic=True):
            clock.now = 6.0
        clock.now = 7.0
    spans = tr.by_name(tid)
    (op, op_self), = spans["op"]
    assert op.duration == 7.0
    assert op_self == pytest.approx(7.0 - 2.5 - 2.5)
    assert spans["a"][0][1] == pytest.approx(2.0)
    assert spans["a.inner"][0][1] == pytest.approx(0.5)
    assert spans["b"][0][0].diagnostic
    assert spans["a"][0][0].counts == {"jobs": 1}
    assert hooks.calls[:2] == [("enter", "op"), ("enter", "a")]


def test_self_time_counts_overlapping_children_once():
    clock = FakeClock()
    tr = Tracer(clock=clock)
    with tr.span("root"):
        clock.now = 10.0
    root = tr.spans[0]
    # two children recorded by hand that overlap on [2, 4]
    tr.spans.append(type(root)("x", 1.0, 4.0, parent=0))
    tr.spans.append(type(root)("y", 2.0, 6.0, parent=0))
    assert tr.self_times()[0] == pytest.approx(10.0 - 5.0)


def test_rss_bytes_sums_live_pids_and_skips_exited_ones():
    own = rss_bytes([os.getpid()])
    assert own > 0
    # pid 0 never has a /proc entry, like a process that has exited
    assert rss_bytes([os.getpid(), 0]) == pytest.approx(own, rel=0.2)


def test_tree_cpu_seconds_sums_roots_and_descendants_only():
    # pid -> (parent, CPU seconds): 10 is a root with a child 11 and a
    # grandchild 12; 20 is unrelated; root 99 has no entry (exited)
    table = {10: (1, 1.5), 11: (10, 2.0), 12: (11, 0.25), 20: (1, 7.0), 21: (20, 3.0)}
    assert tree_cpu_seconds([10, 99], table) == pytest.approx(3.75)
    assert tree_cpu_seconds([11], table) == pytest.approx(2.25)
    assert tree_cpu_seconds([os.getpid()]) > 0


def _key(metric, ws, attrs=()):
    return (metric, ws, oracle._res("E1"), frozenset(attrs))


def test_compare_points_accepts_equal_and_reordered_float_sums():
    want = {_key("requests", 60, {("http.status_code", "2xx")}): (3,),
            _key("bytes", 60): (0.1 + 0.2 + 0.3,)}
    got = {_key("requests", 60, {("http.status_code", "2xx")}): (3,),
           _key("bytes", 60): (0.3 + 0.2 + 0.1,)}
    assert oracle.compare_points(want, got) == []


def test_compare_points_reports_hand_built_mismatch():
    hist = (2, 150.0, 50.0, 100.0, (0, 1, 1))
    want = {_key("requests", 60): (3,), _key("requests", 120): (1,),
            _key("request_time", 60): hist}
    got = {_key("requests", 60): (4,), _key("requests", 180): (1,),
           _key("request_time", 60): hist[:4] + ((0, 2, 0),)}
    problems = oracle.compare_points(want, got)
    assert any(p.startswith("missing") and "120" in p for p in problems)
    assert any(p.startswith("unexpected") and "180" in p for p in problems)
    assert sum(p.startswith("value") for p in problems) == 2


def test_combine_merges_stream_rows_of_one_key():
    a = (2, 10.0, 1.0, 9.0, (1, 1))
    b = (1, 5.0, 0.5, 5.0, (1, 0))
    assert oracle._combine(a, b) == (3, 15.0, 0.5, 9.0, (2, 1))
    assert oracle._combine((2,), (3,)) == (5,)


def test_expected_points_from_hand_written_lines(tmp_path):
    pa = pytest.importorskip("pyarrow")
    pq = pytest.importorskip("pyarrow.parquet")

    def line(ts, nbytes, uri, status, taken):
        date, time_ = ts.split(" ")
        fields = ["-"] * 33
        fields[0], fields[1], fields[3] = date, time_, str(nbytes)
        fields[7], fields[8], fields[18] = uri, str(status), str(taken)
        return "\t".join(fields)

    src = "logs/EDIST.2024-03-01-00.abc.gz"
    lines = [line("2024-03-01 00:00:10", 100, "/api/v1/x", 200, 0.004),
             line("2024-03-01 00:00:50", 50, "/", 502, 0.2),
             line("2024-03-01 00:01:00", 7, "/favicon.ico", 200, 20.0)]
    d = tmp_path / "lines"
    d.mkdir()
    pq.write_table(pa.table({"doc_id": ["a", "b", "c"], "line": lines,
                             "source": [src] * 3}), d / "part-0.parquet")
    pts = oracle.expected_points(str(d))
    res = frozenset({("service.name", "Amazon CloudFront"),
                     ("aws.cloudfront.distribution_id", "EDIST")})
    m0 = 1709251200  # 2024-03-01T00:00:00Z
    code = "http.status_code"
    assert pts[("requests", m0, res, frozenset({(code, "2xx")}))] == (1,)
    assert pts[("requests", m0, res, frozenset({(code, "5xx")}))] == (1,)
    assert pts[("bytes", m0 + 60, res, frozenset({(code, "2xx")}))] == (7.0,)
    assert pts[("by_origin", m0, res, frozenset({("origin", "app")}))] == (1,)
    assert pts[("by_origin", m0 + 60, res, frozenset({("origin", "static")}))] == (1,)
    n, s, lo, hi, buckets = pts[("request_time", m0, res, frozenset())]
    assert (n, lo, hi) == (2, 4.0, 200.0)
    assert s == pytest.approx(204.0)
    # bounds 0,5,10,...: 4 ms lands in [0,5), 200 ms in [100,250)
    assert buckets[1] == 1 and buckets[7] == 1 and sum(buckets) == 2
    # 20 s lands in the overflow bucket [10000, +inf)
    assert pts[("request_time", m0 + 60, res, frozenset())][4][-1] == 1
    assert len(pts) == 11


def test_benchmark_json_names_match_harness():
    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    import workloads

    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    for w in spec["workloads"]:
        assert ({m["name"]: m["unit"] for m in spec["per_layer"]}
                == run.per_layer_units(w["name"]))


def test_corpus_reports_only_corpus_layer_metrics():
    units = run.per_layer_units("corpus")
    assert "corpus.near_dedup_s" in units and "corpus.jobs" in units
    assert "session.start_s" in units and "trace.overhead_s" in units
    assert not any(k.startswith(("scan.", "stream.", "export.")) for k in units)
