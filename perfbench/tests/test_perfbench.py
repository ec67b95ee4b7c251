"""Tests of the benchmark itself: generators, ground truth, span
arithmetic, percentile and ladder rules, and the metric tables.

    python3 -m pytest perfbench/tests -q

The ground-truth test starts a local Spark session (about half a minute).
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402
import tracing as T  # noqa: E402
from workloads import WORKLOADS, BatchWorkload, rung_passes  # noqa: E402


# ---------------------------------------------------------------------------
# generators
# ---------------------------------------------------------------------------


def test_log_pool_is_a_function_of_seed():
    a = gen.log_pool(gen.MIXED, 5, 300)
    b = gen.log_pool(gen.MIXED, 5, 300)
    c = gen.log_pool(gen.MIXED, 6, 300)
    assert a == b
    assert [p.line for p in a] != [p.line for p in c]


def test_mixed_pool_covers_every_category():
    cats = Counter(p.category for p in gen.log_pool(gen.MIXED, 1, 3000))
    for cat in ("ok", "malformed", "non_object", "bad_ts", "missing_ts",
                "missing_msg", "missing_level", "blank"):
        assert cats[cat] > 0, cat


def digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def test_batch_inputs_are_a_function_of_seed(tmp_path):
    def files(seed, sub):
        wl = BatchWorkload(seed, str(tmp_path / sub), T.Tracer("t"))
        wl.prepare()
        return sorted(glob.glob(os.path.join(wl.cache_dir, "main", "*.jsonl"))), wl.truth

    fa, ta = files(4, "a")
    fb, tb = files(4, "b")
    fc, _ = files(5, "c")
    assert len(fa) == BatchWorkload.n_files
    assert digest(fa) == digest(fb) and ta == tb
    assert digest(fa) != digest(fc)


def test_sample_truth_counts_multiplicity():
    pool = gen.log_pool(gen.MIXED, 2, 50)
    picks = [0, 0, 1, 2, 2, 2]
    t = gen.sample_truth(pool, picks)
    assert sum(t.categories.values()) == len(picks)
    c = t.counters()
    assert c["total_lines"] == c["json_parsed"] + c["json_failed"]
    assert c["json_parsed"] == c["normalized_ok"] + c["normalized_failed"]
    assert c["normalized_ok"] == c["written_ok"] + c["filtered_by_level"]
    assert sum(t.written.values()) == c["written_ok"]
    assert sum(t.dlq.values()) == c["json_failed"] + c["normalized_failed"]


def test_expected_outcome_alias_and_padding_rules():
    obj = {"ts": " ", "time": "\t2025-01-02T03:04:05.120+01:00 ", "severity": " warn",
           "message": "hi ", "app": "svc", "kubernetes": {"namespace_name": " ns ",
           "pod_name": "p", "node_name": ""}, "hostname": " h1 ", "trace": 7,
           "user_email": "x", "n": {"b": 1, "a": [1, 2.5]}}
    rec, err = gen.expected_outcome(obj, gen.MIXED)
    assert err is None
    assert rec["TS"] == "2025-01-02T02:04:05.12Z"
    assert (rec["Level"], rec["Message"], rec["Service"]) == ("WARN", "hi", "svc")
    assert (rec["Namespace"], rec["Pod"], rec["Node"]) == (" ns ", "p", "h1")
    assert rec["TraceID"] == ""
    assert rec["Fields"] == {"n": '{"a":[1,2.5],"b":1}'}
    _, err = gen.expected_outcome({"ts": "2025-13-01T00:00:00Z", "msg": "m", "level": "x"},
                                  gen.MIXED)
    assert err == 'invalid timestamp "2025-13-01T00:00:00Z": expected RFC3339'


# ---------------------------------------------------------------------------
# span arithmetic, percentiles, ladder rule
# ---------------------------------------------------------------------------


def _span(name, start, end, parent=None):
    return T.Span(name, start, end, parent, "r")


def test_self_time_subtracts_covered_child_intervals():
    spans = [
        _span("call", 0.0, 10.0),
        _span("a", 1.0, 4.0, 0),
        _span("b", 3.0, 6.0, 0),      # overlaps a: union 1..6
        _span("c", 8.0, 12.0, 0),     # runs past the parent: clipped to 8..10
        _span("leaf", 1.5, 2.0, 1),
    ]
    st = T.self_times(spans)
    assert st["call"] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st["a"] == pytest.approx(3.0 - 0.5)
    assert st["b"] == pytest.approx(3.0)
    assert st["leaf"] == pytest.approx(0.5)


def test_prefix_self_times_are_differences():
    st = T.prefix_self_times(["read", "parse", "write"], [1.0, 3.5, 4.0])
    assert st == pytest.approx({"read": 1.0, "parse": 2.5, "write": 0.5})


def test_tracer_records_parents_and_its_own_overhead():
    tr = T.Tracer("r")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert [s.parent for s in tr.spans] == [None, 0]
    assert all(s.end >= s.start for s in tr.spans)
    assert tr.overhead_s > 0
    off = T.Tracer("r", enabled=False)
    with off.span("x"):
        pass
    assert off.spans == [] and off.overhead_s == 0


def test_tail_is_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(1, 101)]
    assert T.tail(xs) == (90.0, 90.0)
    assert T.tail(xs[:50]) == (80.0, 40.0)
    assert T.tail(xs[:30]) is None
    assert T.tail([float(i) for i in range(1000)]) == (99.0, 989.0)


def test_rung_passes_on_flat_latencies():
    assert rung_passes([1.5, 1.7, 1.6, 1.4] * 10)


def test_rung_fails_when_tail_exceeds_limit():
    assert not rung_passes([1.0] * 30 + [6.0] * 12)


def test_rung_fails_when_backlog_grows():
    growing = [1.0 + 0.1 * i for i in range(40)]       # 1.0 .. 4.9 s, all under 5 s
    assert max(growing) < 5.0
    assert not rung_passes(growing)


def test_rung_fails_without_samples():
    assert not rung_passes([])


# ---------------------------------------------------------------------------
# metric tables
# ---------------------------------------------------------------------------


def test_benchmark_json_matches_metric_tables():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)


# ---------------------------------------------------------------------------
# ground truth against the program
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    sys.path.insert(0, ROOT)
    from k8s_log_etl_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[2]",
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_ground_truth_matches_run_batch(spark, tmp_path):
    class Tiny(BatchWorkload):
        n_lines = 600
        n_files = 5
        n_warm = 50
        pool_size = 400

    wl = Tiny(11, str(tmp_path), T.Tracer("t"))
    wl.prepare()
    assert wl.truth["main"]["counters"]["json_failed"] > 0
    assert wl.truth["main"]["counters"]["normalized_failed"] > 0
    _, failed, rep = wl.call(spark)
    assert failed == 0
    assert rep.written_ok == wl.truth["main"]["counters"]["written_ok"]
    assert wl.oracle_failures() == 0
