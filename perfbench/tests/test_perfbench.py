"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
from harness import Runner, harrell_davis_median, nearest_rank, tail_percentile  # noqa: E402
from spans import Span, Tracer, parse_metric, self_times  # noqa: E402
from workloads import WORKLOADS, Workload  # noqa: E402

with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
    SPEC = json.load(f)


# --- generator (inputs derived from the sf0.001 test tables) -------------------

@pytest.fixture(scope="module")
def base():
    return gen.base_tables()


def test_same_seed_same_rows(base):
    for name in gen.TABLES:
        a = gen.derive(base[name], name, 3, seed=7)
        assert a.equals(gen.derive(base[name], name, 3, seed=7)), name


def test_other_seed_other_files_same_size(base, tmp_path):
    for name in gen.TABLES:
        a = gen.derive(base[name], name, 3, seed=7)
        b = gen.derive(base[name], name, 3, seed=8)
        assert a.num_rows == b.num_rows == 3 * base[name].num_rows
        assert not a.equals(b), name
        # the seed reorders rows; the key space stays the same
        key = gen.KEYS[name]
        assert sorted(a[key].to_pylist()) == sorted(b[key].to_pylist())
    ca = gen.generate(str(tmp_path / "a"), 7, 3, gen.TABLES)
    cb = gen.generate(str(tmp_path / "b"), 8, 3, gen.TABLES)
    assert ca == cb


def test_replicas_offset_keys(base):
    d = gen.derive(base["documents"], "documents", 2, seed=1)
    n = base["documents"].num_rows
    assert sorted(d["doc_id"].to_pylist()) == list(range(2 * n))


def test_seed_picks_suffixed_documents(base):
    def suffixed(seed):
        texts = gen.derive(base["documents"], "documents", 3, seed)["text"]
        return sorted(t for t in texts.to_pylist() if t.endswith((" v1", " v2")))

    assert suffixed(1) == suffixed(1)
    assert suffixed(1) != suffixed(2)
    half = base["documents"].num_rows // 2
    assert len(suffixed(1)) == len(suffixed(2)) == 2 * half


def test_seed_picks_embedding_shift(base):
    def replica1(seed):
        t = gen.derive(base["embeddings"], "embeddings", 2, seed)
        n = base["embeddings"].num_rows
        return sorted((r["vec_id"], r["embedding"][0]) for r in t.to_pylist()
                      if r["vec_id"] >= n)

    assert replica1(1) == replica1(1)
    assert replica1(1) != replica1(2)


# --- error accounting ---------------------------------------------------------

class FakeFrame:
    def __init__(self, rows):
        self.columns = ["x"]
        self.rows = rows


def _multiset(cols, rows):
    return sorted(repr(r) for r in rows)


def _ok(spark, data_dir):
    time.sleep(0.01)
    return FakeFrame([(1,), (2,)])


def _wrong(spark, data_dir):
    time.sleep(0.01)
    return FakeFrame([(1,), (3,)])


def _raises(spark, data_dir):
    raise RuntimeError("boom")


def _run(queries: dict) -> Runner:
    registry = {name: (fn, None) for name, fn in queries.items()}
    wl = Workload("fake", tuple(queries), ("t",), 1, nominal_pass_s=1.0)
    expected = {name: _multiset(None, [(1,), (2,)]) for name in queries}
    runner = Runner(None, wl, "unused", expected, registry, _multiset,
                    gather=lambda df: df.rows, load_table=None, tracer=Tracer(False))
    runner.untimed_pass("session.warmup")
    runner.timed_passes(3, seed=1, row_counts={})
    return runner


def test_failures_raise_error_rate_and_lower_throughput():
    good = _run({"a": _ok, "b": _ok})
    bad = _run({"a": _ok, "b": _wrong, "c": _raises})
    g, _ = good.end_to_end(1.0, 1.0)
    b, info = bad.end_to_end(1.0, 1.0)
    assert good.counts() == (8, 0)
    # both failing queries fail in the untimed pass and every timed pass
    assert bad.counts() == (12, 8) and info["failed"] == 8
    assert b["error_rate"][0] > g["error_rate"][0] > 0
    assert b["throughput_qpm"][0] < g["throughput_qpm"][0]
    phases = {(f["query"], f["phase"]) for f in bad.failures}
    assert phases == {(q, p) for q in "bc" for p in ("untimed", "timed")}
    assert any("first diff" in f["error"] for f in bad.failures)
    assert any("RuntimeError: boom" in f["error"] for f in bad.failures)


def _slow(spark, data_dir):
    time.sleep(0.05)
    return FakeFrame([(1,), (2,)])


def test_tail_is_the_slowest_query_median():
    runner = _run({"a": _ok, "b": _ok, "slow": _slow})
    metrics, info = runner.end_to_end(1.0, 1.0)
    assert info["tail_query"] == "slow"
    assert metrics["query_s_tail"][0] == runner.per_query_medians()["slow"]
    assert metrics["query_s_tail"][0] > metrics["query_s_p50"][0]


def test_harrell_davis_median():
    assert harrell_davis_median([2.0] * 7) == pytest.approx(2.0)
    assert harrell_davis_median([1.0, 2.0, 3.0, 10.0, 11.0, 12.0]) == pytest.approx(6.5)
    # two clusters with a gap at the middle: the sample median is set by
    # the two values next to the gap, this estimate by all of them
    low, high = [1.0, 1.1, 1.2], [3.0, 3.1, 3.2]
    moved = harrell_davis_median(low[:2] + [1.8] + high)
    assert statistics.median(low[:2] + [1.8] + high) - statistics.median(low + high) == pytest.approx(0.3)
    assert 0 < moved - harrell_davis_median(low + high) < 0.3


# --- names match BENCHMARK.json -------------------------------------------------

def test_workload_names_match():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)


def test_end_to_end_names_and_units_match():
    metrics, _ = _run({"a": _ok}).end_to_end(1.0, 1.0)
    assert {k: u for k, (_, u) in metrics.items()} == {
        m["name"]: m["unit"] for m in SPEC["end_to_end"]}


def test_per_layer_names_and_units_match():
    queries = {name: _ok for w in WORKLOADS.values() for name in w.queries}
    runner = _run(queries)
    layers = dict(build_s=0.1, build_jobs=1, gather_s=0.1, gather_driver_s=0.01,
                  result_rows=2, jobs=2, stages=3, tasks=8, run_s=0.1, cpu_s=0.1,
                  shuffle_write_b=1.0, shuffle_read_b=1.0, spill_b=0.0, gc_s=0.0,
                  read_s=0.01, python=dict(nodes=1, start_s=0.1, run_s=0.1,
                                           sent_b=1.0, returned_b=1.0))
    for e in runner.executions:
        e.layers = layers
    runner.scans.append((0.5, 100))
    all_queries = list(queries)
    registry = {n: (_named(n), None) for n in all_queries}
    runner.registry = registry
    metrics = runner.per_layer(1.0, 2.0, all_queries)
    assert {k: u for k, (_, u) in metrics.items()} == {
        m["name"]: m["unit"] for m in SPEC["per_layer"]}


def _named(query: str):
    """A stand-in builder that claims the engine module owning ``query``."""
    module = next(m["name"][: -len(f".{query}_s")] for m in SPEC["per_layer"]
                  if m["name"].endswith(f".{query}_s"))
    fn = lambda spark, d: None  # noqa: E731
    fn.__module__ = "map_reduce_engine_cdps_spark." + module
    return fn


# --- tracing ------------------------------------------------------------------

def test_self_time_on_hand_built_tree():
    # query [0, 10] -> build [1, 4], gather [3, 9] (overlapping children),
    # gather -> jobs [5, 7]; scan [20, 22] has no parent.
    spans = [
        Span("query", 0.0, 10.0),
        Span("build", 1.0, 4.0, parent=0),
        Span("gather", 3.0, 9.0, parent=0),
        Span("job", 5.0, 7.0, parent=2),
        Span("scan", 20.0, 22.0),
    ]
    assert self_times(spans) == pytest.approx([2.0, 3.0, 4.0, 2.0, 2.0])


def test_child_outside_parent_is_clipped():
    spans = [Span("p", 0.0, 4.0), Span("c", 3.0, 6.0, parent=0)]
    assert self_times(spans) == pytest.approx([3.0, 3.0])


def test_tracer_nests_and_disabled_records_nothing():
    t = Tracer(True)
    with t.span("query"):
        with t.span("build"):
            pass
    assert [(s.name, s.parent) for s in t.spans] == [("query", None), ("build", 0)]
    off = Tracer(False)
    with off.span("query"):
        pass
    assert off.spans == []


def test_parse_metric():
    assert parse_metric("1.8 s") == pytest.approx(1.8)
    assert parse_metric("151.6 KiB") == pytest.approx(151.6 * 1024)
    assert parse_metric("1,024") == 1024
    text = "total (min, med, max (stageId: taskId))\n2.0 s (0 ms, 1.0 s, 1.0 s (stage 3.0: task 7))"
    assert parse_metric(text) == pytest.approx(2.0)


def test_tail_percentile_keeps_ten_samples_above():
    for n in (11, 14, 20, 28, 100, 1000):
        p = tail_percentile(n)
        vals = list(range(n))
        assert sum(v > nearest_rank(vals, p) for v in vals) >= 10
        assert sum(v > nearest_rank(vals, p + 1) for v in vals) < 10
