"""Tests for the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys
import threading

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run as bench_run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _write(root: str, seed: int) -> dict:
    g = gen.Generator(os.path.join(root, "sf"), seed)
    g.write_base(300)
    g.append_delta(40)
    out = {}
    for name in sorted(os.listdir(g.events_dir)):
        with open(os.path.join(g.events_dir, name), "rb") as f:
            out[name] = f.read()
    return out


def test_generator_is_byte_identical_for_a_seed(tmp_path):
    a = _write(str(tmp_path / "a"), 7)
    b = _write(str(tmp_path / "b"), 7)
    assert list(a) == ["part-00000.parquet", "part-00001.parquet"]
    assert a == b


def test_generator_differs_across_seeds(tmp_path):
    a = _write(str(tmp_path / "a"), 7)
    b = _write(str(tmp_path / "b"), 8)
    assert all(a[k] != b[k] for k in a)


def test_generator_stream_shape(tmp_path):
    import pyarrow.parquet as pq
    g = gen.Generator(str(tmp_path / "sf"), 3)
    g.write_base(500)
    start, stop = g.append_delta(50)
    assert (start, stop) == (500, 550)
    t = pq.read_table(g.events_dir)
    ids = t.column("event_id").to_pylist()
    ts = t.column("ts").to_pylist()
    assert ids == list(range(1, 551))
    assert all(a < b for a, b in zip(ts, ts[1:]))  # arrival-ordered, no ties
    texts = [json.loads(p)["text"] for p in t.column("props").to_pylist()]
    assert texts == g.corpus.texts
    assert g.message_id(start) == "501"
    # a repeated-message share near the configured one
    assert 0.05 < g.corpus.dup_text_share < 0.35


@pytest.mark.parametrize("n", list(range(0, 40)) + [99, 100, 101, 200, 1000, 20000])
def test_tail_keeps_ten_samples_beyond(n):
    values = [float(i) for i in range(n)]
    p, v = workloads.tail(values)
    ladder = (50, 75, 90, 95, 99, 99.9)
    if p is None:
        assert v is None
        assert n - max(1, -(-50 * n // 100)) < 10
        return
    beyond = sum(1 for x in values if x > v)
    assert beyond >= 10
    higher = [q for q in ladder if q > p]
    if higher:
        # the next rung up would keep fewer than ten beyond it
        p2 = higher[0]
        rank = max(1, int(-(-p2 * n // 100)))
        assert n - rank < 10


def test_tail_picks_p90_at_100_samples():
    assert workloads.tail([float(i) for i in range(1, 101)]) == (90, 90.0)


def test_metric_names_and_benchmark_json_agree():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = [m["name"] for m in spec["end_to_end"]]
    layer = [m["name"] for m in spec["per_layer"]]
    assert e2e == list(bench_run.END_TO_END)
    assert layer == spans.per_layer_names()
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert NAME.fullmatch(m["name"]) and len(m["name"]) <= 64
    assert len(set(e2e + layer)) == len(e2e + layer)
    assert {m["unit"] for m in spec["end_to_end"]} >= {"s"}
    for m in spec["per_layer"]:
        assert m["unit"] == spans.per_layer_unit(m["name"])
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


class _Clock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now


def test_self_time_nested():
    clock = _Clock()
    tr = spans.Tracer(clock=clock)
    a = tr.begin("a")
    clock.now = 1.0
    b = tr.begin("b")
    clock.now = 2.0
    c = tr.begin("c")
    clock.now = 4.0
    tr.finish(c)
    clock.now = 5.0
    tr.finish(b)
    clock.now = 10.0
    tr.finish(a)
    assert (b.parent, c.parent) == (a, b)
    assert spans.self_time(a) == pytest.approx(6.0)   # 10 - [1, 5]
    assert spans.self_time(b) == pytest.approx(2.0)   # 4 - [2, 4]
    assert spans.self_time(c) == pytest.approx(2.0)


def test_self_time_thread_pool_children_overlap_once():
    clock = _Clock()
    tr = spans.Tracer(clock=clock)
    parent = tr.begin("parent")
    opened = {n: threading.Event() for n in "xy"}
    release = {n: threading.Event() for n in "xy"}
    closed = {n: threading.Event() for n in "xy"}
    legs = {}

    def leg(name):
        legs[name] = tr.begin(name)
        opened[name].set()
        release[name].wait(10)
        tr.finish(legs[name])
        closed[name].set()

    threads = {n: threading.Thread(target=leg, args=(n,)) for n in "xy"}
    # two pool legs on their own threads, overlapping in time:
    # x over [1, 5], y over [2, 6]
    for name, start in (("x", 1.0), ("y", 2.0)):
        clock.now = start
        threads[name].start()
        assert opened[name].wait(10)
    for name, end in (("x", 5.0), ("y", 6.0)):
        clock.now = end
        release[name].set()
        assert closed[name].wait(10)
    for t in threads.values():
        t.join(timeout=10)
        assert not t.is_alive()
    clock.now = 10.0
    tr.finish(parent)
    # both legs belong to the submitting call, not to each other
    assert legs["x"].parent is parent and legs["y"].parent is parent
    # covered by the legs: [1, 6] once, not 4 + 4
    assert spans.self_time(parent) == pytest.approx(5.0)
    assert spans.self_time(legs["y"]) == pytest.approx(4.0)


def test_covered_merges_and_clips():
    iv = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (8.0, 20.0)]
    assert spans.covered(iv, 1.0, 10.0) == pytest.approx(2.0 + 1.0 + 2.0)
    assert spans.covered([], 0.0, 1.0) == 0.0


def test_jobs_charge_the_innermost_open_span():
    clock = _Clock()
    tr = spans.Tracer(clock=clock)
    a = tr.begin("engine.search")
    clock.now = 1.0
    b = tr.begin("ann_index.search_index_many")
    clock.now = 3.0
    tr.finish(b)
    clock.now = 4.0
    tr.finish(a)
    jobs = [{"submit": 0.5, "task_s": 1.0}, {"submit": 2.0, "task_s": 2.0},
            {"submit": 2.5, "task_s": 0.5}, {"submit": 9.0, "task_s": 7.0}]
    got = tr.attribute_jobs(jobs)
    assert got == {"engine.search": [1, 1.0],
                   "ann_index.search_index_many": [2, 2.5]}


def test_read_event_log(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1500, "Stage IDs": [0, 1]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Launch Time": 1600, "Finish Time": 1850}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1600, "Finish Time": 1700}},
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 3000, "Stage IDs": [2]},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events))
    jobs = spans.read_event_log(str(tmp_path))
    assert jobs == [{"submit": 1.5, "task_s": pytest.approx(0.35)},
                    {"submit": 3.0, "task_s": 0.0}]


def test_install_wraps_and_restores():
    pytest.importorskip("pyspark")
    sys.path.insert(0, os.path.dirname(BENCH))
    from msg_vector_search_spark.engine import Engine
    from msg_vector_search_spark.operators import ann_index
    orig = (Engine.search, ann_index.search_index_many)
    tr = spans.Tracer()
    tr.install()
    try:
        assert Engine.search is not orig[0]
        assert ann_index.search_index_many is not orig[1]
    finally:
        tr.uninstall()
    assert (Engine.search, ann_index.search_index_many) == orig


def test_suspended_tracer_records_nothing():
    tr = spans.Tracer()
    f = tr.wrap("engine.search", lambda x: x + 1)
    tr.suspended = True
    assert f(1) == 2 and tr.spans == []
    tr.suspended = False
    assert f(1) == 2 and [s.name for s in tr.spans] == ["engine.search"]


def test_truth_topk_grid_ties_and_threshold_after_topk():
    import numpy as np

    import checks
    store = {"message_id": np.array(["b", "a", "c", "d"], dtype=object),
             "vec": np.array([[1.0, 0.0], [1.0, 0.0], [0.0, 1.0], [1.0, 1e-7]]),
             "conversation_type": np.array(["x", "y", "x", "x"], dtype=object),
             "session_id": np.array(["s", "s", "t", "s"], dtype=object)}
    # a and b tie exactly, d ties on the 6 dp grid: ids break the tie
    assert [m for m, _ in checks.truth_topk(store, [1.0, 0.0], 3)] == ["a", "b", "d"]
    # top-k first, then the threshold: c (sim 0) is cut by k, not replaced
    assert checks.truth_topk(store, [1.0, 0.0], 4, threshold=0.5) == [
        ("a", 1.0), ("b", 1.0), ("d", 1.0)]
    assert [m for m, _ in checks.truth_topk(
        store, [1.0, 0.0], 3, conversation_type="x", session_id="s")] == ["b", "d"]
    assert checks.recall(["a", "x"], [("a", 1.0), ("b", 1.0)]) == 0.5
    assert checks.recall([], []) == 1.0
    assert checks.same_ranking([{"message_id": "a", "sim": 1.0}], [("a", 1.0 - 1e-6)])
    assert not checks.same_ranking([{"message_id": "b", "sim": 1.0}], [("a", 1.0)])
