"""Unit tests of the benchmark harness itself (no Spark):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

import json
import os
import subprocess
import sys
import time

import pytest

from perfbench import gen, metrics
from perfbench.trace import Span, Tracer, covered, read_event_log, self_times
from perfbench.workloads import PARAMS, tail

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORDS = ["spark", "merge", "join", "hash", "window", "the", "a"]


def _bytes(path):
    return {f: open(os.path.join(path, f), "rb").read()
            for f in sorted(os.listdir(path))}


def _spec(seed):
    return gen.open_model_spec(seed, n_words=10000, n_topics=5, n_names=60)


@pytest.mark.parametrize("make", [
    lambda seed: gen.dense_docs(seed, 200, 50, WORDS),
    lambda seed: gen.spans_docs(seed, 40, 120, _spec(seed)),
])
def test_same_seed_same_bytes(tmp_path, make):
    gen.write_docs(make(7), str(tmp_path / "a"))
    gen.write_docs(make(7), str(tmp_path / "b"))
    a, b = _bytes(tmp_path / "a"), _bytes(tmp_path / "b")
    assert a and a == b


@pytest.mark.parametrize("make", [
    lambda seed: gen.dense_docs(seed, 200, 50, WORDS),
    lambda seed: gen.spans_docs(seed, 40, 120, _spec(seed)),
])
def test_other_seed_other_inputs(tmp_path, make):
    gen.write_docs(make(7), str(tmp_path / "a"))
    gen.write_docs(make(8), str(tmp_path / "b"))
    assert _bytes(tmp_path / "a") != _bytes(tmp_path / "b")


def test_model_spec_is_seeded():
    a, b, c = _spec(3), _spec(3), _spec(4)
    assert a.words == b.words and a.rows == b.rows
    assert (a.vectors == b.vectors).all()
    assert a.words != c.words


def test_spans_are_interleaved_and_placed():
    for doc in gen.spans_docs(5, 30, 120, _spec(5)):
        kinds = [s["kind"] for s in doc["spans"]]
        assert kinds[0] == kinds[-1] == "text"
        assert all(a != b for a, b in zip(kinds, kinds[1:]))   # alternate
        offsets = [s["offset"] for s in doc["spans"]]
        assert offsets == sorted(offsets)


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([(4, 4), (6, 5)], 0, 10) == 0


def test_self_time_is_duration_minus_child_coverage():
    spans = [Span(0, "op", 0.0, 10.0),
             Span(1, "a", 1.0, 4.0, parent=0),
             Span(2, "b", 3.0, 6.0, parent=0),      # overlaps a
             Span(3, "c", 2.0, 3.0, parent=1)]      # grandchild
    st = self_times(spans)
    assert st == {0: 5.0, 1: 2.0, 2: 3.0, 3: 1.0}


def test_tracer_nests_and_sums_self_time_by_name():
    tr = Tracer(True)
    with tr.span("op", docs=3):
        with tr.span("x"):
            pass
        with tr.span("x"):
            pass
    op = tr.by_name("op")[0]
    assert [s.parent for s in tr.by_name("x")] == [op.id, op.id]
    assert op.counts == {"docs": 3}
    st = tr.self_time_by_name([op])
    assert st["op"] + st["x"] == pytest.approx(op.duration)


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("op") as s:
        assert s is None
    assert tr.spans == []


def test_tail_needs_ten_samples_beyond():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    xs = [float(i) for i in range(31)]           # 0..30
    value, pct = tail(xs)
    assert value == 20.0 and pct == pytest.approx(200 / 3)
    assert sum(x > value for x in xs) == 10


def test_event_log_totals(tmp_path):
    def task(stage, dur_ms, run_ms):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": 0, "Finish Time": dur_ms},
                "Task Metrics": {
                    "Executor Run Time": run_ms,
                    "Executor CPU Time": run_ms * 10 ** 6,
                    "JVM GC Time": 1,
                    "Shuffle Write Metrics": {"Shuffle Bytes Written": 2 ** 20},
                    "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                             "Local Bytes Read": 2 ** 20},
                    "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0}}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "timed"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "other"}},
        task(0, 100, 100), task(0, 100, 100), task(0, 400, 400),
        task(1, 50, 50), task(2, 999, 999)]
    (tmp_path / "app-1").write_text(
        "\n".join(json.dumps(e) for e in events) + "\n")
    ev = read_event_log(str(tmp_path), "app-1", "timed")
    assert ev["jobs"] == 1 and ev["stages"] == 2 and ev["tasks"] == 4
    assert ev["run_s"] == pytest.approx(0.65)
    assert ev["cpu_s"] == pytest.approx(0.65)
    assert ev["shuffle_write_mb"] == pytest.approx(4.0)
    assert ev["task_skew"] == pytest.approx(4.0)    # stage 0: 400 / 100


def test_benchmark_json_matches_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(PARAMS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == \
        metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == \
        metrics.PER_LAYER


def test_stop_descendants_ends_a_grandchild():
    from perfbench import host
    sleeper = "import time; time.sleep(60)"
    child = subprocess.Popen(
        [sys.executable, "-c",
         f"import subprocess, sys; subprocess.Popen([sys.executable, '-c', "
         f"{sleeper!r}]); {sleeper}"])
    try:
        deadline = time.monotonic() + 10
        while len(host.descendants(os.getpid())) < 2:
            assert time.monotonic() < deadline
            time.sleep(0.05)
        found = host.stop_descendants(timeout_s=5)
    finally:
        if child.poll() is None:
            child.kill()
        child.wait()
    assert child.pid in found and len(found) == 2
    assert not [p for p in found if host._alive(p)]
