"""The benchmark's own tests: seeded inputs, the tail rule, failure
counting and metric names. None of them starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import course  # noqa: E402
import gen  # noqa: E402
import reference  # noqa: E402
import registry_mix  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402


def _snapshot(root: str) -> dict[str, tuple[bytes, int]]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = (fh.read(), os.stat(p).st_mtime_ns)
    return out


def test_same_seed_writes_byte_identical_inputs(tmp_path):
    a = _snapshot(os.path.dirname(gen.make_backlog(str(tmp_path / "a"), 7, 3, 500, 2)["audit"]))
    b = _snapshot(os.path.dirname(gen.make_backlog(str(tmp_path / "b"), 7, 3, 500, 2)["audit"]))
    c = _snapshot(os.path.dirname(gen.make_backlog(str(tmp_path / "c"), 8, 3, 500, 2)["audit"]))
    assert a == b
    assert set(a) == set(c) and a != c


def test_same_seed_gives_the_same_query_sample():
    assert registry_mix.order(5) == registry_mix.order(5)
    orders = {tuple(registry_mix.order(s)) for s in range(50)}
    assert len(orders) > 1
    base = registry_mix.QUERIES
    for o in orders:  # every order is a rotation of the same cycle
        k = base.index(o[0])
        assert list(o) == base[k:] + base[:k]


def test_registry_sample_is_oracle_bearing_and_not_streaming():
    from apache_flink_datastream_api_spark.registry import all_queries

    specs = all_queries()
    for name in registry_mix.QUERIES:
        assert specs[name].oracle and "streaming" not in specs[name].tags


@pytest.mark.parametrize("n", [1, 5, 10, 11, 19])
def test_tail_falls_back_to_the_median_below_twenty_samples(n):
    values = [float(i) for i in range(n)]
    assert stats.tail(values) == (stats.median(values), 50.0, n)


@pytest.mark.parametrize("n, pct", [(20, 50.0), (26, 1600 / 26), (100, 90.0), (1000, 99.0)])
def test_tail_has_exactly_ten_samples_beyond(n, pct):
    values = [float(i) for i in range(n)][::-1]  # unsorted input
    value, p, count = stats.tail(values)
    assert count == n and p == pytest.approx(pct)
    assert sum(v > value for v in values) == stats.TAIL_BEYOND


def test_failures_are_counted_against_attempts():
    line = json.loads(stats.result_line(8, 2, {"x": stats.m(1.5, "ms")}))
    assert line == {"correct": False, "attempted": 8, "failed": 2,
                    "metrics": {"x": {"value": 1.5, "unit": "ms"}}}
    assert json.loads(stats.result_line(8, 0, {}))["correct"] is True
    for attempted, failed in ((0, 0), (3, 4), (3, -1)):
        with pytest.raises(ValueError):
            stats.result_line(attempted, failed, {})


def test_a_drain_that_differs_from_the_reference_fails(tmp_path):
    dirs = gen.make_backlog(str(tmp_path), 3, 4, 400, 2)
    ref = course.Reference(dirs)
    assert ref.late_rows > 0
    for name, want in ref.expected.items():
        late = ref.late_rows if name == "action_counts_10s" else 0
        good = course.Drain(name, 1.0, [{"numInputRows": 1, "stateOperators": [
            {"numRowsDroppedByWatermark": late}]}], want)
        assert ref.check(good) == []
        bad = good.output.copy()
        bad.iloc[0, bad.columns.get_loc(want.columns[-1])] += 1
        assert ref.check(course.Drain(name, 1.0, good.progress, bad))
        assert ref.check(course.Drain(name, 1.0, [], pd.DataFrame()))  # raised
    wrong_late = course.Drain("action_counts_10s", 1.0, [], ref.expected["action_counts_10s"])
    assert ref.check(wrong_late)


def test_every_metric_name_matches_and_carries_a_unit():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    for entry in bench["end_to_end"] + bench["per_layer"]:
        assert stats.NAME_RE.fullmatch(entry["name"]) and entry["unit"]
    stats.check_metrics({e["name"]: stats.m(1, e["unit"]) for e in bench["per_layer"]})
    for bad in ({"a b": stats.m(1, "ms")}, {"x": {"value": 1.0}},
                {"x": stats.m(float("nan"), "ms")}, {"x": {"value": 1.0, "unit": ""}}):
        with pytest.raises(ValueError):
            stats.check_metrics(bad)


def test_self_time_subtracts_what_children_cover():
    t = spans.Tracer(True)
    root = t.add("drain", 0.0, 1.0, "q")
    t.add("batch", 0.1, 0.4, "q", root)
    t.add("batch", 0.3, 0.6, "q", root)  # overlaps the first
    got = t.self_ms()
    assert got["drain"] == pytest.approx(500.0)
    assert got["batch"] == pytest.approx(600.0)
    assert spans.Tracer(False).add("x", 0.0, 1.0, "q") is None


def test_traced_runs_alternate_untraced_and_traced_passes():
    assert spans.pass_plan(False, 3) == [False, False, False]
    plan = spans.pass_plan(True, 3)
    assert plan == [False, True, True, False]
    assert spans.overhead([2.0, 2.2, 2.2, 2.0], plan) == pytest.approx(0.1)


def test_a_replay_stream_keeps_about_a_thousand_keys_live(tmp_path):
    dirs = gen.make_backlog(str(tmp_path), 1, course.FILES, course.ROWS_PER_FILE,
                            course.LATE_FROM_FILE)
    for stream, cols in (("audit", reference.AUDIT_COLS), ("browser", reference.BROWSER_COLS)):
        users = reference.read_stream(dirs[stream], cols, 1)["user"]
        assert users.nunique() >= 0.95 * gen.N_USERS


def test_registry_median_and_tail_fall_inside_one_query_cluster_each():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        passes = round(json.load(f)["run_seconds"] / registry_mix.PASS_S)
    n_queries = len(registry_mix.QUERIES)
    # query i costs i; every query gives one sample per pass
    samples = [float(i) for _ in range(passes) for i in range(n_queries)]
    assert stats.median(samples) == float(n_queries // 2)
    value, _, _ = stats.tail(samples)
    assert value >= n_queries - 2  # among the two heaviest queries


def test_course_median_and_tail_fall_inside_the_jvm_only_batches():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        passes = round(json.load(f)["run_seconds"] / course.PASS_S)
    python_state = {"user_session_durations", "delete_alerts"}
    # a JVM-only batch costs 1, a Python-state one 2, the no-data batch that
    # closes the watermark 0
    samples = []
    for _ in range(passes):
        for name, (_, _, _, files_per_trigger) in course.TOPOLOGIES.items():
            batches = -(-course.FILES // files_per_trigger)
            samples += [2.0 if name in python_state else 1.0] * batches
            if name == "action_counts_10s":
                samples.append(0.0)
    assert stats.median(samples) == 1.0
    assert stats.tail(samples)[0] == 1.0
    # and neither sits at an edge of the JVM-only batches
    ranked = sorted(samples)
    k = len(ranked) - stats.TAIL_BEYOND - 1
    assert ranked[k + 4] == 1.0 and ranked[len(ranked) // 2 - 4] == 1.0


def test_only_temp_dirs_of_ended_runs_are_removed(tmp_path):
    import subprocess

    import run

    ended = subprocess.Popen([sys.executable, "-c", "pass"])
    ended.wait()
    for pid in (ended.pid, os.getpid()):
        (tmp_path / f"tmp-{pid}").mkdir()
    (tmp_path / "spans").mkdir()
    run.remove_stale(str(tmp_path))
    assert sorted(p.name for p in tmp_path.iterdir()) == ["spans", f"tmp-{os.getpid()}"]
