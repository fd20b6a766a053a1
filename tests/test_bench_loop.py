"""bench.py's timing loop under a fake clock: deadline, round order, medians
over completed rounds, failures and the contamination verdict; and, on a
real session, the sentinel stamp's size."""

from __future__ import annotations

import json
import os
from types import SimpleNamespace

import pytest

import bench


class FakeHost:
    """A clock that only moves when a query or stamp "runs"; every call is
    logged as (name, start, end)."""

    def __init__(self, durations, fail=()):
        self.t = 0.0
        self.durations = durations
        self.fail = set(fail)
        self.log = []

    def clock(self):
        return self.t

    def run(self, name, d):
        start, sec = self.t, self.durations[name]
        self.t += sec() if callable(sec) else sec
        self.log.append((name, start, self.t))
        if name in self.fail:
            raise RuntimeError(f"{name} broke")

    def stamp(self):
        self.t += 0.5
        self.log.append(("stamp", self.t - 0.5, self.t))
        return 0.5


def _block(host, names, runs, deadline):
    return bench.time_block(
        host.run, host.stamp, "/data", names, runs, deadline, clock=host.clock
    )


def test_no_run_ends_past_the_deadline_and_the_cut_block_says_so():
    host = FakeHost({"a": 2.0, "b": 3.0})
    out = _block(host, ("a", "b"), runs=10, deadline=20.0)
    runs = [(n, s, e) for n, s, e in host.log if n != "stamp"]
    assert all(e <= 20.0 for n, s, e in runs)
    # warm-up 5 s, round 1 ends at 10.5, round 2 at 16, round 3 cut after a
    assert out["rounds_completed"] == 2
    assert out["cut_by_deadline"] is True
    assert out["round_sentinels"] == [0.5, 0.5]


def test_round_r_runs_every_query_before_round_r_plus_one():
    host = FakeHost({"a": 1.0, "b": 1.0, "c": 1.0})
    out = _block(host, ("a", "b", "c"), runs=3, deadline=1e9)
    order = [n for n, _, _ in host.log]
    # warm-up pass, then three rounds each closed by one stamp
    assert order == ["a", "b", "c"] + ["a", "b", "c", "stamp"] * 3
    assert out["rounds_completed"] == 3 and out["cut_by_deadline"] is False


def test_median_is_over_completed_rounds_only():
    samples = iter([9.0, 1.0, 3.0, 50.0])  # warm-up, round 1, round 2, cut round
    host = FakeHost({"a": lambda: next(samples), "b": 1.0})
    # round 2 ends at 17; a's 3 s sample lets its round-3 run start, which
    # then takes 50 s, so b's round-3 run would end past the deadline
    out = _block(host, ("a", "b"), runs=3, deadline=20.5)
    assert out["rounds_completed"] == 2
    assert out["queries"] == {"a": 2.0, "b": 1.0}


def test_a_block_cut_in_its_first_round_keeps_the_samples_it_has():
    host = FakeHost({"a": 1.0, "b": 5.0})
    out = _block(host, ("a", "b"), runs=2, deadline=8.0)
    assert out["rounds_completed"] == 0
    assert out["queries"] == {"a": 1.0}
    assert out["sentinel_sec"] is None


def test_a_raising_query_reads_minus_one_and_the_others_continue():
    host = FakeHost({"a": 1.0, "bad": 1.0, "c": 1.0}, fail={"bad"})
    out = _block(host, ("a", "bad", "c"), runs=3, deadline=1e9)
    assert out["queries"] == {"a": 1.0, "bad": -1.0, "c": 1.0}
    assert out["rounds_completed"] == 3
    assert [n for n, _, _ in host.log].count("bad") == 1  # warm-up only


def test_cut_or_drifted_blocks_are_contaminated():
    calm = {"cut_by_deadline": False, "sentinel_sec": 0.5}
    cut = {"cut_by_deadline": True, "sentinel_sec": 0.5}
    drifted = {"cut_by_deadline": False, "sentinel_sec": 0.5 * bench.DRIFT + 0.01}
    assert bench.contamination({"headline": calm}, 0.5) == (False, [])
    assert bench.contamination({"headline": calm, "sf1": cut}, 0.5) == (True, ["sf1"])
    assert bench.contamination({"headline": drifted}, 0.5) == (True, ["headline"])


@pytest.mark.parametrize("base", [None, 0.0])
def test_without_a_benchbase_sentinel_contaminated_is_none(base):
    cut = {"cut_by_deadline": True, "sentinel_sec": 9.9}
    assert bench.contamination({"headline": cut}, base) == (None, [])


def test_the_compact_line_keeps_its_keys_and_fits():
    out = {
        "metric": "headline_queries_total_wall", "value": 1.0, "unit": "sec",
        "queries": {f"query_number_{i:03d}": i / 7 for i in range(200)},
        "sf": 0.1, "runs_per_query": 3, "sentinel_sec": 0.5,
        "guard_active": True, "contaminated": False,
        "sf1": {"sf": 1.0, "vs_baseline_matched": 1.1, "queries": {}},
    }
    line = bench._compact_line(out)
    assert len(line) <= 1900
    parsed = json.loads(line)
    assert parsed["queries_truncated"] is True
    assert parsed["sentinel_sec"] == 0.5 and parsed["sf1"] == {"sf": 1.0, "vs_baseline_matched": 1.1}
    assert "query_number_199" in parsed["queries"] and "query_number_000" not in parsed["queries"]


def test_env_block_records_the_session_parallelism(monkeypatch):
    """The session runs at ``SPARK_GRAFT_CPUS`` cores, not the host's count."""
    cpus = (os.cpu_count() or 8) + 3
    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(cpus))
    system = SimpleNamespace(getProperty=lambda key: "17")
    jvm = SimpleNamespace(java=SimpleNamespace(lang=SimpleNamespace(System=system)))
    spark = SimpleNamespace(version="4.1.2", sparkContext=SimpleNamespace(_jvm=jvm))
    assert bench._env_block(spark)["cpus"] == cpus


def test_the_sentinel_runs_one_map_task_per_session_core(spark):
    """The stamp scales with the session: ``_default_parallelism()`` map
    tasks, one per core, whatever the core count."""
    from flink_1_6_0_spark.session import _default_parallelism

    sc = spark.sparkContext
    group = "sentinel-stamp"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, "sentinel stamp")
    try:
        bench._sentinel_sec(spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    tracker = sc.statusTracker()
    stages = {s for j in tracker.getJobIdsForGroup(group) for s in tracker.getJobInfo(j).stageIds}
    assert tracker.getStageInfo(min(stages)).numTasks == _default_parallelism()
