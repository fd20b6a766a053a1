"""Unit tests of the benchmark's own arithmetic (no Spark needed).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import math
import random
from types import SimpleNamespace

import pytest

from perfbench import stats
from perfbench.counters import IdCursor, sum_stages
from perfbench.run import Driver


def test_geomean_of_medians_weights_each_query_once():
    samples = {"a": [1.0, 9.0, 2.0], "b": [8.0], "c": [4.0, 4.0]}
    # medians 2, 8, 4 -> (2*8*4) ** (1/3) = 4
    assert stats.geomean_of_medians(samples) == pytest.approx(4.0)


def test_geomean_rejects_empty_and_non_positive():
    with pytest.raises(ValueError):
        stats.geomean([])
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])


def test_tail_is_the_eleventh_largest_sample():
    samples = [float(i) for i in range(1, 41)]  # 1..40
    value, pct = stats.tail(samples)
    assert value == 30.0
    assert sum(1 for x in samples if x > value) == 10
    assert pct == pytest.approx(75.0)


def test_tail_with_exactly_eleven_samples_is_the_minimum():
    value, pct = stats.tail([5.0, 1.0, 3.0, 2.0, 4.0, 6.0, 7.0, 8.0, 9.0, 10.0, 11.0])
    assert value == 1.0
    assert pct == pytest.approx(100.0 / 11)


def test_tail_needs_more_samples_than_it_leaves_beyond():
    with pytest.raises(ValueError):
        stats.tail([1.0] * 10)


def test_rows_per_s_divides_pass_rows_by_summed_medians():
    samples = {"a": [1.0, 3.0, 2.0], "b": [0.5, 0.5]}
    assert stats.rows_per_s(5000, samples) == pytest.approx(5000 / 2.5)


def test_overhead_compares_the_queries_both_sides_ran():
    traced = {"a": [1.1, 1.1], "b": [2.2], "only_traced": [100.0]}
    untraced = {"a": [1.0], "b": [2.0, 2.0]}
    assert stats.overhead_pct(traced, untraced) == pytest.approx(10.0)


def _stage(status="COMPLETE", run_ms=0, cpu_ns=0, **kw):
    rec = {f: 0 for f in ("jvmGcTime", "shuffleWriteBytes", "diskBytesSpilled",
                          "inputRecords", "inputBytes", "numCompleteTasks")}
    rec.update(status=status, executorRunTime=run_ms, executorCpuTime=cpu_ns, **kw)
    return rec


class FakeStore:
    """Stage ids as the scheduler hands them out; ``lookup`` is what the
    status store answers for an id (None: unknown)."""

    def __init__(self):
        self.stages: dict[int, dict] = {}
        self.next = 0

    def run(self, *stages, gap=0):
        self.next += gap  # ids allocated but never registered
        for st in stages:
            self.stages[self.next] = st
            self.next += 1

    def lookup(self, i):
        return self.stages.get(i)


def test_stage_window_attributes_stages_to_the_query_that_created_them():
    store = FakeStore()
    cur = IdCursor(store.lookup)
    store.run(_stage(inputRecords=5), _stage(inputRecords=7))
    assert [s["inputRecords"] for s in cur.take()] == [5, 7]
    # a streaming query's micro-batches create stages on another thread,
    # under no job group: the window still finds all of them
    store.run(*[_stage(inputRecords=1) for _ in range(10)])
    assert len(cur.take()) == 10
    assert cur.take() == []


def test_stage_window_skips_short_gaps_in_ids():
    store = FakeStore()
    cur = IdCursor(store.lookup)
    store.run(_stage(inputRecords=1))
    store.run(_stage(inputRecords=2), gap=2)
    assert [s["inputRecords"] for s in cur.take()] == [1, 2]


def test_sum_stages_excludes_skipped_stages_and_splits_wait_time():
    stages = [
        _stage(run_ms=3000, cpu_ns=1_000_000_000, numCompleteTasks=4,
               shuffleWriteBytes=100, inputRecords=10, jvmGcTime=50),
        _stage(run_ms=500, cpu_ns=500_000_000, numCompleteTasks=2, inputRecords=5),
        _stage(status="SKIPPED", run_ms=999, numCompleteTasks=9, inputRecords=99),
    ]
    out = sum_stages(stages)
    assert out["stages"] == 2
    assert out["tasks"] == 6
    assert out["input_rows"] == 15
    assert out["shuffle_bytes"] == 100
    assert out["task_cpu_s"] == pytest.approx(1.5)
    assert out["gc_s"] == pytest.approx(0.05)
    assert math.isclose(out["wait_s"], 3.5 - 1.5)


def test_a_failed_call_counts_as_failed_and_leaves_no_sample():
    ok = SimpleNamespace(name="ok", fn=lambda spark, data_dir: "df")
    bad = SimpleNamespace(name="bad", fn=lambda spark, data_dir: 1 / 0)
    driver = Driver.__new__(Driver)  # no Spark session: only the pass loop runs
    driver.spark, driver.data_dir, driver.specs = None, "", [ok, bad]
    driver.rng, driver.attempted, driver.failures = random.Random(0), 0, []
    driver._consume = lambda df: None
    samples: dict[str, list[float]] = {}
    driver.run_pass(samples)
    driver.run_pass(samples)
    assert list(samples) == ["ok"] and len(samples["ok"]) == 2
    assert driver.attempted == 4
    assert len(driver.failures) == 2 and all(f.startswith("bad:") for f in driver.failures)
