"""streaming/keyed.py on hand-made rows. per_key, the batch per-key
runner: the per-key sort, one body call per key and the empty frame a key
that emits nothing returns. bucket_kernel, the bucket function of the live
runner per_key_state: per-key timers inside one bucket, driven with Spark's
own GroupState as the bucket's state and no streaming query."""

from __future__ import annotations

import json

import pandas as pd
import pytest
from pyspark.sql import Row
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from flink_1_6_0_spark.streaming.keyed import BUCKET, bucket_kernel, per_key, schema_names


def test_per_key_sorts_stably_and_calls_each_key_once(spark):
    # (k, a, b, i): ties on (a, b) keep their input order
    rows = [
        (1, 2, "x", 1),
        (1, 1, "y", 2),
        (1, 1, "z", 3),
        (1, 1, "y", 4),
        (1, 2, "x", 5),
        (2, 7, "q", 6),
    ]
    # one input partition: the rows reach each key's group in this order
    df = spark.createDataFrame(rows, "k long, a long, b string, i long").coalesce(1)

    def body(key, pdf):
        return [(key[0], [int(i) for i in pdf["i"]])]

    out = per_key(df, ["k"], ["a", ("b", False)], body, "k long, ids array<long>")
    got = sorted((r.k, r.ids) for r in out.collect())
    # one row per body call: each key's body ran exactly once
    assert got == [(1, [3, 2, 4, 1, 5]), (2, [6])]


def test_per_key_empty_result_takes_the_schema_names(spark):
    """A parameterized type keeps its top-level name: a key that emits
    nothing returns an empty frame named (k, s), which Spark accepts."""
    assert schema_names("k long, s struct<a:int,b:int>") == ["k", "s"]
    df = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    out = per_key(df, ["k"], ["v"], lambda key, pdf: [], "k long, s struct<a:int,b:int>")
    assert out.columns == ["k", "s"]
    assert out.collect() == []


PROC = GroupStateTimeout.ProcessingTimeTimeout
EVENT = GroupStateTimeout.EventTimeTimeout


def _bucket_state(
    prev=None, *, now=0, watermark=GroupState.NO_TIMESTAMP, timeout=PROC, timed_out=False
):
    """The bucket's GroupState for one call, carrying ``prev``'s value the
    way the state store does between micro-batches."""
    value = Row(*prev.get) if prev is not None and prev.exists else None
    return GroupState(
        optionalValue=value,
        batchProcessingTimeMs=now,
        eventTimeWatermarkMs=watermark,
        timeoutConf=timeout,
        hasTimedOut=timed_out,
        watermarkPresent=watermark != GroupState.NO_TIMESTAMP,
        defined=value is not None,
        updated=False,
        removed=False,
        timeoutTimestamp=GroupState.NO_TIMESTAMP,
        keyAsUnsafe=None,
        valueSchema=None,
    )


def _rows(keys):
    """A bucket's rows: ``v`` numbers them in arrival order."""
    return pd.DataFrame({"k": keys, "v": range(len(keys)), BUCKET: 0})


def _bucket_timeout(bucket):
    return json.loads(bucket.json())["timeoutTimestamp"]


def _timer_fn(calls, durations):
    """Counts each key's rows in its state and arms ``durations[key]``; a
    timed-out key is removed."""

    def fn(key, pdfs, state):
        (pdf,) = list(pdfs)
        calls.append((key[0], state.hasTimedOut, list(pdf.columns), pdf["v"].tolist()))
        if state.hasTimedOut:
            state.remove()
            return
        state.update((len(pdf),))
        state.setTimeoutDuration(durations[key[0]])
        yield pd.DataFrame({"k": [key[0]]})

    return fn


def test_quiet_key_times_out_after_the_keys_with_rows():
    calls = []
    run = bucket_kernel(_timer_fn(calls, {"A": 500, "B": 500}), ["k"])
    b1 = _bucket_state(now=1000)
    out = [f["k"].tolist() for f in run((0,), [_rows(["B", "A", "B"])], b1)]
    assert out == [["A"], ["B"]]  # key order
    # each key's rows in arrival order
    assert calls == [("A", False, ["k", "v"], [1]), ("B", False, ["k", "v"], [0, 2])]
    # A is quiet past its deadline (1500 < 1600) while B gets rows
    calls.clear()
    b2 = _bucket_state(b1, now=1600)
    list(run((0,), [_rows(["B"])], b2))
    assert calls == [("B", False, ["k", "v"], [0]), ("A", True, ["k", "v"], [])]
    assert b2.get[1] == ["B"]  # the key column array: A is gone
    assert _bucket_timeout(b2) == 2100


def test_bucket_timeout_is_the_smallest_remaining_key_deadline():
    calls = []
    run = bucket_kernel(_timer_fn(calls, {"A": 300, "B": 700, "C": 900}), ["k"])
    b1 = _bucket_state(now=1000)
    list(run((0,), [_rows(["A", "B", "C"])], b1))
    assert _bucket_timeout(b1) == 1300
    # the bucket's own timer fires (no rows): only A is due; B and C keep
    # theirs, so the bucket re-arms at B's
    calls.clear()
    b2 = _bucket_state(b1, now=1400, timed_out=True)
    list(run((0,), [_rows([])], b2))
    assert calls == [("A", True, ["k", "v"], [])]
    assert _bucket_timeout(b2) == 1700
    # a deadline equal to the batch time has not passed yet (strict <)
    calls.clear()
    b3 = _bucket_state(b2, now=1700, timed_out=True)
    list(run((0,), [_rows([])], b3))
    assert calls == []


def test_event_time_timer_behind_the_watermark_raises():
    def fn(key, pdfs, state):
        state.update((1,))
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs() - 1)
        yield pd.DataFrame({"k": [key[0]]})

    run = bucket_kernel(fn, ["k"])
    with pytest.raises(ValueError):
        list(run((0,), [_rows(["A"])], _bucket_state(now=1, watermark=5000, timeout=EVENT)))

    def at_watermark(key, pdfs, state):
        state.update((1,))
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs())
        yield from ()

    # a timer at the watermark is allowed, and the bucket arms there too
    b = _bucket_state(now=1, watermark=5000, timeout=EVENT)
    list(bucket_kernel(at_watermark, ["k"])((0,), [_rows(["A"])], b))
    assert _bucket_timeout(b) == 5000


def test_bucket_state_is_removed_with_its_last_key():
    def fn(key, pdfs, state):
        if state.exists:
            state.remove()
        else:
            state.update((1,))
        yield from ()

    run = bucket_kernel(fn, ["k"])
    b1 = _bucket_state(timeout=GroupStateTimeout.NoTimeout)
    list(run((0,), [_rows(["A", "B"])], b1))
    assert b1.get[1] == ["A", "B"]
    b2 = _bucket_state(b1, timeout=GroupStateTimeout.NoTimeout)
    list(run((0,), [_rows(["A"])], b2))
    assert b2.exists and b2.get[1] == ["B"]
    b3 = _bucket_state(b2, timeout=GroupStateTimeout.NoTimeout)
    list(run((0,), [_rows(["B"])], b3))
    assert not b3.exists and json.loads(b3.json())["removed"]
