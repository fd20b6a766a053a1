"""streaming/keyed.py on hand-made rows. per_key, the batch per-key
runner: the per-key sort, one body call per key and the empty frame a key
that emits nothing returns. bucket_kernel, the bucket function of the live
runner per_key_state: per-key values and timers of pure steps inside one
bucket, driven with Spark's own GroupState as the bucket's state and no
streaming query."""

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
    assert schema_names("k: long, s decimal(10,2), u:string") == ["k", "s", "u"]
    df = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    out = per_key(df, ["k"], ["v"], lambda key, pdf: [], "k long, s struct<a:int,b:int>")
    assert out.columns == ["k", "s"]
    assert out.collect() == []


PROC = GroupStateTimeout.ProcessingTimeTimeout
EVENT = GroupStateTimeout.EventTimeTimeout
NONE = GroupStateTimeout.NoTimeout


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


def _timer_step(calls, durations):
    """Counts each key's rows in its value and arms ``durations[key]`` past
    the batch time; a timed-out key is dropped. Its rows leave the key
    column to the runner."""

    def step(key, pdf, value, clock):
        calls.append((key[0], clock.timed_out, list(pdf.columns), pdf["v"].tolist()))
        if clock.timed_out:
            return [], None, None
        return [{"n": len(pdf)}], (len(pdf),), clock.batch_ms + durations[key[0]]

    return step


def test_quiet_key_times_out_after_the_keys_with_rows():
    calls = []
    run = bucket_kernel(_timer_step(calls, {"A": 500, "B": 500}), ["k"], [], ["k", "n"], PROC)
    b1 = _bucket_state(now=1000)
    (out,) = run((0,), [_rows(["B", "A", "B"])], b1)
    # key order, one frame per call, the key column filled in
    assert out.values.tolist() == [["A", 1], ["B", 2]]
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
    step = _timer_step(calls, {"A": 300, "B": 700, "C": 900})
    run = bucket_kernel(step, ["k"], [], ["k", "n"], PROC)
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


@pytest.mark.parametrize(
    "timeout, value, deadline, why",
    [
        pytest.param(PROC, None, 1001, "without state", id="deadline-without-value"),
        pytest.param(NONE, (1,), 1001, "under NoTimeout", id="deadline-under-no-timeout"),
        pytest.param(PROC, (1,), 1000, "not after batch", id="processing-time-at-the-batch-time"),
        pytest.param(EVENT, (1,), 4999, "behind watermark", id="event-time-behind-the-watermark"),
    ],
)
def test_event_time_timer_behind_the_watermark_raises(timeout, value, deadline, why):
    """The runner refuses each deadline Spark's per-key GroupState refused."""

    def step(key, pdf, _value, clock):
        return [], value, deadline

    run = bucket_kernel(step, ["k"], [], ["k"], timeout)
    with pytest.raises(ValueError, match=why):
        list(run((0,), [_rows(["A"])], _bucket_state(now=1000, watermark=5000, timeout=timeout)))

    def at_watermark(key, pdf, _value, clock):
        return [], (1,), clock.watermark_ms

    # a timer at the watermark is allowed, and the bucket arms there too
    b = _bucket_state(now=1, watermark=5000, timeout=EVENT)
    list(bucket_kernel(at_watermark, ["k"], [], ["k"], EVENT)((0,), [_rows(["A"])], b))
    assert _bucket_timeout(b) == 5000


def test_bucket_state_is_removed_with_its_last_key():
    def step(key, pdf, value, clock):
        return [], None if value else (1,), None

    run = bucket_kernel(step, ["k"], [], ["k"], NONE)
    b1 = _bucket_state(timeout=NONE)
    list(run((0,), [_rows(["A", "B"])], b1))
    assert b1.get[1] == ["A", "B"]
    b2 = _bucket_state(b1, timeout=NONE)
    list(run((0,), [_rows(["A"])], b2))
    assert b2.exists and b2.get[1] == ["B"]
    b3 = _bucket_state(b2, timeout=NONE)
    list(run((0,), [_rows(["B"])], b3))
    assert not b3.exists and json.loads(b3.json())["removed"]


@pytest.mark.parametrize(
    "order, want",
    [
        pytest.param(["id"], [("A", [2, 3, 5]), ("B", [1, 4])], id="id-order"),
        pytest.param([], [("A", [5, 3, 2]), ("B", [4, 1])], id="arrival-order"),
    ],
)
def test_a_key_split_across_arrow_chunks_reaches_its_step_as_one_frame(order, want):
    """Spark may hand a bucket several Arrow chunks. A key whose ids arrive
    out of order across two chunks reaches its step once, as one frame in
    ``order`` (the retention agg's GLOBAL id order), or in arrival order
    when ``order`` is empty."""
    calls = []

    def step(key, pdf, value, clock):
        calls.append((key[0], pdf["id"].tolist()))
        return [], None, None

    chunks = [
        pd.DataFrame({"k": ["A", "B", "A"], "id": [5, 4, 3], BUCKET: 0}),
        pd.DataFrame({"k": ["B", "A"], "id": [1, 2], BUCKET: 0}),
    ]
    run = bucket_kernel(step, ["k"], order, ["k"], NONE)
    list(run((0,), chunks, _bucket_state(timeout=NONE)))
    assert calls == want
