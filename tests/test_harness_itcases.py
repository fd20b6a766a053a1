"""Ports of the flink-table harness tests — the state-cleanup-timer semantics
suite (flink-table/src/test/scala/org/apache/flink/table/runtime/harness/).

NonWindowHarnessTest.scala, OverWindowHarnessTest.scala and
SortProcessFunctionHarnessTest.scala drive the keyed process functions with
injected processing time / watermarks and pin the exact emission sequences,
including what idle-state cleanup (StreamQueryConfig min/max retention)
destroys and when. Replayed verbatim through the kernels in
flink_1_6_0_spark.streaming.cleanup_state via KeyedProcessHarness (the
OneInputStreamOperatorTestHarness analog).

The reference's `verify(..., RowResultSortComparator)` compares outputs
order-insensitively (cross-key timer interleavings are undefined there);
those ports compare sorted multisets. SortProcessFunctionHarnessTest uses
assertOutputEquals — order-sensitive — and is compared exactly.
"""

from __future__ import annotations

import pytest

from flink_1_6_0_spark.streaming.cleanup_state import (
    GroupAggKernel,
    KeyedProcessHarness,
    MaxWithRetract,
    MinWithRetract,
    ProcTimeBoundedRangeOverKernel,
    ProcTimeBoundedRowsOverKernel,
    ProcTimeSortKernel,
    ProcTimeUnboundedOverKernel,
    RowAggregator,
    RowTimeBoundedRangeOverKernel,
    RowTimeBoundedRowsOverKernel,
    RowTimeSortKernel,
    RowTimeUnboundedRangeOverKernel,
    RowTimeUnboundedRowsOverKernel,
    StreamQueryConfig,
    SumWithRetract,
)

def sum_aggregator():
    # HarnessTestBase.scala:198 SumAggregationHelper: output (f0 forwarded,
    # sum(f1)); key is input field 2.
    return RowAggregator(arity=2, forwarded=[(0, 0)], aggs=[(1, 1, SumWithRetract())])


def min_max_aggregator():
    # HarnessTestBase.scala:78 MinMaxAggregateHelper: output row of 5 =
    # (f0, f1, f2 forwarded, min(f2), max(f2)); key is input field 1.
    return RowAggregator(
        arity=5,
        forwarded=[(0, 0), (1, 1), (2, 2)],
        aggs=[(2, 3, MinWithRetract()), (2, 4, MaxWithRetract())],
    )


def assert_same_multiset(actual, expected):
    assert sorted(actual, key=repr) == sorted(expected, key=repr)


# ---------------------------------------------------------------------------
# NonWindowHarnessTest.scala
# ---------------------------------------------------------------------------


def test_non_window_group_agg_cleanup_golden():
    """NonWindowHarnessTest.scala:39 testNonWindow — sums reset after the
    cleanup timer (min 2s / max 3s) fires at proc time 4003."""
    qc = StreamQueryConfig(2000, 3000)
    h = KeyedProcessHarness(
        GroupAggKernel(sum_aggregator(), generate_retraction=False, query_config=qc),
        key_fn=lambda r: r[2],
    )
    h.set_processing_time(1)  # registers cleanup timer 3001
    h.process_element((1, 1, "aaa"))
    h.process_element((2, 1, "bbb"))
    h.set_processing_time(1000)  # reuses timer 3001
    h.process_element((3, 2, "aaa"))
    h.process_element((4, 3, "aaa"))
    h.set_processing_time(1002)  # registers cleanup timer 4002
    h.process_element((5, 4, "aaa"))
    h.process_element((6, 2, "bbb"))
    h.set_processing_time(4003)  # trigger cleanup, next timer 7003
    h.process_element((7, 5, "aaa"))
    h.process_element((8, 6, "aaa"))
    h.process_element((9, 7, "aaa"))
    h.process_element((10, 3, "bbb"))

    expected = [
        ((1, 1), True),
        ((2, 1), True),
        ((3, 3), True),
        ((4, 6), True),
        ((5, 10), True),
        ((6, 3), True),
        ((7, 5), True),  # state was cleaned: count restarts
        ((8, 11), True),
        ((9, 18), True),
        ((10, 3), True),
    ]
    assert_same_multiset(h.output, expected)


def test_non_window_group_agg_with_retract_golden():
    """NonWindowHarnessTest.scala:102 testNonWindowWithRetract — retraction
    pairs around every update; cleanup at 3002 resets 'aaa'/'bbb'."""
    qc = StreamQueryConfig(2000, 3000)
    h = KeyedProcessHarness(
        GroupAggKernel(sum_aggregator(), generate_retraction=True, query_config=qc),
        key_fn=lambda r: r[2],
    )
    h.set_processing_time(1)  # cleanup timer 3001
    h.process_element((1, 1, "aaa"))
    h.process_element((2, 1, "bbb"))
    h.process_element((3, 2, "aaa"))
    h.process_element((4, 3, "ccc"))
    h.set_processing_time(3002)  # trigger cleanup, next timer 6002
    h.process_element((5, 4, "aaa"))
    h.process_element((6, 2, "bbb"))
    h.process_element((7, 5, "aaa"))
    h.process_element((8, 6, "eee"))
    h.process_element((9, 7, "aaa"))
    h.process_element((10, 3, "bbb"))

    expected = [
        ((1, 1), True),
        ((2, 1), True),
        ((3, 1), False),
        ((3, 3), True),
        ((4, 3), True),
        ((5, 4), True),
        ((6, 2), True),
        ((7, 4), False),
        ((7, 9), True),
        ((8, 6), True),
        ((9, 9), False),
        ((9, 16), True),
        ((10, 2), False),
        ((10, 5), True),
    ]
    assert_same_multiset(h.output, expected)


def test_group_agg_equal_row_skip_only_without_cleaning():
    """GroupAggProcessFunction.scala:137 — an unchanged aggregate emits
    nothing when state cleaning is DISABLED, but must emit when cleaning is
    enabled (to keep downstream cleanup timers alive)."""
    for cleaning, n_expected in ((False, 1), (True, 2)):
        qc = StreamQueryConfig(2000, 3000) if cleaning else StreamQueryConfig()
        h = KeyedProcessHarness(
            GroupAggKernel(sum_aggregator(), generate_retraction=False, query_config=qc),
            key_fn=lambda r: r[2],
        )
        h.set_processing_time(1)
        h.process_element((1, 5, "aaa"))
        h.process_element((2, 0, "aaa"))  # sum unchanged (5)
        assert len(h.output) == n_expected, f"cleaning={cleaning}"
        if cleaning:
            assert h.output[1] == ((2, 5), True)


def test_group_agg_retract_to_zero_emits_delete():
    """GroupAggProcessFunction.scala:151 — retracting the last record emits
    the previous row as a delete and clears state."""
    h = KeyedProcessHarness(
        GroupAggKernel(sum_aggregator(), generate_retraction=True, query_config=StreamQueryConfig()),
        key_fn=lambda r: r[2],
    )
    h.set_processing_time(1)
    h.process_element((1, 7, "aaa"), change=True)
    h.process_element((2, 7, "aaa"), change=False)
    assert h.output == [((1, 7), True), ((2, 7), False)]
    assert h.states == {}  # state cleared with the last record


def test_stream_query_config_validation():
    """queryConfig.scala:73 — max-min must be >= 5 minutes unless both 0."""
    StreamQueryConfig.with_idle_state_retention_time(0, 0)
    StreamQueryConfig.with_idle_state_retention_time(60_000, 360_000)
    with pytest.raises(ValueError):
        StreamQueryConfig.with_idle_state_retention_time(2000, 3000)
    assert not StreamQueryConfig(0, 0).state_cleaning_enabled
    assert not StreamQueryConfig(1, 1).state_cleaning_enabled  # min > 1 rule
    assert StreamQueryConfig(2, 2).state_cleaning_enabled


def test_cleanup_timer_coalescing_rule():
    """ProcessFunctionWithCleanupState.scala:46 — a standing timer is reused
    while currentTime + min <= registered cleanup time."""
    qc = StreamQueryConfig(2000, 3000)
    kernel = GroupAggKernel(sum_aggregator(), generate_retraction=False, query_config=qc)
    h = KeyedProcessHarness(kernel, key_fn=lambda r: r[2])
    h.set_processing_time(1)
    h.process_element((1, 1, "aaa"))
    assert h.states["aaa"]["__cleanup_time"] == 3001
    h.set_processing_time(1000)  # 1000 + 2000 <= 3001: reuse
    h.process_element((2, 1, "aaa"))
    assert h.states["aaa"]["__cleanup_time"] == 3001
    h.set_processing_time(1002)  # 1002 + 2000 > 3001: re-register
    h.process_element((3, 1, "aaa"))
    assert h.states["aaa"]["__cleanup_time"] == 4002
    # the superseded 3001 timer fires but must NOT clean (not the last one)
    h.set_processing_time(3001)
    assert "acc" in h.states["aaa"]
    h.set_processing_time(4002)
    assert "aaa" not in h.states


# ---------------------------------------------------------------------------
# OverWindowHarnessTest.scala
# ---------------------------------------------------------------------------


def test_proc_time_bounded_rows_over_golden():
    """OverWindowHarnessTest.scala:41 testProcTimeBoundedRowsOver — 2-row
    sliding window; cleanup at 6001 (fired by 6002) restarts windows."""
    qc = StreamQueryConfig(2000, 3000)
    h = KeyedProcessHarness(
        ProcTimeBoundedRowsOverKernel(min_max_aggregator(), 2, qc),
        key_fn=lambda r: r[1],
    )
    h.set_processing_time(1)
    h.process_element((1, "aaa", 1))
    h.process_element((1, "bbb", 10))
    h.process_element((1, "aaa", 2))
    h.process_element((1, "aaa", 3))
    h.set_processing_time(1100)
    h.process_element((1, "bbb", 20))
    h.process_element((1, "aaa", 4))
    h.process_element((1, "aaa", 5))
    h.process_element((1, "aaa", 6))
    h.process_element((1, "bbb", 30))
    h.set_processing_time(3001)
    h.process_element((2, "aaa", 7))
    h.process_element((2, "aaa", 8))
    h.process_element((2, "aaa", 9))
    h.set_processing_time(6002)  # fires the 6001 cleanup timer
    h.process_element((2, "aaa", 10))
    h.process_element((2, "bbb", 40))

    expected = [
        ((1, "aaa", 1, 1, 1), True),
        ((1, "bbb", 10, 10, 10), True),
        ((1, "aaa", 2, 1, 2), True),
        ((1, "aaa", 3, 2, 3), True),
        ((1, "bbb", 20, 10, 20), True),
        ((1, "aaa", 4, 3, 4), True),
        ((1, "aaa", 5, 4, 5), True),
        ((1, "aaa", 6, 5, 6), True),
        ((1, "bbb", 30, 20, 30), True),
        ((2, "aaa", 7, 6, 7), True),
        ((2, "aaa", 8, 7, 8), True),
        ((2, "aaa", 9, 8, 9), True),
        ((2, "aaa", 10, 10, 10), True),  # post-cleanup restart
        ((2, "bbb", 40, 40, 40), True),
    ]
    assert_same_multiset(h.output, expected)


def test_proc_time_bounded_range_over_golden():
    """OverWindowHarnessTest.scala:142 testProcTimeBoundedRangeOver — 4s RANGE
    window, t+1 emission timers, cleanup NPE guard at 23000."""
    qc = StreamQueryConfig(2000, 3000)
    h = KeyedProcessHarness(
        ProcTimeBoundedRangeOverKernel(min_max_aggregator(), 4000, qc),
        key_fn=lambda r: r[1],
    )
    h.set_processing_time(3)
    h.process_element((0, "aaa", 1))
    h.process_element((0, "bbb", 10))
    h.set_processing_time(4)
    h.process_element((0, "aaa", 2))
    h.set_processing_time(3003)  # fires emit timer 5 and cleanup timer 3003
    h.process_element((0, "aaa", 3))
    h.process_element((0, "bbb", 20))
    h.set_processing_time(5)  # the harness moves time backwards here
    h.process_element((0, "aaa", 4))
    h.set_processing_time(6002)
    h.set_processing_time(7002)  # fires the 6003 cleanup timer
    h.process_element((0, "aaa", 5))
    h.process_element((0, "aaa", 6))
    h.process_element((0, "bbb", 30))
    h.set_processing_time(11002)
    h.process_element((0, "aaa", 7))
    h.set_processing_time(11004)
    h.process_element((0, "aaa", 8))
    h.process_element((0, "aaa", 9))
    h.process_element((0, "aaa", 10))
    h.process_element((0, "bbb", 40))
    h.set_processing_time(11006)
    h.set_processing_time(20000)
    h.process_element((0, "ccc", 10))  # cleanup timer 23000
    h.set_processing_time(22500)
    h.process_element((0, "ccc", 20))  # cleanup moves to 25500
    h.set_processing_time(23001)  # stale 23000 timer: must be a no-op

    expected = [
        ((0, "aaa", 1, 1, 1), True),
        ((0, "bbb", 10, 10, 10), True),
        ((0, "aaa", 2, 1, 2), True),
        ((0, "aaa", 3, 3, 4), True),
        ((0, "bbb", 20, 20, 20), True),
        ((0, "aaa", 4, 4, 4), True),
        ((0, "aaa", 5, 5, 6), True),
        ((0, "aaa", 6, 5, 6), True),
        ((0, "bbb", 30, 30, 30), True),
        ((0, "aaa", 7, 7, 7), True),
        ((0, "aaa", 8, 7, 10), True),
        ((0, "aaa", 9, 7, 10), True),
        ((0, "aaa", 10, 7, 10), True),
        ((0, "bbb", 40, 40, 40), True),
        ((0, "ccc", 10, 10, 10), True),
        ((0, "ccc", 20, 10, 20), True),
    ]
    assert_same_multiset(h.output, expected)


def test_proc_time_unbounded_over_golden():
    """OverWindowHarnessTest.scala:270 testProcTimeUnboundedOver — running
    min/max; cleanup at 4003 (fired by 5003) restarts the accumulators."""
    qc = StreamQueryConfig(2000, 3000)
    h = KeyedProcessHarness(
        ProcTimeUnboundedOverKernel(min_max_aggregator(), qc),
        key_fn=lambda r: r[1],
    )
    h.set_processing_time(1003)
    for row in [
        (0, "aaa", 1), (0, "bbb", 10), (0, "aaa", 2), (0, "aaa", 3),
        (0, "bbb", 20), (0, "aaa", 4), (0, "aaa", 5), (0, "aaa", 6),
        (0, "bbb", 30), (0, "aaa", 7), (0, "aaa", 8),
    ]:
        h.process_element(row)
    h.set_processing_time(5003)  # fires the 4003 cleanup timer
    h.process_element((0, "aaa", 9))
    h.process_element((0, "aaa", 10))
    h.process_element((0, "bbb", 40))

    expected = [
        ((0, "aaa", 1, 1, 1), True),
        ((0, "bbb", 10, 10, 10), True),
        ((0, "aaa", 2, 1, 2), True),
        ((0, "aaa", 3, 1, 3), True),
        ((0, "bbb", 20, 10, 20), True),
        ((0, "aaa", 4, 1, 4), True),
        ((0, "aaa", 5, 1, 5), True),
        ((0, "aaa", 6, 1, 6), True),
        ((0, "bbb", 30, 10, 30), True),
        ((0, "aaa", 7, 1, 7), True),
        ((0, "aaa", 8, 1, 8), True),
        ((0, "aaa", 9, 9, 9), True),  # post-cleanup restart
        ((0, "aaa", 10, 9, 10), True),
        ((0, "bbb", 40, 40, 40), True),
    ]
    assert_same_multiset(h.output, expected)


def test_row_time_bounded_range_over_golden():
    """OverWindowHarnessTest.scala:362 testRowTimeBoundedRangeOver — 4s RANGE
    on rowtime, deferred cleanup while unprocessed rows remain."""
    qc = StreamQueryConfig(1000, 2000)
    h = KeyedProcessHarness(
        RowTimeBoundedRangeOverKernel(min_max_aggregator(), 4000, rowtime_idx=0, query_config=qc),
        key_fn=lambda r: r[1],
    )
    h.process_watermark(1)
    h.process_element((2, "aaa", 1))
    h.process_watermark(2)
    h.process_element((3, "bbb", 10))
    h.process_watermark(4000)
    h.process_element((4001, "aaa", 2))
    h.process_watermark(4001)
    h.process_element((4002, "aaa", 3))
    h.process_watermark(4002)
    h.process_element((4003, "aaa", 4))
    h.process_watermark(4800)
    h.process_element((4801, "bbb", 25))
    h.process_watermark(6500)
    h.process_element((6501, "aaa", 5))
    h.process_element((6501, "aaa", 6))
    h.process_element((6501, "bbb", 30))
    h.process_watermark(7000)
    h.process_element((7001, "aaa", 7))
    h.process_watermark(8000)
    h.process_element((8001, "aaa", 8))
    h.process_watermark(12000)
    h.process_element((12001, "aaa", 9))
    h.process_element((12001, "aaa", 10))
    h.process_element((12001, "bbb", 40))
    h.process_watermark(19000)
    # cleanup phase
    h.set_processing_time(1000)
    h.process_watermark(20000)
    h.process_element((20001, "ccc", 1))  # cleanup 3000
    h.set_processing_time(2500)
    h.process_element((20002, "ccc", 2))  # cleanup 4500
    h.process_watermark(20010)
    assert len(h.states) > 0
    h.set_processing_time(4499)
    assert len(h.states) > 0
    h.set_processing_time(4500)
    assert len(h.states) == 0  # all state gone
    # state is only removed once all buffered data was processed
    h.process_element((20011, "ccc", 3))  # cleanup 6500
    assert len(h.states) > 0
    h.set_processing_time(6500)  # rescheduled to 8500: data still buffered
    assert len(h.states) > 0
    h.process_watermark(20020)
    assert len(h.states) > 0
    h.set_processing_time(8499)
    assert len(h.states) > 0
    h.set_processing_time(8500)
    assert len(h.states) == 0

    expected = [
        ((2, "aaa", 1, 1, 1), True),
        ((3, "bbb", 10, 10, 10), True),
        ((4001, "aaa", 2, 1, 2), True),
        ((4002, "aaa", 3, 1, 3), True),
        ((4003, "aaa", 4, 2, 4), True),
        ((4801, "bbb", 25, 25, 25), True),
        ((6501, "aaa", 5, 2, 6), True),
        ((6501, "aaa", 6, 2, 6), True),
        ((7001, "aaa", 7, 2, 7), True),
        ((8001, "aaa", 8, 2, 8), True),
        ((6501, "bbb", 30, 25, 30), True),
        ((12001, "aaa", 9, 8, 10), True),
        ((12001, "aaa", 10, 8, 10), True),
        ((12001, "bbb", 40, 40, 40), True),
        ((20001, "ccc", 1, 1, 1), True),
        ((20002, "ccc", 2, 1, 2), True),
        ((20011, "ccc", 3, 3, 3), True),
    ]
    assert_same_multiset(h.output, expected)


def test_row_time_bounded_rows_over_golden():
    """OverWindowHarnessTest.scala:512 testRowTimeBoundedRowsOver — 3-row
    window on rowtime with the same cleanup protocol."""
    qc = StreamQueryConfig(1000, 2000)
    h = KeyedProcessHarness(
        RowTimeBoundedRowsOverKernel(min_max_aggregator(), 3, rowtime_idx=0, query_config=qc),
        key_fn=lambda r: r[1],
    )
    h.process_watermark(800)
    h.process_element((801, "aaa", 1))
    h.process_watermark(2500)
    h.process_element((2501, "bbb", 10))
    h.process_watermark(4000)
    h.process_element((4001, "aaa", 2))
    h.process_element((4001, "aaa", 3))
    h.process_element((4001, "bbb", 20))
    h.process_watermark(4800)
    h.process_element((4801, "aaa", 4))
    h.process_watermark(6500)
    h.process_element((6501, "aaa", 5))
    h.process_element((6501, "aaa", 6))
    h.process_element((6501, "bbb", 30))
    h.process_watermark(7000)
    h.process_element((7001, "aaa", 7))
    h.process_watermark(8000)
    h.process_element((8001, "aaa", 8))
    h.process_watermark(12000)
    h.process_element((12001, "aaa", 9))
    h.process_element((12001, "aaa", 10))
    h.process_element((12001, "bbb", 40))
    h.process_watermark(19000)
    # cleanup phase (identical protocol to the RANGE variant)
    h.set_processing_time(1000)
    h.process_watermark(20000)
    h.process_element((20001, "ccc", 1))
    h.set_processing_time(2500)
    h.process_element((20002, "ccc", 2))
    h.process_watermark(20010)
    assert len(h.states) > 0
    h.set_processing_time(4499)
    assert len(h.states) > 0
    h.set_processing_time(4500)
    assert len(h.states) == 0
    h.process_element((20011, "ccc", 3))
    assert len(h.states) > 0
    h.set_processing_time(6500)
    assert len(h.states) > 0
    h.process_watermark(20020)
    assert len(h.states) > 0
    h.set_processing_time(8499)
    assert len(h.states) > 0
    h.set_processing_time(8500)
    assert len(h.states) == 0

    expected = [
        ((801, "aaa", 1, 1, 1), True),
        ((2501, "bbb", 10, 10, 10), True),
        ((4001, "aaa", 2, 1, 2), True),
        ((4001, "aaa", 3, 1, 3), True),
        ((4001, "bbb", 20, 10, 20), True),
        ((4801, "aaa", 4, 2, 4), True),
        ((6501, "aaa", 5, 3, 5), True),
        ((6501, "aaa", 6, 4, 6), True),
        ((6501, "bbb", 30, 10, 30), True),
        ((7001, "aaa", 7, 5, 7), True),
        ((8001, "aaa", 8, 6, 8), True),
        ((12001, "aaa", 9, 7, 9), True),
        ((12001, "aaa", 10, 8, 10), True),
        ((12001, "bbb", 40, 20, 40), True),
        ((20001, "ccc", 1, 1, 1), True),
        ((20002, "ccc", 2, 1, 2), True),
        ((20011, "ccc", 3, 3, 3), True),
    ]
    assert_same_multiset(h.output, expected)


def _drive_row_time_unbounded(h, range_mode_values):
    """Shared driver for the two unbounded rowtime tests
    (OverWindowHarnessTest.scala:660 and :796 differ only in kernel and one
    late-data value)."""
    h.set_processing_time(1000)
    h.process_watermark(800)
    h.process_element((801, "aaa", 1))
    h.process_watermark(2500)
    h.process_element((2501, "bbb", 10))
    h.process_watermark(4000)
    h.process_element((4001, "aaa", 2))
    h.process_element((4001, "aaa", 3))
    h.process_element((4001, "bbb", 20))
    h.process_watermark(4800)
    h.process_element((4801, "aaa", 4))
    h.process_watermark(6500)
    h.process_element((6501, "aaa", 5))
    h.process_element((6501, "aaa", 6))
    h.process_element((6501, "bbb", 30))
    h.process_watermark(7000)
    h.process_element((7001, "aaa", 7))
    h.process_watermark(8000)
    h.process_element((8001, "aaa", 8))
    h.process_watermark(12000)
    h.process_element((12001, "aaa", 9))
    h.process_element((12001, "aaa", 10))
    h.process_element((12001, "bbb", 40))
    h.process_watermark(19000)
    # cleanup phase
    assert len(h.states) > 0
    h.set_processing_time(2999)  # cleanup timer is 3000: nothing happens
    assert len(h.states) > 0
    h.set_processing_time(3000)
    assert len(h.states) == 0
    h.process_watermark(20000)
    h.process_element((20000, "ccc", range_mode_values))  # late: ts == watermark
    h.process_element((20001, "ccc", 1))  # cleanup 5000
    h.set_processing_time(2500)
    h.process_element((20002, "ccc", 2))  # cleanup stays 5000
    assert len(h.states) > 0
    h.set_processing_time(5000)  # data left: rescheduled to 7000
    h.process_watermark(20010)
    assert len(h.states) > 0
    h.set_processing_time(6999)
    assert len(h.states) > 0
    h.set_processing_time(7000)
    assert len(h.states) == 0


def test_row_time_unbounded_range_over_golden():
    """OverWindowHarnessTest.scala:660 testRowTimeUnboundedRangeOver."""
    qc = StreamQueryConfig(1000, 2000)
    h = KeyedProcessHarness(
        RowTimeUnboundedRangeOverKernel(min_max_aggregator(), rowtime_idx=0, query_config=qc),
        key_fn=lambda r: r[1],
    )
    _drive_row_time_unbounded(h, range_mode_values=1)
    expected = [
        ((801, "aaa", 1, 1, 1), True),
        ((2501, "bbb", 10, 10, 10), True),
        ((4001, "aaa", 2, 1, 3), True),  # RANGE peers share the aggregate
        ((4001, "aaa", 3, 1, 3), True),
        ((4001, "bbb", 20, 10, 20), True),
        ((4801, "aaa", 4, 1, 4), True),
        ((6501, "aaa", 5, 1, 6), True),
        ((6501, "aaa", 6, 1, 6), True),
        ((6501, "bbb", 30, 10, 30), True),
        ((7001, "aaa", 7, 1, 7), True),
        ((8001, "aaa", 8, 1, 8), True),
        ((12001, "aaa", 9, 1, 10), True),
        ((12001, "aaa", 10, 1, 10), True),
        ((12001, "bbb", 40, 10, 40), True),
        ((20001, "ccc", 1, 1, 1), True),
        ((20002, "ccc", 2, 1, 2), True),
    ]
    assert_same_multiset(h.output, expected)


def test_row_time_unbounded_rows_over_golden():
    """OverWindowHarnessTest.scala:796 testRowTimeUnboundedRowsOver."""
    qc = StreamQueryConfig(1000, 2000)
    h = KeyedProcessHarness(
        RowTimeUnboundedRowsOverKernel(min_max_aggregator(), rowtime_idx=0, query_config=qc),
        key_fn=lambda r: r[1],
    )
    _drive_row_time_unbounded(h, range_mode_values=2)
    expected = [
        ((801, "aaa", 1, 1, 1), True),
        ((2501, "bbb", 10, 10, 10), True),
        ((4001, "aaa", 2, 1, 2), True),  # ROWS: each row sees its prefix
        ((4001, "aaa", 3, 1, 3), True),
        ((4001, "bbb", 20, 10, 20), True),
        ((4801, "aaa", 4, 1, 4), True),
        ((6501, "aaa", 5, 1, 5), True),
        ((6501, "aaa", 6, 1, 6), True),
        ((6501, "bbb", 30, 10, 30), True),
        ((7001, "aaa", 7, 1, 7), True),
        ((8001, "aaa", 8, 1, 8), True),
        ((12001, "aaa", 9, 1, 9), True),
        ((12001, "aaa", 10, 1, 10), True),
        ((12001, "bbb", 40, 10, 40), True),
        ((20001, "ccc", 1, 1, 1), True),
        ((20002, "ccc", 2, 1, 2), True),
    ]
    assert_same_multiset(h.output, expected)


# ---------------------------------------------------------------------------
# SortProcessFunctionHarnessTest.scala (order-sensitive: assertOutputEquals)
# ---------------------------------------------------------------------------


def test_sort_proc_time_partitioned_golden():
    """SortProcessFunctionHarnessTest.scala:45 — proc-time sort flushes each
    tick's buffer ordered by (b ASC, c DESC)."""
    h = KeyedProcessHarness(
        ProcTimeSortKernel(sort_key=lambda r: (r[1], -r[2])),
        key_fn=lambda r: r[0],
    )
    h.set_processing_time(3)
    h.process_element((1, 11, 1, "aaa", 11))
    h.process_element((1, 12, 1, "aaa", 11))
    h.process_element((1, 12, 2, "aaa", 11))
    h.process_element((1, 12, 0, "aaa", 11))
    h.process_element((1, 10, 0, "aaa", 11))
    h.set_processing_time(1005)
    h.process_element((1, 1, 0, "aaa", 11))
    h.process_element((1, 3, 0, "aaa", 11))
    h.process_element((1, 2, 0, "aaa", 11))
    h.set_processing_time(1008)

    expected = [
        ((1, 10, 0, "aaa", 11), True),
        ((1, 11, 1, "aaa", 11), True),
        ((1, 12, 2, "aaa", 11), True),
        ((1, 12, 1, "aaa", 11), True),
        ((1, 12, 0, "aaa", 11), True),
        ((1, 1, 0, "aaa", 11), True),
        ((1, 2, 0, "aaa", 11), True),
        ((1, 3, 0, "aaa", 11), True),
    ]
    assert h.output == expected  # assertOutputEquals: exact order


def test_sort_row_time_partitioned_golden():
    """SortProcessFunctionHarnessTest.scala:145 — rowtime sort with secondary
    (b ASC, c DESC) order, late drop, early rows held back."""
    h = KeyedProcessHarness(
        RowTimeSortKernel(rowtime_idx=4, sort_key=lambda r: (r[1], -r[2])),
        key_fn=lambda r: r[0],
    )
    h.process_watermark(3)
    h.process_element((1, 11, 1, "aaa", 1001))
    h.process_element((1, 12, 1, "aaa", 2002))
    h.process_element((1, 13, 2, "aaa", 2002))
    h.process_element((1, 12, 3, "aaa", 2002))
    h.process_element((1, 14, 0, "aaa", 2002))
    h.process_element((1, 12, 3, "aaa", 2004))
    h.process_element((1, 10, 0, "aaa", 2006))
    h.process_watermark(2007)
    h.process_element((1, 20, 1, "aaa", 2008))
    h.process_element((1, 14, 0, "aaa", 2002))  # too late: dropped
    h.process_element((1, 12, 3, "aaa", 2019))  # too early: held in state
    h.process_element((1, 20, 2, "aaa", 2008))
    h.process_element((1, 10, 0, "aaa", 2010))
    h.process_element((1, 19, 0, "aaa", 2008))
    h.process_watermark(2012)

    expected = [
        ((1, 11, 1, "aaa", 1001), True),
        ((1, 12, 3, "aaa", 2002), True),
        ((1, 12, 1, "aaa", 2002), True),
        ((1, 13, 2, "aaa", 2002), True),
        ((1, 14, 0, "aaa", 2002), True),
        ((1, 12, 3, "aaa", 2004), True),
        ((1, 10, 0, "aaa", 2006), True),
        ((1, 19, 0, "aaa", 2008), True),
        ((1, 20, 2, "aaa", 2008), True),
        ((1, 20, 1, "aaa", 2008), True),
        ((1, 10, 0, "aaa", 2010), True),
    ]
    assert h.output == expected
    # the too-early 2019 row is still buffered
    assert 2019 in h.states[1]["data"]


# ---------------------------------------------------------------------------
# Live Structured-Streaming path for the retention group-agg
# ---------------------------------------------------------------------------


def test_group_agg_retention_stream_live(spark, tmp_path):
    """group_agg_retention_stream runs the same kernel semantics on a REAL
    stream (applyInPandasWithState + ProcessingTimeTimeout). With hours of
    retention nothing times out inside the test, so the final running sum
    per key must equal the batch sum — the plumbing proof; the timer
    *semantics* are pinned by the deterministic goldens above."""
    import pyspark.sql.functions as F

    from flink_1_6_0_spark.sources.stream import read_parquet_stream
    from flink_1_6_0_spark.streaming.cleanup_state import (
        StreamQueryConfig,
        group_agg_retention_stream,
    )

    src = f"{tmp_path}/src"
    rows = [(i, i % 3, (i * 7) % 11) for i in range(60)]
    spark.createDataFrame(rows, "event_id long, k long, v long").coalesce(1).write.parquet(src)

    stream = read_parquet_stream(spark, src)
    out = group_agg_retention_stream(
        stream, key_col="k", value_col="v", id_col="event_id",
        query_config=StreamQueryConfig.with_idle_state_retention_time(3_600_000, 7_200_000),
    )
    # A ProcessingTimeTimeout query keeps scheduling timeout-check batches
    # (the engine re-runs the stateful operator so wall-clock timeouts can
    # fire), so neither processAllAvailable nor availableNow ever settles.
    # Poll the sink for the expected result, then stop the live query.
    import time

    q = (
        out.writeStream.format("memory").queryName("retention_live")
        .outputMode("update").start()
    )
    want = {k: sum(v for i, kk, v in rows if kk == k) for k in (0, 1, 2)}
    try:
        got = {}
        deadline = time.time() + 120
        while time.time() < deadline:
            got = {
                r["k"]: r["s"]
                for r in spark.table("retention_live")
                .groupBy("k").agg(F.max("agg_sum").alias("s")).collect()
            }
            if got == want:
                break
            time.sleep(1)
    finally:
        q.stop()
    assert got == want


# ---------------------------------------------------------------------------
# StateCleaningCountTriggerHarnessTest.scala
# ---------------------------------------------------------------------------


class _TriggerHarness:
    """TriggerTestHarness analog for one GlobalWindow pane: tracks trigger
    state, registered proc timers (deduplicated), and fires due timers on
    advance_processing_time, returning their TriggerResults."""

    def __init__(self, trigger):
        self.trigger = trigger
        self.state: dict = {}
        self.proc_time = 0
        self.timers: set[int] = set()

    def current_processing_time(self):
        return self.proc_time

    def register_processing_timer(self, t):
        self.timers.add(t)

    def process_element(self):
        return self.trigger.on_element(self.state, self)

    def advance_processing_time(self, t):
        self.proc_time = t
        results = []
        for ts in sorted([x for x in self.timers if x <= t]):
            self.timers.discard(ts)
            results.append(self.trigger.on_processing_time(self.state, ts))
        return results

    def num_state_entries(self):
        return len(self.state)

    def num_proc_timers(self):
        return len(self.timers)


def test_state_cleaning_count_trigger_fire_and_purge_golden():
    """StateCleaningCountTriggerHarnessTest.scala:36
    testFiringAndFiringWithPurging — count-10 trigger under (2s, 3s)
    retention: FIRE at the count, FIRE_AND_PURGE at the cleanup timer,
    superseded timers CONTINUE."""
    from flink_1_6_0_spark.streaming.cleanup_state import StateCleaningCountTrigger

    qc = StreamQueryConfig(2000, 3000)
    h = _TriggerHarness(StateCleaningCountTrigger(qc, 10))
    T = StateCleaningCountTrigger

    assert h.advance_processing_time(1) == []
    assert h.process_element() == T.CONTINUE  # registers cleanup timer 3001
    assert h.advance_processing_time(1000) == []
    assert h.process_element() == T.CONTINUE  # 1000+2000 <= 3001: reuse
    # two state entries: timer(3001) and counter(2)
    assert h.num_state_entries() == 2
    assert h.advance_processing_time(3001) == [T.FIRE_AND_PURGE]
    assert h.num_state_entries() == 0
    assert h.process_element() == T.CONTINUE  # registers 6001
    assert h.advance_processing_time(4002) == []
    assert h.process_element() == T.CONTINUE  # 4002+2000 > 6001: register 7002
    assert h.process_element() == T.CONTINUE  # reuse 7002
    assert h.num_proc_timers() == 2  # timers 6001 and 7002
    assert h.num_state_entries() == 2
    for _ in range(6):
        assert h.process_element() == T.CONTINUE
    assert h.process_element() == T.FIRE  # the 10th element
    assert h.num_state_entries() == 1  # counter cleared, cleanup time kept
    # 6001 is stale (CONTINUE), 7002 cleans everything
    assert h.advance_processing_time(7002) == [T.CONTINUE, T.FIRE_AND_PURGE]
    assert h.num_state_entries() == 0


def test_state_cleaning_count_trigger_clear_golden():
    """StateCleaningCountTriggerHarnessTest.scala:118 testClear — clear()
    drops both the counter and the cleanup-time state."""
    from flink_1_6_0_spark.streaming.cleanup_state import StateCleaningCountTrigger

    qc = StreamQueryConfig(2000, 3000)
    h = _TriggerHarness(StateCleaningCountTrigger(qc, 3))
    T = StateCleaningCountTrigger
    assert h.process_element() == T.CONTINUE
    assert h.num_proc_timers() == 1
    assert h.num_state_entries() == 2
    T.clear(h.state)
    assert h.num_state_entries() == 0


def test_proc_time_bounded_rows_over_at_time_zero():
    """r12 session-2 review finding: a replay starting at proc time 0 must
    not re-initialize smallest_ts (the reference's 0L sentinel is
    unreachable for wall clocks; the kernel uses None)."""
    h = KeyedProcessHarness(
        ProcTimeBoundedRowsOverKernel(min_max_aggregator(), 2, StreamQueryConfig()),
        key_fn=lambda r: r[1],
    )
    h.set_processing_time(0)
    h.process_element((0, "k", 10))
    h.set_processing_time(5)
    h.process_element((0, "k", 20))
    h.set_processing_time(6)
    h.process_element((0, "k", 30))  # window = {20, 30}: the t=0 row retracts
    assert h.output[-1] == ((0, "k", 30, 20, 30), True)


def test_proc_time_bounded_rows_over_offset_one():
    """r12 ADVICE: preceding_offset=1 — every element retracts its
    predecessor, emptying the row map and parking smallest_ts on the
    sentinel; the inserted current row must re-seat smallest_ts or the next
    element KeyErrors. (The reference's copy of this flaw is latent: its
    planner always passes offset = lowerBound+1 >= 2.)"""
    h = KeyedProcessHarness(
        ProcTimeBoundedRowsOverKernel(min_max_aggregator(), 1, StreamQueryConfig()),
        key_fn=lambda r: r[1],
    )
    h.set_processing_time(10)
    h.process_element((0, "k", 5))
    h.set_processing_time(20)
    h.process_element((0, "k", 7))   # retracts 5, window = {7}
    h.set_processing_time(30)
    h.process_element((0, "k", 3))   # pre-fix: KeyError on the sentinel
    assert [r for r, _ in h.output] == [
        (0, "k", 5, 5, 5),
        (0, "k", 7, 7, 7),
        (0, "k", 3, 3, 3),
    ]
