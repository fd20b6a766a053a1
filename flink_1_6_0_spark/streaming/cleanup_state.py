"""Keyed process kernels with idle-state cleanup timers — the
ProcessFunctionWithCleanupState family.

Reference: flink-table/src/main/scala/org/apache/flink/table/runtime/aggregate/
ProcessFunctionWithCleanupState.scala:29 (the min/max-retention timer-coalescing
rule), GroupAggProcessFunction.scala:39, ProcTimeBoundedRowsOver.scala:43,
ProcTimeBoundedRangeOver.scala:42, ProcTimeUnboundedOver.scala:38,
RowTimeBoundedRangeOver.scala:44, RowTimeBoundedRowsOver.scala:44,
RowTimeUnboundedOver.scala:44 (+ Rows/Range subclasses at :252/:284),
ProcTimeSortProcessFunction.scala:36, RowTimeSortProcessFunction.scala:38,
and api/queryConfig.scala:33 (StreamQueryConfig).

Why this exists next to the Spark-native paths (streaming/group_agg.py,
streaming/over_agg.py, streaming/sort.py): those map Flink's EVENT-time story
onto Structured Streaming watermarks, which Spark executes natively. Flink's
default mode for non-windowed aggs and OVER windows, however, is PROCESSING
time with StreamQueryConfig idle-state retention — state is dropped after
min..max idle time and a reappearing key restarts from scratch (the documented
overwrite caveat, queryConfig.scala:58). Spark has no injectable processing
time, so that mode runs here as explicit keyed kernels:

- per key the kernel is a pure-Python state machine (exactly the reference's
  per-key ValueState/MapState layout),
- batch / replay execution distributes BY KEY via ``keyed.per_key`` (timers
  are per-key, so per-key replay is semantics-preserving and embarrassingly
  parallel — no cross-key state exists in any of these functions),
- live streams run via ``applyInPandasWithState`` with
  ``GroupStateTimeout.ProcessingTimeTimeout`` (wall-clock cleanup).

At 100 TB the state these kernels carry is exactly Flink's: O(live keys ×
window payload); the cleanup timers are what bound "live". The replay path
shuffles once on the key and never collects.
"""

from __future__ import annotations

import functools
import heapq
from dataclasses import dataclass, field

from flink_1_6_0_spark.streaming.keyed import order_spec, per_key, per_key_state

__all__ = [
    "StreamQueryConfig",
    "SumWithRetract",
    "CountWithRetract",
    "MinWithRetract",
    "MaxWithRetract",
    "RowAggregator",
    "GroupAggKernel",
    "ProcTimeBoundedRowsOverKernel",
    "ProcTimeBoundedRangeOverKernel",
    "ProcTimeUnboundedOverKernel",
    "RowTimeBoundedRangeOverKernel",
    "RowTimeBoundedRowsOverKernel",
    "RowTimeUnboundedRowsOverKernel",
    "RowTimeUnboundedRangeOverKernel",
    "ProcTimeSortKernel",
    "RowTimeSortKernel",
    "StateCleaningCountTrigger",
    "KeyedProcessHarness",
    "replay_keyed_proctime",
    "group_agg_retention_df",
    "group_agg_retention_stream",
    "proctime_rows_over_df",
    "proctime_sort_df",
    "rowtime_sort_df",
]


MIN_MAX_GAP_MS = 5 * 60 * 1000  # queryConfig.scala:65 — "at least 5 minutes"


@dataclass(frozen=True)
class StreamQueryConfig:
    """StreamQueryConfig analog (api/queryConfig.scala:33).

    ``with_idle_state_retention_time`` applies the reference's validation
    (max-min ≥ 5 min unless both zero, queryConfig.scala:73); the bare
    constructor is the harness's TestStreamQueryConfig (HarnessTestBase
    .scala:393) — unvalidated, for tests that need tight timers.
    """

    min_idle_state_retention_ms: int = 0
    max_idle_state_retention_ms: int = 0

    @classmethod
    def with_idle_state_retention_time(cls, min_ms: int, max_ms: int) -> "StreamQueryConfig":
        if max_ms - min_ms < MIN_MAX_GAP_MS and not (max_ms == 0 and min_ms == 0):
            raise ValueError(
                f"Difference between minTime: {min_ms} ms and maxTime: {max_ms} ms "
                "should be at least 5 minutes."
            )
        return cls(min_ms, max_ms)

    @property
    def state_cleaning_enabled(self) -> bool:
        # ProcessFunctionWithCleanupState.scala:33: minRetentionTime > 1
        return self.min_idle_state_retention_ms > 1


# ---------------------------------------------------------------------------
# Retractable aggregate functions (flink-table .../functions/aggfunctions)
# ---------------------------------------------------------------------------


class SumWithRetract:
    """SumWithRetractAggFunction.scala — (sum, count); value None until count>0."""

    def create_acc(self):
        return [0, 0]  # sum, count

    def accumulate(self, acc, v):
        if v is not None:
            acc[0] += v
            acc[1] += 1

    def retract(self, acc, v):
        if v is not None:
            acc[0] -= v
            acc[1] -= 1

    def get(self, acc):
        return acc[0] if acc[1] > 0 else None


class CountWithRetract:
    def create_acc(self):
        return [0]

    def accumulate(self, acc, v):
        if v is not None:
            acc[0] += 1

    def retract(self, acc, v):
        if v is not None:
            acc[0] -= 1

    def get(self, acc):
        return acc[0]


class _MinMaxWithRetract:
    """Min/MaxWithRetractAggFunction.scala — multiset of values (the reference
    keeps a MapState counting occurrences) + lazily recomputed extreme."""

    _pick = min

    def create_acc(self):
        return [{}]  # value -> multiplicity

    def accumulate(self, acc, v):
        if v is not None:
            acc[0][v] = acc[0].get(v, 0) + 1

    def retract(self, acc, v):
        if v is not None:
            n = acc[0].get(v, 0) - 1
            if n <= 0:
                acc[0].pop(v, None)
            else:
                acc[0][v] = n

    def get(self, acc):
        return type(self)._pick(acc[0]) if acc[0] else None


class MinWithRetract(_MinMaxWithRetract):
    _pick = min


class MaxWithRetract(_MinMaxWithRetract):
    _pick = max


class RowAggregator:
    """GeneratedAggregations analog (HarnessTestBase.scala:78 shows the
    generated shape): forwarded input→output field copies plus positional
    aggregates.

    ``forwarded``: list of (input_idx, output_idx) copies.
    ``aggs``: list of (input_idx, output_idx, agg_fn) — agg_fn consumes the
    input field at input_idx, its value lands at output_idx.
    """

    def __init__(self, arity: int, forwarded: list[tuple[int, int]], aggs: list[tuple[int, int, object]]):
        self.arity = arity
        self.forwarded = forwarded
        self.aggs = aggs

    def create_accumulators(self):
        return [a.create_acc() for _, _, a in self.aggs]

    def accumulate(self, accs, row):
        for i, (in_idx, _, a) in enumerate(self.aggs):
            a.accumulate(accs[i], row[in_idx])

    def retract(self, accs, row):
        for i, (in_idx, _, a) in enumerate(self.aggs):
            a.retract(accs[i], row[in_idx])

    def create_output_row(self):
        return [None] * self.arity

    def set_forwarded_fields(self, row, out):
        for in_idx, out_idx in self.forwarded:
            out[out_idx] = row[in_idx]

    def set_aggregation_results(self, accs, out):
        for i, (_, out_idx, a) in enumerate(self.aggs):
            out[out_idx] = a.get(accs[i])


# ---------------------------------------------------------------------------
# Cleanup-state helpers (ProcessFunctionWithCleanupState.scala:36-84)
# ---------------------------------------------------------------------------


class CleanupKernelBase:
    """Shared cleanup-timer bookkeeping. Subclasses keep per-key state in
    ``state`` dicts supplied by the executor; the reserved key
    ``__cleanup_time`` mirrors cleanupTimeState."""

    def __init__(self, query_config: StreamQueryConfig | None = None):
        self.qc = query_config or StreamQueryConfig()

    def register_processing_cleanup_timer(self, state: dict, ctx, current_time: int) -> None:
        # ProcessFunctionWithCleanupState.scala:46: re-register only when the
        # standing timer would delete state we still need (coalescing rule).
        if self.qc.state_cleaning_enabled:
            cur = state.get("__cleanup_time")
            if cur is None or current_time + self.qc.min_idle_state_retention_ms > cur:
                cleanup_time = current_time + self.qc.max_idle_state_retention_ms
                ctx.register_processing_timer(cleanup_time)
                state["__cleanup_time"] = cleanup_time

    def need_to_cleanup_state(self, state: dict, timestamp: int) -> bool:
        # scala:71: only the LAST registered processing-time timer cleans up.
        if not self.qc.state_cleaning_enabled:
            return False
        cleanup_time = state.get("__cleanup_time")
        return cleanup_time is not None and timestamp == cleanup_time

    @staticmethod
    def cleanup_state(state: dict, *keys: str) -> None:
        for k in keys:
            state.pop(k, None)
        state.pop("__cleanup_time", None)

    # subclass surface -------------------------------------------------
    def process_element(self, state: dict, ctx, row, change: bool, out) -> None:
        raise NotImplementedError

    def on_timer(self, state: dict, ctx, timestamp: int, is_proc_time: bool, out) -> None:
        pass


class GroupAggKernel(CleanupKernelBase):
    """GroupAggProcessFunction.scala:39 — non-windowed group aggregate with
    retract input handling, optional retraction generation, the equal-row
    emission skip (only when cleaning is DISABLED, scala:137), the
    count-to-zero delete (scala:155), and idle-state cleanup."""

    def __init__(self, aggregator: RowAggregator, generate_retraction: bool, query_config=None):
        super().__init__(query_config)
        self.f = aggregator
        self.generate_retraction = generate_retraction

    def process_element(self, state, ctx, row, change, out):
        current_time = ctx.current_processing_time()
        self.register_processing_cleanup_timer(state, ctx, current_time)

        accumulators = state.get("acc")
        first_row = accumulators is None
        if first_row:
            accumulators = self.f.create_accumulators()
        input_cnt = state.get("cnt", 0)

        new_row = self.f.create_output_row()
        prev_row = self.f.create_output_row()
        self.f.set_forwarded_fields(row, new_row)
        self.f.set_forwarded_fields(row, prev_row)
        self.f.set_aggregation_results(accumulators, prev_row)

        if change:
            input_cnt += 1
            self.f.accumulate(accumulators, row)
        else:
            input_cnt -= 1
            self.f.retract(accumulators, row)
        self.f.set_aggregation_results(accumulators, new_row)

        if input_cnt != 0:
            state["acc"] = accumulators
            state["cnt"] = input_cnt
            if not first_row:
                if prev_row == new_row and not self.qc.state_cleaning_enabled:
                    # scala:137 — identical result, no cleaning: emit nothing.
                    # With cleaning enabled we must emit to keep downstream
                    # operators' cleanup timers alive.
                    return
                if self.generate_retraction:
                    out.collect(tuple(prev_row), False)
            out.collect(tuple(new_row), True)
        else:
            # retracted the last record for this key: delete + clear state
            out.collect(tuple(prev_row), False)
            state.pop("acc", None)
            state.pop("cnt", None)

    def on_timer(self, state, ctx, timestamp, is_proc_time, out):
        if is_proc_time and self.need_to_cleanup_state(state, timestamp):
            self.cleanup_state(state, "acc", "cnt")


class ProcTimeBoundedRowsOverKernel(CleanupKernelBase):
    """ProcTimeBoundedRowsOver.scala:43 — ROWS BETWEEN N-1 PRECEDING AND
    CURRENT ROW over processing time: immediate per-element emit, oldest row
    retracted once the buffer holds ``preceding_offset`` rows."""

    def __init__(self, aggregator: RowAggregator, preceding_offset: int, query_config=None):
        super().__init__(query_config)
        if preceding_offset <= 0:
            raise ValueError("precedingOffset must be > 0")
        self.f = aggregator
        self.preceding_offset = preceding_offset

    def process_element(self, state, ctx, row, change, out):
        current_time = ctx.current_processing_time()
        self.register_processing_cleanup_timer(state, ctx, current_time)

        accumulators = state.get("acc")
        if accumulators is None:
            accumulators = self.f.create_accumulators()
        row_map = state.setdefault("rows", {})  # proc ts -> list[row]
        # the reference uses 0L as the unset sentinel (ValueState[Long]
        # default; unreachable for wall clocks) — replays can legitimately
        # start at proc time 0, so unset is None here
        smallest_ts = state.get("smallest_ts")
        if smallest_ts is None:
            smallest_ts = current_time
            state["smallest_ts"] = smallest_ts
        counter = state.get("counter", 0)

        if counter == self.preceding_offset:
            retract_list = row_map[smallest_ts]
            self.f.retract(accumulators, retract_list.pop(0))
            if not retract_list:
                del row_map[smallest_ts]
                state["smallest_ts"] = min(row_map) if row_map else 2**63 - 1
        else:
            state["counter"] = counter + 1

        output = self.f.create_output_row()
        self.f.set_forwarded_fields(row, output)
        self.f.accumulate(accumulators, row)
        self.f.set_aggregation_results(accumulators, output)

        row_map.setdefault(current_time, []).append(row)
        if current_time < state["smallest_ts"]:
            # preceding_offset == 1: the retraction above emptied the map and
            # parked smallest_ts on the unreachable sentinel — the row just
            # inserted is now the smallest timestamp (the reference can never
            # plan offset 1, so its copy of this flaw is latent; ours is not)
            state["smallest_ts"] = current_time
        state["acc"] = accumulators
        out.collect(tuple(output), True)

    def on_timer(self, state, ctx, timestamp, is_proc_time, out):
        if is_proc_time and self.need_to_cleanup_state(state, timestamp):
            self.cleanup_state(state, "rows", "acc", "counter", "smallest_ts")


class ProcTimeBoundedRangeOverKernel(CleanupKernelBase):
    """ProcTimeBoundedRangeOver.scala:42 — RANGE over processing time:
    elements buffer per proc-time ms, a t+1 timer emits them all with the
    aggregate over (t - preceding, t], retracting expired timestamps."""

    def __init__(self, aggregator: RowAggregator, preceding_ms: int, query_config=None):
        super().__init__(query_config)
        self.f = aggregator
        self.preceding_ms = preceding_ms

    def process_element(self, state, ctx, row, change, out):
        current_time = ctx.current_processing_time()
        self.register_processing_cleanup_timer(state, ctx, current_time)
        row_map = state.setdefault("rows", {})
        if current_time not in row_map:
            ctx.register_processing_timer(current_time + 1)
            row_map[current_time] = []
        row_map[current_time].append(row)

    def on_timer(self, state, ctx, timestamp, is_proc_time, out):
        if not is_proc_time:
            return
        if self.need_to_cleanup_state(state, timestamp):
            self.cleanup_state(state, "rows", "acc")
            return
        current_time = timestamp - 1
        row_map = state.get("rows") or {}
        current_elements = row_map.get(current_time)
        # scala:141 — expired cleanup timers pass needToCleanupState; a timer
        # with no buffered rows is a no-op.
        if not current_elements:
            return
        accumulators = state.get("acc")
        if accumulators is None:
            accumulators = self.f.create_accumulators()

        limit = current_time - self.preceding_ms
        for ts in [t for t in row_map if t < limit]:
            for retract_row in row_map[ts]:
                self.f.retract(accumulators, retract_row)
            del row_map[ts]

        for row in current_elements:
            self.f.accumulate(accumulators, row)
        for row in current_elements:
            output = self.f.create_output_row()
            self.f.set_forwarded_fields(row, output)
            self.f.set_aggregation_results(accumulators, output)
            out.collect(tuple(output), True)
        state["acc"] = accumulators


class ProcTimeUnboundedOverKernel(CleanupKernelBase):
    """ProcTimeUnboundedOver.scala:38 — running aggregate, immediate emit;
    cleanup resets the running state."""

    def __init__(self, aggregator: RowAggregator, query_config=None):
        super().__init__(query_config)
        self.f = aggregator

    def process_element(self, state, ctx, row, change, out):
        self.register_processing_cleanup_timer(state, ctx, ctx.current_processing_time())
        accumulators = state.get("acc")
        if accumulators is None:
            accumulators = self.f.create_accumulators()
        output = self.f.create_output_row()
        self.f.set_forwarded_fields(row, output)
        self.f.accumulate(accumulators, row)
        self.f.set_aggregation_results(accumulators, output)
        state["acc"] = accumulators
        out.collect(tuple(output), True)

    def on_timer(self, state, ctx, timestamp, is_proc_time, out):
        if is_proc_time and self.need_to_cleanup_state(state, timestamp):
            self.cleanup_state(state, "acc")


class _RowTimeOverBase(CleanupKernelBase):
    """Shared rowtime-OVER buffering: data keyed by rowtime in MapState,
    event timers per new timestamp, the late-row drop against
    lastTriggeringTs, and the deferred proc-time cleanup that refuses to
    drop state while unprocessed rows remain (RowTimeBoundedRangeOver
    .scala:141)."""

    def __init__(self, aggregator: RowAggregator, rowtime_idx: int, query_config=None):
        super().__init__(query_config)
        self.f = aggregator
        self.rowtime_idx = rowtime_idx

    def process_element(self, state, ctx, row, change, out):
        self.register_processing_cleanup_timer(state, ctx, ctx.current_processing_time())
        triggering_ts = row[self.rowtime_idx]
        if triggering_ts > state.get("last_triggering_ts", 0):
            data = state.setdefault("data", {})
            if triggering_ts in data:
                data[triggering_ts].append(row)
            else:
                data[triggering_ts] = [row]
                ctx.register_event_timer(triggering_ts)

    def _cleanup_proc_timer(self, state, ctx, timestamp, state_keys):
        if self.need_to_cleanup_state(state, timestamp):
            last_processed = state.get("last_triggering_ts", 0)
            if any(ts > last_processed for ts in (state.get("data") or {})):
                # rows wait on a missing watermark — keep state, re-arm
                self.register_processing_cleanup_timer(state, ctx, ctx.current_processing_time())
            else:
                self.cleanup_state(state, *state_keys)


class RowTimeBoundedRangeOverKernel(_RowTimeOverBase):
    """RowTimeBoundedRangeOver.scala:44 — RANGE BETWEEN preceding_ms
    PRECEDING AND CURRENT ROW on rowtime."""

    def __init__(self, aggregator, preceding_ms: int, rowtime_idx: int, query_config=None):
        super().__init__(aggregator, rowtime_idx, query_config)
        self.preceding_ms = preceding_ms

    def on_timer(self, state, ctx, timestamp, is_proc_time, out):
        if is_proc_time:
            self._cleanup_proc_timer(state, ctx, timestamp, ("data", "acc", "last_triggering_ts"))
            return
        data = state.get("data") or {}
        inputs = data.get(timestamp)
        if inputs is not None:
            accumulators = state.get("acc")
            if accumulators is None:
                accumulators = self.f.create_accumulators()
            # retract everything older than the range
            for ts in [t for t in data if timestamp - t > self.preceding_ms]:
                for retract_row in data[ts]:
                    self.f.retract(accumulators, retract_row)
                del data[ts]
            for row in inputs:
                self.f.accumulate(accumulators, row)
            for row in inputs:
                output = self.f.create_output_row()
                self.f.set_forwarded_fields(row, output)
                self.f.set_aggregation_results(accumulators, output)
                out.collect(tuple(output), True)
            state["acc"] = accumulators
        state["last_triggering_ts"] = timestamp
        self.register_processing_cleanup_timer(state, ctx, ctx.current_processing_time())


class RowTimeBoundedRowsOverKernel(_RowTimeOverBase):
    """RowTimeBoundedRowsOver.scala:44 — ROWS BETWEEN N-1 PRECEDING AND
    CURRENT ROW on rowtime."""

    def __init__(self, aggregator, preceding_offset: int, rowtime_idx: int, query_config=None):
        super().__init__(aggregator, rowtime_idx, query_config)
        self.preceding_offset = preceding_offset

    def on_timer(self, state, ctx, timestamp, is_proc_time, out):
        if is_proc_time:
            self._cleanup_proc_timer(
                state, ctx, timestamp, ("data", "acc", "data_count", "last_triggering_ts")
            )
            return
        data = state.get("data") or {}
        inputs = data.get(timestamp)
        if inputs is not None:
            accumulators = state.get("acc")
            data_count = state.get("data_count", 0)
            retract_list = None
            retract_ts = None
            retract_cnt = 0
            for row in inputs:
                if accumulators is None:
                    accumulators = self.f.create_accumulators()
                if data_count >= self.preceding_offset:
                    if retract_list is None:
                        retract_ts = min(data)
                        retract_list = data[retract_ts]
                    self.f.retract(accumulators, retract_list[retract_cnt])
                    retract_cnt += 1
                    if len(retract_list) == retract_cnt:
                        del data[retract_ts]
                        retract_list = None
                        retract_cnt = 0
                else:
                    data_count += 1
                self.f.accumulate(accumulators, row)
                output = self.f.create_output_row()
                self.f.set_forwarded_fields(row, output)
                self.f.set_aggregation_results(accumulators, output)
                out.collect(tuple(output), True)
            # rows retracted from a partially-consumed timestamp list stay
            # removed (RowTimeBoundedRowsOver.scala:208 keeps the remainder)
            if retract_list is not None:
                data[retract_ts] = retract_list[retract_cnt:]
            state["acc"] = accumulators
            state["data_count"] = data_count
        state["last_triggering_ts"] = timestamp
        self.register_processing_cleanup_timer(state, ctx, ctx.current_processing_time())


class _RowTimeUnboundedOverKernel(CleanupKernelBase):
    """RowTimeUnboundedOver.scala:44 — buffer rows above the watermark,
    emit sorted by rowtime when the watermark passes (timer at wm+1)."""

    _range_mode = False

    def __init__(self, aggregator: RowAggregator, rowtime_idx: int, query_config=None):
        super().__init__(query_config)
        self.f = aggregator
        self.rowtime_idx = rowtime_idx

    def process_element(self, state, ctx, row, change, out):
        self.register_processing_cleanup_timer(state, ctx, ctx.current_processing_time())
        timestamp = row[self.rowtime_idx]
        cur_watermark = ctx.current_watermark()
        if timestamp > cur_watermark:
            ctx.register_event_timer(cur_watermark + 1)
            state.setdefault("rows", {}).setdefault(timestamp, []).append(row)

    def on_timer(self, state, ctx, timestamp, is_proc_time, out):
        if is_proc_time:
            if self.need_to_cleanup_state(state, timestamp):
                if state.get("rows"):
                    self.register_processing_cleanup_timer(
                        state, ctx, ctx.current_processing_time()
                    )
                else:
                    self.cleanup_state(state, "rows", "acc")
            return
        row_map = state.get("rows") or {}
        if row_map:
            cur_watermark = ctx.current_watermark()
            due = sorted(ts for ts in row_map if ts <= cur_watermark)
            exist_early = any(ts > cur_watermark for ts in row_map)
            accumulators = state.get("acc")
            if accumulators is None:
                accumulators = self.f.create_accumulators()
            for ts in due:
                rows = row_map.pop(ts)
                self._emit_same_timestamp(rows, accumulators, out)
            state["acc"] = accumulators
            if exist_early:
                ctx.register_event_timer(cur_watermark + 1)
        self.register_processing_cleanup_timer(state, ctx, ctx.current_processing_time())

    def _emit_same_timestamp(self, rows, accumulators, out):
        raise NotImplementedError


class RowTimeUnboundedRowsOverKernel(_RowTimeUnboundedOverKernel):
    """RowTimeUnboundedOver.scala:252 RowTimeUnboundedRowsOver — each row of a
    timestamp sees the rows before it."""

    def _emit_same_timestamp(self, rows, accumulators, out):
        for row in rows:
            self.f.accumulate(accumulators, row)
            output = self.f.create_output_row()
            self.f.set_forwarded_fields(row, output)
            self.f.set_aggregation_results(accumulators, output)
            out.collect(tuple(output), True)


class RowTimeUnboundedRangeOverKernel(_RowTimeUnboundedOverKernel):
    """RowTimeUnboundedOver.scala:284 RowTimeUnboundedRangeOver — all rows of
    a timestamp share one aggregate (peers in RANGE mode)."""

    def _emit_same_timestamp(self, rows, accumulators, out):
        for row in rows:
            self.f.accumulate(accumulators, row)
        for row in rows:
            output = self.f.create_output_row()
            self.f.set_forwarded_fields(row, output)
            self.f.set_aggregation_results(accumulators, output)
            out.collect(tuple(output), True)


class ProcTimeSortKernel(CleanupKernelBase):
    """ProcTimeSortProcessFunction.scala:36 — buffer arrivals, a t+1 timer
    flushes the buffer sorted by ``sort_key``. No cleanup state: the buffer
    self-drains every tick."""

    def __init__(self, sort_key):
        super().__init__(None)
        self.sort_key = sort_key

    def process_element(self, state, ctx, row, change, out):
        state.setdefault("buf", []).append(row)
        ctx.register_processing_timer(ctx.current_processing_time() + 1)

    def on_timer(self, state, ctx, timestamp, is_proc_time, out):
        if not is_proc_time:
            return
        buf = state.pop("buf", [])
        for row in sorted(buf, key=self.sort_key):
            out.collect(tuple(row), True)


class RowTimeSortKernel(CleanupKernelBase):
    """RowTimeSortProcessFunction.scala:38 — rows buffer per rowtime; the
    rowtime's event timer emits them sorted by the secondary comparator;
    late rows (rowtime ≤ lastTriggeringTs) are dropped."""

    def __init__(self, rowtime_idx: int, sort_key=None):
        super().__init__(None)
        self.rowtime_idx = rowtime_idx
        self.sort_key = sort_key

    def process_element(self, state, ctx, row, change, out):
        rowtime = row[self.rowtime_idx]
        if rowtime > state.get("last_triggering_ts", 0):
            data = state.setdefault("data", {})
            if rowtime in data:
                data[rowtime].append(row)
            else:
                data[rowtime] = [row]
                ctx.register_event_timer(rowtime)

    def on_timer(self, state, ctx, timestamp, is_proc_time, out):
        if is_proc_time:
            return
        data = state.get("data") or {}
        inputs = data.pop(timestamp, None)
        if inputs is not None:
            if self.sort_key is not None:
                inputs = sorted(inputs, key=self.sort_key)
            for row in inputs:
                out.collect(tuple(row), True)
            state["last_triggering_ts"] = timestamp


class StateCleaningCountTrigger:
    """StateCleaningCountTrigger.scala:36 — the Table API's GlobalWindow
    count trigger: FIRE once ``max_count`` elements accumulate (clearing the
    counter), FIRE_AND_PURGE when the idle-state cleanup timer lands (the
    same coalescing rule as ProcessFunctionWithCleanupState), CONTINUE
    otherwise. State dict keys: 'count', 'cleanup_time'."""

    CONTINUE, FIRE, FIRE_AND_PURGE = "CONTINUE", "FIRE", "FIRE_AND_PURGE"

    def __init__(self, query_config: StreamQueryConfig, max_count: int):
        self.qc = query_config
        self.max_count = max_count

    def on_element(self, state: dict, ctx) -> str:
        current_time = ctx.current_processing_time()
        if self.qc.state_cleaning_enabled:
            cur = state.get("cleanup_time")
            if cur is None or current_time + self.qc.min_idle_state_retention_ms > cur:
                cleanup_time = current_time + self.qc.max_idle_state_retention_ms
                ctx.register_processing_timer(cleanup_time)
                state["cleanup_time"] = cleanup_time
        count = state.get("count", 0) + 1
        if count >= self.max_count:
            state.pop("count", None)
            return self.FIRE
        state["count"] = count
        return self.CONTINUE

    def on_processing_time(self, state: dict, time: int) -> str:
        if self.qc.state_cleaning_enabled:
            cleanup_time = state.get("cleanup_time")
            if cleanup_time is not None and time == cleanup_time:
                self.clear(state)
                return self.FIRE_AND_PURGE
        return self.CONTINUE

    @staticmethod
    def clear(state: dict) -> None:
        state.pop("count", None)
        state.pop("cleanup_time", None)


# ---------------------------------------------------------------------------
# Deterministic keyed executor (OneInputStreamOperatorTestHarness analog +
# the batch replay engine behind the driver queries)
# ---------------------------------------------------------------------------


class _Collector:
    def __init__(self):
        self.records: list[tuple[tuple, bool]] = []

    def collect(self, row: tuple, change: bool = True):
        self.records.append((row, change))


class KeyedProcessHarness:
    """Deterministic executor for CleanupKernelBase kernels.

    Mirrors the reference harness driving (KeyedOneInputStreamOperatorTest
    Harness): ``set_processing_time`` advances the clock FIRST and then fires
    due processing-time timers (TestProcessingTimeService.java:57 — during
    ``onTimer`` currentProcessingTime reads the NEW time, which is what the
    deferred-cleanup re-arm in the rowtime kernels observes);
    ``process_watermark`` advances the watermark then fires due event-time
    timers. Timers fire in timestamp order (registration order breaking
    ties) and are deduplicated per (key, domain, timestamp) exactly like
    Flink's InternalTimerService.
    """

    def __init__(self, kernel: CleanupKernelBase, key_fn):
        self.kernel = kernel
        self.key_fn = key_fn
        self.states: dict = {}
        self.out = _Collector()
        self.proc_time = 0
        self.watermark = -(2**63)
        self._heaps = {"proc": [], "event": []}  # (ts, seq, key) heaps
        self._timer_set: set[tuple[object, str, int]] = set()
        self._seq = 0
        self._current_key = None

    # ctx surface handed to kernels ------------------------------------
    def current_processing_time(self) -> int:
        return self.proc_time

    def current_watermark(self) -> int:
        return self.watermark

    def register_processing_timer(self, t: int) -> None:
        self._register(t, self._current_key, "proc")

    def register_event_timer(self, t: int) -> None:
        self._register(t, self._current_key, "event")

    def _register(self, t, key, domain):
        if (key, domain, t) not in self._timer_set:
            self._timer_set.add((key, domain, t))
            heapq.heappush(self._heaps[domain], (t, self._seq, key))
            self._seq += 1

    # driving surface ---------------------------------------------------
    def _run(self, key, fn, row, change: bool):
        self._current_key = key
        state = self.states.setdefault(key, {})
        fn(state, self, row, change, self.out)
        if not state:
            self.states.pop(key, None)

    def process_element(self, row, change: bool = True):
        self._run(self.key_fn(row), self.kernel.process_element, row, change)

    def set_processing_time(self, t: int):
        self.proc_time = t
        self._fire_due("proc", t)

    def process_watermark(self, t: int):
        self.watermark = t
        self._fire_due("event", t)

    def _fire_due(self, domain: str, t: int):
        heap = self._heaps[domain]
        while heap and heap[0][0] <= t:
            ts, _, key = heapq.heappop(heap)
            self._timer_set.discard((key, domain, ts))
            self._current_key = key
            state = self.states.setdefault(key, {})
            self.kernel.on_timer(state, self, ts, domain == "proc", self.out)
            if not state:
                self.states.pop(key, None)

    # assertion surface (numKeyedStateEntries / numProcessingTimeTimers /
    # numEventTimeTimers analogs; kernels pop cleared/emptied primitives, so
    # counting dict entries matches the heap backend's entry counting)
    def num_state_entries(self) -> int:
        return sum(len(s) for s in self.states.values())

    def num_proc_timers(self) -> int:
        return sum(1 for (_k, d, _t) in self._timer_set if d == "proc")

    def num_event_timers(self) -> int:
        return sum(1 for (_k, d, _t) in self._timer_set if d == "event")

    @property
    def output(self) -> list[tuple[tuple, bool]]:
        return self.out.records


def replay_keyed_proctime(rows, proc_times, kernel: CleanupKernelBase):
    """Replay ``rows`` (tuples) through ``kernel`` for ONE key, advancing
    processing time to ``proc_times[i]`` before element i (the deterministic
    replay convention: an element's proc time is its arrival stamp). A final
    +∞ tick is NOT applied — state that the cleanup timer hasn't reached
    stays live, as in a running job. Returns the emitted (row, change) list.
    """
    h = KeyedProcessHarness(kernel, key_fn=lambda r: 0)
    for row, pt in zip(rows, proc_times):
        h.set_processing_time(pt)
        h.process_element(row)
    return h.output


# ---------------------------------------------------------------------------
# Distributed replay entrypoints (keyed.per_key — no driver loop)
# ---------------------------------------------------------------------------


def _row_comparator(columns: list[str], sort_cols):
    """CollectionRowComparator over row tuples laid out as ``columns``:
    ``sort_cols`` entries are column names or (name, ascending) pairs, and
    any orderable field type works — descending is a field-by-field
    comparator flip, not a value negation, so strings sort too. Returns the
    cmp function (``functools.cmp_to_key`` wrappers do not pickle)."""
    spec = [(columns.index(c), asc) for c, asc in order_spec(sort_cols)]

    def compare(a, b):
        for i, asc in spec:
            av, bv = a[i], b[i]
            if av == bv:
                continue
            lt = -1 if asc else 1
            return lt if av < bv else -lt
        return 0

    return compare


def group_agg_retention_df(
    df,
    key_col: str,
    proc_time_col: str,
    value_col: str,
    id_col: str,
    min_retention_ms: int,
    max_retention_ms: int,
    out_schema: str | None = None,
):
    """Distributed GroupAggProcessFunction replay: per key, rows ordered by
    (proc_time, id) stream through :class:`GroupAggKernel` (SUM over
    ``value_col``, ``id_col`` forwarded) with idle-state retention
    (min, max). Emits one row per input: (id, key, agg_sum).

    Scale: one shuffle on ``key_col``; each key replays independently inside
    an Arrow batch (timers are per-key, so this is exact, not approximate).
    """
    qc = StreamQueryConfig(min_retention_ms, max_retention_ms)

    def replay(key, pdf):
        kernel = GroupAggKernel(
            RowAggregator(arity=2, forwarded=[(0, 0)], aggs=[(1, 1, SumWithRetract())]),
            generate_retraction=False,
            query_config=qc,
        )
        rows = list(zip(pdf[id_col], pdf[value_col]))
        out = replay_keyed_proctime(rows, list(pdf[proc_time_col]), kernel)
        return {
            id_col: [r[0] for r, _ in out],
            key_col: key[0],
            "agg_sum": [r[1] for r, _ in out],
        }

    schema = out_schema or f"{id_col} long, {key_col} long, agg_sum long"
    cols = [key_col, proc_time_col, value_col, id_col]
    return per_key(df, [key_col], [proc_time_col, id_col], replay, schema, cols)


def group_agg_retention_stream(
    stream,
    key_col: str,
    value_col: str,
    id_col: str,
    query_config: StreamQueryConfig,
    output_schema: str | None = None,
):
    """LIVE Structured-Streaming execution of the retention group-agg: a
    pure step on the live keyed runner ``keyed.per_key_state`` with
    ``GroupStateTimeout.ProcessingTimeTimeout`` — the wall clock plays the
    processing time the batch replay injects.

    The value carries (sum, cnt, cleanup_time); each micro-batch applies the
    reference's coalescing rule against real time (a new deadline is set
    only when now + min outruns the standing cleanup time,
    ProcessFunctionWithCleanupState.scala:46) and a timed-out call drops
    the value, so a key idle past the retention window restarts from
    zero — GroupAggProcessFunction.scala semantics on a live stream. Returns
    the transformed streaming DataFrame (pair with an update-mode sink).

    State at scale: one (sum, cnt, ct) triple per live key — identical to
    Flink's ValueState footprint; the timeout is what bounds "live".
    """
    import time

    from pyspark.sql.streaming.state import GroupStateTimeout

    qc = query_config

    def step(key, pdf, value, clock):
        if clock.timed_out:
            return [], None, None
        now = int(time.time() * 1000)
        acc_sum, cnt, cleanup = value or (0, 0, None)
        out_ids, out_sums = [], []
        for rid, v in zip(pdf[id_col], pdf[value_col]):
            acc_sum += int(v)
            cnt += 1
            out_ids.append(rid)
            out_sums.append(acc_sum)
        if qc.state_cleaning_enabled and (cleanup is None or now + qc.min_idle_state_retention_ms > cleanup):
            cleanup = now + qc.max_idle_state_retention_ms
        deadline = clock.batch_ms + max(1, cleanup - now) if qc.state_cleaning_enabled else None
        value = (acc_sum, cnt, cleanup if cleanup is not None else 0)
        return {id_col: out_ids, "agg_sum": out_sums}, value, deadline

    schema = output_schema or f"{id_col} long, {key_col} long, agg_sum long"
    # the runner hands each key's rows over in id order across every Arrow
    # chunk of the batch, or the live path's intermediate sums diverge from
    # the deterministic replay's
    return per_key_state(
        stream,
        [key_col],
        [id_col],
        step,
        schema,
        "acc_sum long, cnt long, cleanup_time long",
        GroupStateTimeout.ProcessingTimeTimeout,
        [key_col, value_col, id_col],
        mode="update",
    )


def proctime_rows_over_df(
    df,
    key_col: str,
    proc_time_col: str,
    value_col: str,
    id_col: str,
    preceding_offset: int,
):
    """Distributed ProcTimeBoundedRowsOver replay (ProcTimeBoundedRowsOver
    .scala:43, retention disabled): per key, rows in (proc_time, id) arrival
    order stream through the kernel with a ``preceding_offset``-row MIN/MAX
    window. Without retention the emission per row equals the SQL window
    ``ROWS BETWEEN offset-1 PRECEDING AND CURRENT ROW`` — which is the
    oracle. One shuffle on the key; per-key Arrow replay; no driver loop."""

    def replay(key, pdf):
        kernel = ProcTimeBoundedRowsOverKernel(
            RowAggregator(
                arity=3,
                forwarded=[(0, 0)],
                aggs=[(1, 1, MinWithRetract()), (1, 2, MaxWithRetract())],
            ),
            preceding_offset,
            StreamQueryConfig(),
        )
        rows = list(zip(pdf[id_col], pdf[value_col]))
        out = replay_keyed_proctime(rows, list(pdf[proc_time_col]), kernel)
        return {
            id_col: [r[0] for r, _ in out],
            key_col: key[0],
            "min_v": [r[1] for r, _ in out],
            "max_v": [r[2] for r, _ in out],
        }

    schema = f"{id_col} long, {key_col} long, min_v long, max_v long"
    cols = [key_col, proc_time_col, value_col, id_col]
    return per_key(df, [key_col], [proc_time_col, id_col], replay, schema, cols)


def _emitted_columns(h: KeyedProcessHarness, col_idx: dict[str, int], out_cols: list[str]) -> dict:
    """The harness's emitted rows as ``out_cols`` columns plus their
    ``emit_seq`` (the total emission order)."""
    out_rows = [r for r, _ in h.output]
    data = {c: [r[col_idx[c]] for r in out_rows] for c in out_cols}
    data["emit_seq"] = range(len(out_rows))
    return data


def proctime_sort_df(
    df,
    key_col: str,
    proc_time_col: str,
    sort_cols: list[str | tuple[str, bool]],
    out_cols: list[str],
    out_schema: str | None = None,
):
    """Distributed ProcTimeSortProcessFunction replay: per key, rows sharing
    a proc-time tick flush in ``sort_cols`` order once the tick passes
    (ProcTimeSortProcessFunction.scala:36 — the t+1 timer). ``sort_cols``
    entries are column names or (name, ascending) pairs — the reference's
    CollectionRowComparator takes per-field boolean orders and any orderable
    field type (see :func:`_row_comparator`). ``out_schema`` overrides the
    default all-``long`` output DDL when the forwarded columns aren't longs.
    Output carries an ``emit_seq`` so the total emission order is
    checkable."""
    col_idx = {c: i for i, c in enumerate(df.columns)}
    compare = _row_comparator(df.columns, sort_cols)
    pt_i = col_idx[proc_time_col]

    def replay(_key, pdf):
        kernel = ProcTimeSortKernel(sort_key=functools.cmp_to_key(compare))
        h = KeyedProcessHarness(kernel, key_fn=lambda r: 0)
        for row in pdf.itertuples(index=False, name=None):
            h.set_processing_time(row[pt_i])
            h.process_element(row)
        h.set_processing_time(2**62)  # job end: flush the final tick's buffer
        return _emitted_columns(h, col_idx, out_cols)

    schema = out_schema or (", ".join(f"{c} long" for c in out_cols) + ", emit_seq long")
    return per_key(df, [key_col], [proc_time_col], replay, schema)


def rowtime_sort_df(
    df,
    key_col: str,
    rowtime_col: str,
    arrival_col: str,
    sort_cols: list[str | tuple[str, bool]],
    out_cols: list[str],
    out_schema: str | None = None,
):
    """Distributed RowTimeSortProcessFunction replay (RowTimeSortProcess
    Function.scala:38): per key, rows arrive in ``arrival_col`` order (the
    caller passes a deterministic SCRAMBLE — e.g. a multiplicative hash of
    the id — so the emission order is provably the kernel's sort, not the
    feed's), buffer per rowtime, and a final watermark advance fires every
    rowtime timer in ascending order, each flushing its buffer in
    ``sort_cols`` (CollectionRowComparator) order. Total emission order per
    key is therefore (rowtime, *sort_cols) — the oracle's row_number. The
    late-drop path (rowtime <= lastTriggeringTs) is pinned by the
    SortProcessFunctionHarnessTest goldens; this replay proves distributed
    execution of the buffer/timer/sort machinery. One shuffle on the key;
    no driver loop."""
    col_idx = {c: i for i, c in enumerate(df.columns)}
    compare = _row_comparator(df.columns, sort_cols)

    def replay(_key, pdf):
        kernel = RowTimeSortKernel(col_idx[rowtime_col], sort_key=functools.cmp_to_key(compare))
        h = KeyedProcessHarness(kernel, key_fn=lambda r: 0)
        for row in pdf.itertuples(index=False, name=None):
            h.process_element(row)
        h.process_watermark(2**62)  # end of input: fire every rowtime timer
        return _emitted_columns(h, col_idx, out_cols)

    schema = out_schema or (", ".join(f"{c} long" for c in out_cols) + ", emit_seq long")
    return per_key(df, [key_col], [arrival_col], replay, schema)
