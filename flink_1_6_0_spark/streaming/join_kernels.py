"""Two-input stream-join kernels — the reference's CoProcessFunction joins.

Reference: flink-table/src/main/scala/org/apache/flink/table/runtime/join/
NonWindowJoin.scala:49 (state layout: per-side MapState[row → (count,
expiredTime)] + per-side timer ValueState, the getNewExpiredTime retention
rule), NonWindowInnerJoin.scala:40, NonWindowOuterJoin.scala:40
(preservedJoin / retractJoin null-padding retractions),
NonWindowLeftRightJoin.scala:42, NonWindowFullJoin.scala:41,
NonWindowOuterJoinWithNonEquiPredicates.scala:41 (per-row join-count state),
NonWindowLeftRightJoinWithNonEquiPredicates.scala:43,
NonWindowFullJoinWithNonEquiPredicates.scala:43,
TimeBoundedStreamJoin.scala:54 (interval join with emitted-flag padding,
crossed timer states, minCleanUpInterval), ProcTimeBoundedStreamJoin
.scala:30, RowTimeBoundedStreamJoin.scala:30 (+ the
KeyedCoProcessOperatorWithWatermarkDelay watermark hold-back),
CRowWrappingMultiOutputCollector.scala:28, EmitAwareCollector.scala:26,
OuterJoinPaddingUtil.scala:25.

Why kernels (see streaming/cleanup_state.py for the fuller rationale): the
Spark-native paths (streaming/nonwindow_join.py, operators/joins.py
interval_join) are the 100-TB execution strategy; these kernels are the
reference-exact semantics executors for the modes Spark cannot express —
RETRACTION input streams (CRow change=false), processing-time interval
joins, and idle-state retention on join state — and the substrate the
JoinHarnessTest goldens replay against. Each is a per-key pure-Python state
machine, distributable by key via ``keyed.per_key`` exactly like the one-input
kernels.
"""

from __future__ import annotations

from flink_1_6_0_spark.streaming.cleanup_state import KeyedProcessHarness, StreamQueryConfig
from flink_1_6_0_spark.streaming.keyed import per_key, schema_names

__all__ = [
    "NonWindowInnerJoinKernel",
    "NonWindowLeftRightJoinKernel",
    "NonWindowFullJoinKernel",
    "NonWindowLeftRightJoinNonEquiKernel",
    "NonWindowFullJoinNonEquiKernel",
    "TimeBoundedJoinKernel",
    "TwoInputKeyedProcessHarness",
    "nonwindow_join_retention_df",
    "timebounded_join_df",
    "rowtime_timebounded_join_df",
]

LONG_MAX = 2**63 - 1


class _MultiCollector:
    """CRowWrappingMultiOutputCollector.scala:28 — emits a row ``times``
    times and counts emissions."""

    def __init__(self, out):
        self.out = out
        self.change = True
        self.times = 0
        self.emit_cnt = 0

    def reset(self):
        self.times = 0
        self.emit_cnt = 0

    def collect(self, row: tuple):
        self.emit_cnt += self.times
        for _ in range(self.times):
            self.out.collect(row, self.change)


def _pad_left(left_row: tuple, right_arity: int) -> tuple:
    # OuterJoinPaddingUtil.padLeft — the preserved left row, right side null
    return tuple(left_row) + (None,) * right_arity


def _pad_right(right_row: tuple, left_arity: int) -> tuple:
    return (None,) * left_arity + tuple(right_row)


# ---------------------------------------------------------------------------
# Non-window joins (NonWindowJoin.scala family)
# ---------------------------------------------------------------------------


class NonWindowJoinKernelBase:
    """NonWindowJoin.scala:49. ``join_fn(left_row, right_row)`` returns the
    joined row, or None when the non-equi predicate rejects the pair (the
    generated FlatJoinFunction that doesn't collect)."""

    def __init__(self, join_fn, left_arity: int, right_arity: int, query_config: StreamQueryConfig):
        self.join_fn = join_fn
        self.left_arity = left_arity
        self.right_arity = right_arity
        self.qc = query_config
        self.cur_process_time = 0

    # -- retention plumbing (NonWindowJoin.scala:170-215) ----------------
    def _get_new_expired_time(self, cur_process_time: int, old_expired_time: int) -> int:
        if (
            self.qc.state_cleaning_enabled
            and cur_process_time + self.qc.min_idle_state_retention_ms > old_expired_time
        ):
            return cur_process_time + self.qc.max_idle_state_retention_ms
        return old_expired_time

    def _update_current_side(self, state, ctx, row, change, timer_key, side_key):
        side = state.setdefault(side_key, {})
        self.cur_process_time = ctx.current_processing_time()
        cnt_and_expired = side.get(row, [0, -1])
        cnt_and_expired[1] = self._get_new_expired_time(self.cur_process_time, cnt_and_expired[1])
        if self.qc.state_cleaning_enabled and state.get(timer_key, 0) == 0:
            state[timer_key] = cnt_and_expired[1]
            ctx.register_processing_timer(cnt_and_expired[1])
        if not change:
            cnt_and_expired[0] -= 1
            if cnt_and_expired[0] <= 0:
                side.pop(row, None)
            else:
                side[row] = cnt_and_expired
        else:
            cnt_and_expired[0] += 1
            side[row] = cnt_and_expired
        if not side:
            state.pop(side_key, None)  # empty map ≠ a keyed-state entry
        return cnt_and_expired

    def _call_join(self, input_row, input_from_left, other_row):
        if input_from_left:
            return self.join_fn(input_row, other_row)
        return self.join_fn(other_row, input_row)

    def _expire_out_time_row(self, state, ctx, cur_time, side_key, timer_key, is_left):
        side = state.get(side_key) or {}
        valid_timestamp = False
        for row in list(side):
            if side[row][1] <= cur_time:
                del side[row]
                self._on_expired_row(state, row, is_left)
            else:
                valid_timestamp = True
        if valid_timestamp:
            cleanup_time = cur_time + self.qc.max_idle_state_retention_ms
            ctx.register_processing_timer(cleanup_time)
            state[timer_key] = cleanup_time
        else:
            state.pop(timer_key, None)
            state.pop(side_key, None)
            self._on_side_cleared(state, is_left)

    def _on_expired_row(self, state, row, is_left):
        pass

    def _on_side_cleared(self, state, is_left):
        pass

    # -- harness surface --------------------------------------------------
    def process_element1(self, state, ctx, row, change, out):
        self._process(state, ctx, row, change, out, "left_timer", "left", "right", True)

    def process_element2(self, state, ctx, row, change, out):
        self._process(state, ctx, row, change, out, "right_timer", "right", "left", False)

    def on_timer(self, state, ctx, timestamp, is_proc_time, out):
        if not (self.qc.state_cleaning_enabled and is_proc_time):
            return
        if state.get("left_timer", 0) == timestamp:
            self._expire_out_time_row(state, ctx, timestamp, "left", "left_timer", True)
        if state.get("right_timer", 0) == timestamp:
            self._expire_out_time_row(state, ctx, timestamp, "right", "right_timer", False)

    def _process(self, state, ctx, row, change, out, timer_key, cur_key, other_key, is_left):
        raise NotImplementedError

    # outer-join helpers (NonWindowOuterJoin.scala:63-150) ----------------
    def _collect_append_null(self, c: _MultiCollector, row, from_left):
        c.collect(_pad_left(row, self.right_arity) if from_left else _pad_right(row, self.left_arity))

    def _preserved_join(self, state, c, input_row, from_left, other_key):
        other = state.get(other_key) or {}
        for other_row in list(other):
            cnt, expired = other[other_row]
            c.times = cnt
            joined = self._call_join(input_row, from_left, other_row)
            if joined is not None:
                c.collect(joined)
            if self.qc.state_cleaning_enabled and self.cur_process_time >= expired:
                del other[other_row]
        if not other:
            state.pop(other_key, None)
        join_cnt = c.emit_cnt
        if join_cnt == 0:
            c.times = 1
            self._collect_append_null(c, input_row, from_left)
        return join_cnt

    def _approx_record_num(self, state, cur_key) -> int:
        num = 0
        for cnt_exp in (state.get(cur_key) or {}).values():
            num += cnt_exp[0]
            if num >= 2:
                break
        return num

    def _retract_join(self, state, c, row, change, from_left, cur_key, other_key):
        other = state.get(other_key) or {}
        record_num = self._approx_record_num(state, cur_key)
        for other_row in list(other):
            cnt, expired = other[other_row]
            c.times = cnt
            if record_num == 1 and change:
                c.change = False
                self._collect_append_null(c, other_row, not from_left)
                c.change = True
            joined = self._call_join(row, from_left, other_row)
            if joined is not None:
                c.collect(joined)
            if not change and record_num == 0:
                c.change = True
                self._collect_append_null(c, other_row, not from_left)
                c.change = False
            if self.qc.state_cleaning_enabled and self.cur_process_time >= expired:
                del other[other_row]
        if not other:
            state.pop(other_key, None)


class NonWindowInnerJoinKernel(NonWindowJoinKernelBase):
    """NonWindowInnerJoin.scala:40 — emit each matched pair count-weighted;
    retraction input flips the emitted change flag."""

    def _process(self, state, ctx, row, change, out, timer_key, cur_key, other_key, is_left):
        self._update_current_side(state, ctx, row, change, timer_key, cur_key)
        c = _MultiCollector(out)
        c.change = change
        other = state.get(other_key) or {}
        for other_row in list(other):
            cnt, expired = other[other_row]
            c.times = cnt
            joined = self._call_join(row, is_left, other_row)
            if joined is not None:
                c.collect(joined)
            if self.qc.state_cleaning_enabled and self.cur_process_time >= expired:
                del other[other_row]
        if not other:
            state.pop(other_key, None)


class NonWindowLeftRightJoinKernel(NonWindowJoinKernelBase):
    """NonWindowLeftRightJoin.scala:42 — preserved side pads with null when
    unmatched; the other side retracts/declares padding flips."""

    def __init__(self, join_fn, left_arity, right_arity, is_left_join: bool, query_config):
        super().__init__(join_fn, left_arity, right_arity, query_config)
        self.is_left_join = is_left_join

    def _process(self, state, ctx, row, change, out, timer_key, cur_key, other_key, is_left):
        self._update_current_side(state, ctx, row, change, timer_key, cur_key)
        c = _MultiCollector(out)
        c.change = change
        if is_left == self.is_left_join:
            self._preserved_join(state, c, row, is_left, other_key)
        else:
            self._retract_join(state, c, row, change, is_left, cur_key, other_key)


class NonWindowFullJoinKernel(NonWindowJoinKernelBase):
    """NonWindowFullJoin.scala:41 — both sides preserved: retractJoin plus a
    trailing null-pad when nothing matched."""

    def _process(self, state, ctx, row, change, out, timer_key, cur_key, other_key, is_left):
        self._update_current_side(state, ctx, row, change, timer_key, cur_key)
        c = _MultiCollector(out)
        c.change = change
        self._retract_join(state, c, row, change, is_left, cur_key, other_key)
        if c.emit_cnt == 0:
            c.times = 1
            self._collect_append_null(c, row, is_left)


class _NonEquiMixin(NonWindowJoinKernelBase):
    """NonWindowOuterJoinWithNonEquiPredicates.scala:41 — per-row join-count
    MapStates ('left_cnt'/'right_cnt') track how many matches each
    PRESERVED-side row currently has, so padding flips exactly when a row's
    count crosses 0."""

    @staticmethod
    def _cnt_key(is_left_cnt_state: bool) -> str:
        return "left_cnt" if is_left_cnt_state else "right_cnt"

    def _retract_join_non_equi(self, state, c, row, change, from_left, other_key, other_cnt_key):
        """Returns the arriving row's TRUE matched-copy count: sum of the
        matched other rows' record counts. This is what the full join seeds
        the arriving row's joinCnt with — a DELIBERATE DEVIATION from
        NonWindowFullJoinWithNonEquiPredicates.scala:96, which seeds
        ``cRowWrapper.getEmitCnt``: the emit counter also counts the
        pad-RETRACTION emitted when a matched row crosses 0→1 matches, so a
        row with N≥2 fresh matches seeds 2N instead of N; when all its
        matches later retract, the 1→0 crossing is never observed and the
        row is never re-padded (its joinCntState is maintained ±1 per
        opposite element everywhere else — the seed is the one inconsistent
        write, and the reference's own JoinHarnessTest never retracts all
        matches of a multi-fresh-match row, so the flaw is latent there).
        Pinned by test_full_join_non_equi_repad_after_multi_match_retract."""
        matched = 0
        other = state.get(other_key) or {}
        other_cnt = state.setdefault(other_cnt_key, {})
        for other_row in list(other):
            cnt, expired = other[other_row]
            joined = self._call_join(row, from_left, other_row)
            if joined is not None:
                matched += cnt
                c.times = cnt
                join_cnt = other_cnt.get(other_row, 0)
                if change:
                    other_cnt[other_row] = join_cnt + 1
                    if join_cnt == 0:
                        c.change = False
                        self._collect_append_null(c, other_row, not from_left)
                        c.change = True
                    c.collect(joined)
                else:
                    other_cnt[other_row] = join_cnt - 1
                    c.collect(joined)
                    if join_cnt == 1:
                        c.change = True
                        self._collect_append_null(c, other_row, not from_left)
                        c.change = False
            if self.qc.state_cleaning_enabled and self.cur_process_time >= expired:
                del other[other_row]
        if not other:
            state.pop(other_key, None)
        if not other_cnt:
            state.pop(other_cnt_key, None)
        return matched

    def _on_expired_row(self, state, row, is_left):
        # expireOutTimeRow with joinCntState: drop the expired row's count
        cnt_map = state.get(self._cnt_key(is_left))
        if cnt_map is not None:
            cnt_map.pop(row, None)
            if not cnt_map:
                state.pop(self._cnt_key(is_left), None)

    def _clear_cnt_if(self, state, is_left, condition: bool):
        if condition:
            state.pop(self._cnt_key(is_left), None)


class NonWindowLeftRightJoinNonEquiKernel(_NonEquiMixin):
    """NonWindowLeftRightJoinWithNonEquiPredicates.scala:43."""

    def __init__(self, join_fn, left_arity, right_arity, is_left_join: bool, query_config):
        super().__init__(join_fn, left_arity, right_arity, query_config)
        self.is_left_join = is_left_join

    def _on_side_cleared(self, state, is_left):
        self._clear_cnt_if(state, is_left, is_left == self.is_left_join)

    def _process(self, state, ctx, row, change, out, timer_key, cur_key, other_key, is_left):
        cur_cnt_key = self._cnt_key(is_left)
        cnt_and_expired = self._update_current_side(state, ctx, row, change, timer_key, cur_key)
        if not change and cnt_and_expired[0] <= 0 and is_left == self.is_left_join:
            cnt_map = state.get(cur_cnt_key)
            if cnt_map is not None:
                cnt_map.pop(row, None)
                if not cnt_map:
                    state.pop(cur_cnt_key, None)
        c = _MultiCollector(out)
        c.change = change
        if is_left == self.is_left_join:
            join_cnt = self._preserved_join(state, c, row, is_left, other_key)
            if cnt_and_expired[0] == 1 and change:
                state.setdefault(cur_cnt_key, {})[row] = join_cnt
        else:
            self._retract_join_non_equi(
                state, c, row, change, is_left, other_key, self._cnt_key(not is_left)
            )


class NonWindowFullJoinNonEquiKernel(_NonEquiMixin):
    """NonWindowFullJoinWithNonEquiPredicates.scala:43."""

    def __init__(self, join_fn, left_arity, right_arity, query_config):
        super().__init__(join_fn, left_arity, right_arity, query_config)
        self.is_left_join = False  # the reference passes isLeftJoin = false

    def _on_side_cleared(self, state, is_left):
        self._clear_cnt_if(state, is_left, is_left == self.is_left_join)

    def _process(self, state, ctx, row, change, out, timer_key, cur_key, other_key, is_left):
        cur_cnt_key = self._cnt_key(is_left)
        cnt_and_expired = self._update_current_side(state, ctx, row, change, timer_key, cur_key)
        if not change and cnt_and_expired[0] <= 0:
            cnt_map = state.get(cur_cnt_key)
            if cnt_map is not None:
                cnt_map.pop(row, None)
                if not cnt_map:
                    state.pop(cur_cnt_key, None)
        c = _MultiCollector(out)
        c.change = change
        matched = self._retract_join_non_equi(
            state, c, row, change, is_left, other_key, self._cnt_key(not is_left)
        )
        if change and cnt_and_expired[0] == 1:
            # a zero count is still a state entry, as in the reference;
            # seeded with the TRUE matched-copy count, not the emit counter —
            # see _retract_join_non_equi's reference-deviation note
            state.setdefault(cur_cnt_key, {})[row] = matched
        if c.emit_cnt == 0:
            c.times = 1
            self._collect_append_null(c, row, is_left)


# ---------------------------------------------------------------------------
# Time-bounded (interval) stream join — TimeBoundedStreamJoin.scala:54
# ---------------------------------------------------------------------------


class TimeBoundedJoinKernel:
    """``L.time BETWEEN R.time + left_lower AND R.time + left_upper``.

    ``proc_time=True`` = ProcTimeBoundedStreamJoin.scala:30 (row time = the
    operator's processing clock, cleanup via proc timers);
    ``proc_time=False`` = RowTimeBoundedStreamJoin.scala:30 (row time from
    ``left/right_time_idx``, cleanup via event timers, watermark held back
    by ``watermark_delay``).

    State per key: 'left_cache'/'right_cache' = {time: [[row, emitted], …]}
    and the CROSSED timer values ('right_timer' cleans the LEFT cache —
    TimeBoundedStreamJoin.scala:385 registerCleanUpTimer's left/right
    naming). Outer variants pad unmatched rows when they expire, using the
    per-row emitted flag.
    """

    INNER, LEFT_OUTER, RIGHT_OUTER, FULL_OUTER = "inner", "left", "right", "full"

    def __init__(
        self,
        join_type: str,
        left_lower_bound: int,
        left_upper_bound: int,
        allowed_lateness: int,
        join_fn,
        left_arity: int,
        right_arity: int,
        proc_time: bool = False,
        left_time_idx: int = 0,
        right_time_idx: int = 0,
    ):
        if allowed_lateness < 0:
            raise ValueError("The allowed lateness must be non-negative.")
        self.join_type = join_type
        self.left_relative_size = -left_lower_bound
        self.right_relative_size = left_upper_bound
        self.allowed_lateness = allowed_lateness
        self.join_fn = join_fn
        self.left_arity = left_arity
        self.right_arity = right_arity
        self.proc_time = proc_time
        self.left_time_idx = left_time_idx
        self.right_time_idx = right_time_idx
        self.min_cleanup_interval = (self.left_relative_size + self.right_relative_size) // 2
        self.left_expiration = 0
        self.right_expiration = 0
        self.left_operator_time = 0
        self.right_operator_time = 0

    @property
    def watermark_delay(self) -> int:
        # RowTimeBoundedStreamJoin.getMaxOutputDelay
        return max(self.left_relative_size, self.right_relative_size) + self.allowed_lateness

    def _update_operator_time(self, ctx):
        if self.proc_time:
            self.left_operator_time = ctx.current_processing_time()
        else:
            wm = ctx.current_watermark()
            self.left_operator_time = wm if wm > 0 else 0
        self.right_operator_time = self.left_operator_time

    def _register_timer(self, ctx, t):
        if self.proc_time:
            ctx.register_processing_timer(t)
        else:
            ctx.register_event_timer(t)

    @staticmethod
    def _cal_expiration(operator_time, relative_size, lateness):
        if operator_time < LONG_MAX:
            return operator_time - relative_size - lateness - 1
        return LONG_MAX

    def _register_cleanup(self, state, ctx, row_time, left_row: bool):
        if left_row:
            cleanup = row_time + self.left_relative_size + self.min_cleanup_interval + self.allowed_lateness + 1
            self._register_timer(ctx, cleanup)
            state["right_timer"] = cleanup
        else:
            cleanup = row_time + self.right_relative_size + self.min_cleanup_interval + self.allowed_lateness + 1
            self._register_timer(ctx, cleanup)
            state["left_timer"] = cleanup

    def _pad(self, row, from_left):
        return _pad_left(row, self.right_arity) if from_left else _pad_right(row, self.left_arity)

    def process_element1(self, state, ctx, row, change, out):
        self._process(state, ctx, row, out, from_left=True)

    def process_element2(self, state, ctx, row, change, out):
        self._process(state, ctx, row, out, from_left=False)

    def _process(self, state, ctx, row, out, from_left: bool):
        self._update_operator_time(ctx)
        if from_left:
            row_time = self.left_operator_time if self.proc_time else row[self.left_time_idx]
            other_lower = row_time - self.right_relative_size
            other_upper = row_time + self.left_relative_size
            other_cache_key, own_cache_key = "right_cache", "left_cache"
            own_timer_key = "right_timer"  # crossed naming, see class docstring
            other_outer = self.join_type in (self.RIGHT_OUTER, self.FULL_OUTER)
            own_outer = self.join_type in (self.LEFT_OUTER, self.FULL_OUTER)
            other_operator_time = self.right_operator_time
            expiration_ok = self.right_expiration < other_upper
        else:
            row_time = self.right_operator_time if self.proc_time else row[self.right_time_idx]
            other_lower = row_time - self.left_relative_size
            other_upper = row_time + self.right_relative_size
            other_cache_key, own_cache_key = "left_cache", "right_cache"
            own_timer_key = "left_timer"
            other_outer = self.join_type in (self.LEFT_OUTER, self.FULL_OUTER)
            own_outer = self.join_type in (self.RIGHT_OUTER, self.FULL_OUTER)
            other_operator_time = self.left_operator_time
            expiration_ok = self.left_expiration < other_upper

        emitted = False
        if expiration_ok:
            if from_left:
                self.right_expiration = self._cal_expiration(
                    self.left_operator_time, self.right_relative_size, self.allowed_lateness
                )
                new_expiration = self.right_expiration
            else:
                self.left_expiration = self._cal_expiration(
                    self.right_operator_time, self.left_relative_size, self.allowed_lateness
                )
                new_expiration = self.left_expiration
            other_cache = state.get(other_cache_key) or {}
            for other_time in list(other_cache):
                entries = other_cache[other_time]
                if other_lower <= other_time <= other_upper:
                    for entry in entries:
                        joined = (
                            self.join_fn(row, entry[0]) if from_left else self.join_fn(entry[0], row)
                        )
                        if joined is not None:
                            out.collect(joined, True)
                            emitted = True
                            if other_outer and not entry[1]:
                                entry[1] = True
                if other_time <= new_expiration:
                    if other_outer:
                        for entry in entries:
                            if not entry[1]:
                                out.collect(self._pad(entry[0], not from_left), True)
                    del other_cache[other_time]
            if not other_cache:
                state.pop(other_cache_key, None)

        if other_operator_time < other_upper:
            own_cache = state.setdefault(own_cache_key, {})
            own_cache.setdefault(row_time, []).append([row, emitted])
            if state.get(own_timer_key, 0) == 0:
                self._register_cleanup(state, ctx, row_time, left_row=from_left)
        elif own_outer and not emitted:
            out.collect(self._pad(row, from_left), True)

    def on_timer(self, state, ctx, timestamp, is_proc_time, out):
        if is_proc_time != self.proc_time:
            return
        self._update_operator_time(ctx)
        if state.get("left_timer", 0) == timestamp:
            self.right_expiration = self._cal_expiration(
                self.left_operator_time, self.right_relative_size, self.allowed_lateness
            )
            self._remove_expired(
                state, ctx, out, self.right_expiration, "right_cache", "left_timer", remove_left=False
            )
        if state.get("right_timer", 0) == timestamp:
            self.left_expiration = self._cal_expiration(
                self.right_operator_time, self.left_relative_size, self.allowed_lateness
            )
            self._remove_expired(
                state, ctx, out, self.left_expiration, "left_cache", "right_timer", remove_left=True
            )

    def _remove_expired(self, state, ctx, out, expiration, cache_key, timer_key, remove_left):
        cache = state.get(cache_key) or {}
        pad_on_expire = (
            remove_left and self.join_type in (self.LEFT_OUTER, self.FULL_OUTER)
        ) or (not remove_left and self.join_type in (self.RIGHT_OUTER, self.FULL_OUTER))
        earliest = -1
        for row_time in list(cache):
            if row_time <= expiration:
                if pad_on_expire:
                    for entry in cache[row_time]:
                        if not entry[1]:
                            out.collect(self._pad(entry[0], remove_left), True)
                del cache[row_time]
            elif row_time < earliest or earliest < 0:
                earliest = row_time
        if earliest > 0:
            self._register_cleanup(state, ctx, earliest, left_row=remove_left)
        else:
            state.pop(timer_key, None)
            state.pop(cache_key, None)


# ---------------------------------------------------------------------------
# Two-input deterministic executor (KeyedTwoInputStreamOperatorTestHarness
# analog + batch replay engine)
# ---------------------------------------------------------------------------


class TwoInputKeyedProcessHarness(KeyedProcessHarness):
    """Drives a two-input kernel with injected processing time and per-input
    watermarks — the timer service, firing order, dedup, state accounting
    and collector are inherited from the one-input harness so the
    InternalTimerService emulation lives in exactly one place. The operator
    watermark is min(wm1, wm2); on advance, due event timers fire and —
    when ``watermark_delay`` is set (the
    KeyedCoProcessOperatorWithWatermarkDelay wrapper the rowtime join tests
    use) — the held-back watermark (min − delay) is recorded in
    ``self.watermarks``."""

    def __init__(self, kernel, key1_fn, key2_fn, watermark_delay: int | None = None):
        super().__init__(kernel, key_fn=key1_fn)
        self.key2_fn = key2_fn
        self.watermark_delay = watermark_delay
        self.watermarks: list[int] = []
        self.wm1 = -(2**63)
        self.wm2 = -(2**63)

    def process_element1(self, row, change=True):
        self._run(self.key_fn(row), self.kernel.process_element1, row, change)

    def process_element2(self, row, change=True):
        self._run(self.key2_fn(row), self.kernel.process_element2, row, change)

    def process_watermark1(self, t):
        self.wm1 = t
        self._advance_watermark()

    def process_watermark2(self, t):
        self.wm2 = t
        self._advance_watermark()

    def _advance_watermark(self):
        combined = min(self.wm1, self.wm2)
        if combined > self.watermark:
            super().process_watermark(combined)
            if self.watermark_delay is not None:
                self.watermarks.append(combined - self.watermark_delay)


# ---------------------------------------------------------------------------
# Distributed replay entrypoints (keyed.per_key — no driver loop)
#
# The cleanup_state.py recipe applied to the two-input family: the union of
# both sides shuffles ONCE on the join key, and each key's interleaved
# element sequence replays through the real kernel inside an Arrow batch.
# Timers and state are per-key in the reference, so the replay is exact, not
# approximate; parallelism grows with the number of keys, and the 100 TB
# bound is the widest key — the reference's own bound for a keyed
# CoProcessFunction.
# ---------------------------------------------------------------------------


def _nullable_longs(rows: list[tuple], names: list[str]) -> dict:
    """Output rows as nullable-long (``Int64``) columns: outer-join padding
    needs a null-capable integer dtype, built per column so longs past 2**53
    stay exact."""
    import pandas as pd

    return {name: pd.array([r[i] for r in rows], dtype="Int64") for i, name in enumerate(names)}


def nonwindow_join_retention_df(
    df,
    key_col: str,
    side_col: str,
    pt_col: str,
    change_col: str,
    payload_cols: list[str],
    join_predicate,
    query_config: StreamQueryConfig,
    out_schema: str,
    join_type: str = "full",
):
    """Distributed NonWindow*JoinWithNonEquiPredicates replay
    (NonWindowFullJoinWithNonEquiPredicates.scala:43 /
    NonWindowLeftRightJoinWithNonEquiPredicates.scala:43): per key, the
    interleaved two-sided element sequence — ``side_col`` 0=left 1=right,
    ``change_col`` False=retraction — streams through the real kernel with
    idle-state retention, processing time advanced to ``pt_col`` before each
    element (the deterministic replay convention). The emitted RETRACTION
    stream is netted per row value; surviving rows (net > 0, multiplicity-
    preserved) are returned as ``(key, left_payload…, right_payload…)`` with
    null padding, i.e. the materialized continuous-join result.

    All payload/output columns are nullable longs (``Int64`` on the Arrow
    side — padding needs a null-capable integer dtype).
    """
    from collections import Counter

    arity = len(payload_cols)
    names = schema_names(out_schema)

    def join_fn(left_row, right_row):
        if join_predicate(left_row, right_row):
            return tuple(left_row) + tuple(right_row)
        return None

    def make_kernel():
        if join_type == "full":
            return NonWindowFullJoinNonEquiKernel(join_fn, arity, arity, query_config)
        if join_type in ("left", "right"):
            return NonWindowLeftRightJoinNonEquiKernel(
                join_fn, arity, arity, join_type == "left", query_config
            )
        raise ValueError(f"unsupported join_type: {join_type}")

    def replay(key, pdf):
        h = TwoInputKeyedProcessHarness(make_kernel(), key1_fn=lambda r: 0, key2_fn=lambda r: 0)
        payload_series = [pdf[c] for c in payload_cols]
        for side, pt, change, *payload in zip(
            pdf[side_col], pdf[pt_col], pdf[change_col], *payload_series
        ):
            h.set_processing_time(int(pt))
            row = tuple(int(v) for v in payload)
            if side == 0:
                h.process_element1(row, bool(change))
            else:
                h.process_element2(row, bool(change))
        net: Counter = Counter()
        for row, change in h.output:
            net[row] += 1 if change else -1
        return _nullable_longs(
            [key + row for row, n in net.items() if n > 0 for _ in range(n)], names
        )

    cols = list(dict.fromkeys([key_col, side_col, pt_col, change_col, *payload_cols]))
    # inserts before retractions on a pt tie — a retraction can only follow
    # the insert it cancels
    order = [(pt_col, True), (change_col, False)]
    return per_key(df, [key_col], order, replay, out_schema, cols)


def timebounded_join_df(
    df,
    key_col: str,
    side_col: str,
    pt_col: str,
    payload_cols: list[str],
    join_type: str,
    left_lower_bound: int,
    left_upper_bound: int,
    out_schema: str,
):
    """Distributed proc-time TimeBoundedStreamJoin replay
    (ProcTimeBoundedStreamJoin.scala:30 over TimeBoundedStreamJoin
    .scala:54): per key, both sides' rows arrive in ``pt_col`` order —
    proc-time mode stamps each row with the operator clock at arrival — and
    join when ``left.pt BETWEEN right.pt + left_lower AND right.pt +
    left_upper``. A final clock advance past every cleanup timer plays
    end-of-job: expired cache entries flush, and outer variants pad rows
    whose emitted-flag never flipped. Output rows are ``(key,
    left_payload…, right_payload…)`` nullable longs."""
    arity = len(payload_cols)
    names = schema_names(out_schema)

    def join_fn(left_row, right_row):
        return tuple(left_row) + tuple(right_row)

    def replay(key, pdf):
        kernel = TimeBoundedJoinKernel(
            join_type,
            left_lower_bound,
            left_upper_bound,
            0,
            join_fn,
            arity,
            arity,
            proc_time=True,
        )
        h = TwoInputKeyedProcessHarness(kernel, key1_fn=lambda r: 0, key2_fn=lambda r: 0)
        payload_series = [pdf[c] for c in payload_cols]
        for side, pt, *payload in zip(pdf[side_col], pdf[pt_col], *payload_series):
            h.set_processing_time(int(pt))
            row = tuple(int(v) for v in payload)
            if side == 0:
                h.process_element1(row)
            else:
                h.process_element2(row)
        h.set_processing_time(2**62)  # job end: cleanup timers fire, pads flush
        return _nullable_longs([key + row for row, _ in h.output], names)

    cols = list(dict.fromkeys([key_col, side_col, pt_col, *payload_cols]))
    return per_key(df, [key_col], [pt_col], replay, out_schema, cols)


def rowtime_timebounded_join_df(
    df,
    key_col: str,
    side_col: str,
    rt_col: str,
    payload_cols: list[str],
    join_type: str,
    left_lower_bound: int,
    left_upper_bound: int,
    out_schema: str,
):
    """Distributed ROWTIME TimeBoundedStreamJoin replay
    (RowTimeBoundedStreamJoin.scala:30): per key, both sides' rows arrive in
    event-time order with the watermark advanced to each row's timestamp
    AFTER it processes (so every row is on-time and the previous rows'
    cache-expiry has run — the deterministic replay convention for event
    time). Join when ``left.rt BETWEEN right.rt + left_lower AND right.rt +
    left_upper`` on the ROW timestamps; a final watermark advance plays
    end-of-input, firing every cleanup timer so outer pads flush exactly
    once. ``rt_col`` must be one of ``payload_cols`` (the kernel reads row
    time from the row itself, left/right_time_idx)."""
    arity = len(payload_cols)
    time_idx = payload_cols.index(rt_col)
    names = schema_names(out_schema)

    def join_fn(left_row, right_row):
        return tuple(left_row) + tuple(right_row)

    def replay(key, pdf):
        kernel = TimeBoundedJoinKernel(
            join_type,
            left_lower_bound,
            left_upper_bound,
            0,
            join_fn,
            arity,
            arity,
            proc_time=False,
            left_time_idx=time_idx,
            right_time_idx=time_idx,
        )
        h = TwoInputKeyedProcessHarness(kernel, key1_fn=lambda r: 0, key2_fn=lambda r: 0)
        payload_series = [pdf[c] for c in payload_cols]
        for side, rt, *payload in zip(pdf[side_col], pdf[rt_col], *payload_series):
            row = tuple(int(v) for v in payload)
            if side == 0:
                h.process_element1(row)
            else:
                h.process_element2(row)
            h.process_watermark1(int(rt))
            h.process_watermark2(int(rt))
        h.process_watermark1(2**62)
        h.process_watermark2(2**62)
        return _nullable_longs([key + row for row, _ in h.output], names)

    cols = list(dict.fromkeys([key_col, side_col, rt_col, *payload_cols]))
    return per_key(df, [key_col], [rt_col, side_col], replay, out_schema, cols)
