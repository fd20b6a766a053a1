"""Event-time windows with allowedLateness — the WindowOperator
merging/lateness/re-fire protocol.

Reference: flink-streaming-java/.../runtime/operators/windowing/
WindowOperator.java:358 (processElement for MergingWindowAssigner: merge →
isWindowLate retire → trigger.onElement → FIRE → registerCleanupTimer; :397
the non-merging path; :434 the skipped+late side output), :590 isWindowLate
(cleanupTime(w) ≤ watermark), :602 isElementLate, :610 registerCleanupTimer
(maxTimestamp + allowedLateness), EventTimeTrigger.java:39 (onElement FIREs
immediately when maxTimestamp ≤ watermark — the LATE-DATA RE-FIRE — else
registers the maxTimestamp timer; onEventTime FIREs only at exactly
maxTimestamp), PurgingTrigger.java (FIRE → FIRE_AND_PURGE: window contents
clear at every firing), TimeWindow.java (maxTimestamp = end − 1),
TumblingEventTimeWindows.java:55, SlidingEventTimeWindows.java:58,
EventTimeSessionWindows.java:83 (assign [ts, ts + gap)). Acceptance:
SessionWindowITCase.java:63 and WindowOperatorTest.java (session, point
session, tumbling lateness/side-output goldens).

Why a kernel: Spark's window()/session_window() + watermark drops late rows
at admission and never re-fires an emitted window; Flink's allowedLateness
keeps the window state alive for `lateness` past the on-time firing and
re-emits the grown (accumulating) or fresh (purging) window per late
element. That re-fire protocol is this kernel, runnable per key on the
deterministic harness (tests) or distributed by key via ``keyed.per_key`` (same
argument as streaming/cleanup_state.py — all state is per key).

At scale the state bound is Flink's: open windows × contents, plus fired
windows retained for `lateness` — the cleanup timer is what reclaims them.
"""

from __future__ import annotations

from flink_1_6_0_spark.streaming.cleanup_state import CleanupKernelBase, KeyedProcessHarness
from flink_1_6_0_spark.streaming.keyed import per_key

__all__ = [
    "EventTimeWindowKernel",
    "SessionWindowKernel",
    "tumbling_windows",
    "sliding_windows",
    "session_windows",
    "global_windows",
    "count_evictor",
    "time_evictor",
    "delta_evictor",
    "event_time_window_df",
]

LONG_MAX = 2**63 - 1


def tumbling_windows(size_ms: int, offset_ms: int = 0):
    """TumblingEventTimeWindows.java:55 — one aligned window per element."""

    def assign(row, ts):
        start = ts - (ts - offset_ms) % size_ms
        return [(start, start + size_ms)]

    return assign


def sliding_windows(size_ms: int, slide_ms: int, offset_ms: int = 0):
    """SlidingEventTimeWindows.java:58 — size/slide windows per element."""

    def assign(row, ts):
        last_start = ts - (ts - offset_ms) % slide_ms
        return [
            (s, s + size_ms)
            for s in range(last_start, ts - size_ms, -slide_ms)
        ]

    return assign


def global_windows():
    """GlobalWindows.java — every element lands in the one global window
    (maxTimestamp = Long.MAX_VALUE; never fired by event time, pair with a
    count trigger)."""

    def assign(row, ts):
        return [(0, LONG_MAX + 1)]

    return assign


def session_windows(gap_ms: int):
    """EventTimeSessionWindows.java:83 — [ts, ts + gap), merged by overlap.
    A gap CALLABLE (row, ts) → gap gives DynamicEventTimeSessionWindows."""

    def assign(row, ts):
        gap = gap_ms(row, ts) if callable(gap_ms) else gap_ms
        return [(ts, ts + gap)]

    return assign


class EventTimeWindowKernel(CleanupKernelBase):
    """Keyed event-time window operator: assignment (merging or not),
    allowedLateness re-fires, purging vs accumulating trigger, and
    late-beyond-lateness side output (``self.side_output`` rows; the
    reference's lateDataOutputTag).

    Emits ``((window_start, window_end, contents_tuple), True)`` per firing.
    State per key: ``windows`` = {(start, end): [payload, ...]}.
    """

    def __init__(
        self,
        assigner,
        allowed_lateness_ms: int,
        ts_idx: int,
        payload_idx: int,
        merging: bool,
        purging: bool = False,
        count_trigger: int | None = None,
        continuous_interval: int | None = None,
        evictor=None,
        time_domain: str = "event",
    ):
        super().__init__(None)
        if allowed_lateness_ms < 0:
            raise ValueError("The allowed lateness must be non-negative.")
        if time_domain not in ("event", "proc"):
            raise ValueError(f"unknown time_domain: {time_domain!r}")
        # PROCESSING-time windows (TumblingProcessingTimeWindows.java:61,
        # ProcessingTimeSessionWindows.java:59, ProcessingTimeTrigger.java:35):
        # assignment reads the CLOCK (element timestamps ignored), the
        # trigger arms a proc timer at maxTimestamp, windows are never late
        # (WindowOperator.java:590 isWindowLate short-circuits on
        # !isEventTime), and cleanupTime == maxTimestamp (WindowOperator
        # .java:653 — allowedLateness applies to event time only), so the
        # firing timer IS the cleanup timer.
        self.proc = time_domain == "proc"
        self.assigner = assigner
        self.lateness = allowed_lateness_ms
        self.ts_idx = ts_idx
        self.payload_idx = payload_idx
        self.merging = merging
        self.purging = purging
        # CountTrigger.java: FIRE every `count_trigger` elements per window;
        # the count is a ReducingState merged BY SUM on session merges
        # (WindowOperatorTest.java:656 pins the merge-then-fire at 6+1).
        # None = EventTimeTrigger.
        self.count_trigger = count_trigger
        # EvictingWindowOperator.java: (evict_fn, evict_after) built by
        # count_evictor/time_evictor/delta_evictor below. With an evictor the
        # window contents store (ts, payload) pairs (the reference keeps
        # whole StreamRecords in ListState for the same reason — TimeEvictor
        # needs element timestamps).
        self.evictor = evictor
        # ContinuousEventTimeTrigger.java:39 — additionally FIRE at aligned
        # `interval` event-time ticks while the window is open; the per-window
        # next-fire time merges BY MIN on session merges (:45).
        self.continuous_interval = continuous_interval
        if count_trigger and continuous_interval:
            raise ValueError("count_trigger and continuous_interval are exclusive")
        self.side_output: list = []  # WindowOperator.java:434 sideOutput

    @property
    def dropped(self) -> int:
        return len(self.side_output)

    # -- window math ------------------------------------------------------
    @staticmethod
    def _max_ts(window: tuple[int, int]) -> int:
        return window[1] - 1  # TimeWindow.maxTimestamp

    def _cleanup_time(self, window) -> int:
        # WindowOperator.cleanupTime: maxTimestamp + lateness, clamped to
        # Long.MAX_VALUE on overflow (Java wrap-around -> negative check;
        # Python ints don't wrap, so clamp explicitly —
        # WindowOperatorTest.testCleanupTimeOverflow); PROC time: just
        # maxTimestamp (lateness is an event-time concept)
        if self.proc:
            return self._max_ts(window)
        t = self._max_ts(window) + self.lateness
        return t if t <= LONG_MAX else LONG_MAX

    def _is_window_late(self, window, ctx) -> bool:
        # WindowOperator.java:590 — event-time only; proc windows can't be late
        return (not self.proc) and self._cleanup_time(window) <= ctx.current_watermark()

    # -- operator protocol --------------------------------------------------
    def process_element(self, state, ctx, row, change, out):
        # proc-time assignment reads the clock; the element ts is ignored
        # (WindowOperatorTest.java:1065 "timestamp is ignored in processing
        # time")
        ts = ctx.current_processing_time() if self.proc else row[self.ts_idx]
        payload = row[self.payload_idx]
        windows = state.setdefault("windows", {})
        is_skipped = True

        for new_window in self.assigner(row, ts):
            if self.merging:
                # MergingWindowSet.addWindow: coalesce every window the new
                # one intersects (TimeWindow.intersects includes touching)
                overlapping = [
                    w for w in windows if w[0] <= new_window[1] and new_window[0] <= w[1]
                ]
                actual = (
                    min([new_window[0]] + [w[0] for w in overlapping]),
                    max([new_window[1]] + [w[1] for w in overlapping]),
                )
                if self._is_window_late(actual, ctx):
                    continue  # retireWindow; live windows are never late
                merged_count = 0
                counts = state.setdefault("counts", {}) if self.count_trigger else None
                fire_ts = state.setdefault("fire_ts", {}) if self.continuous_interval else None
                merged_fire = [fire_ts.pop(w) for w in overlapping if w in fire_ts] if fire_ts is not None else []
                # Reuse the first overlapping window's list instead of copying
                # it into a fresh one: the hot path is chain-extension (each
                # element grows ONE session), where the copy made the merge
                # O(session size) per element — O(n²) per key overall. The 8x
                # skew probe measured 12.1x wall on a single 80k-row session
                # before this; same iteration order, so emitted contents are
                # byte-identical.
                contents = windows.pop(overlapping[0]) if overlapping else []
                for w in overlapping[1:]:
                    contents.extend(windows.pop(w))
                for w in overlapping:
                    if counts is not None:
                        merged_count += counts.pop(w, 0)
                if fire_ts is not None and merged_fire:
                    # onMerge: the MIN of the merged fire times, re-registered
                    fire_ts[actual] = min(merged_fire + [fire_ts[actual]]) if actual in fire_ts else min(merged_fire)
                    ctx.register_event_timer(fire_ts[actual])
            else:
                actual = new_window
                if self._is_window_late(actual, ctx):
                    continue
                contents = windows.pop(actual, [])
                merged_count = 0
                counts = state.setdefault("counts", {}) if self.count_trigger else None
                fire_ts = state.setdefault("fire_ts", {}) if self.continuous_interval else None

            is_skipped = False
            contents.append((ts, payload) if self.evictor is not None else payload)
            windows[actual] = contents

            if self.count_trigger:
                n = merged_count + counts.get(actual, 0) + 1
                if n >= self.count_trigger:
                    counts.pop(actual, None)  # CountTrigger clears its count
                    self._fire(out, windows, actual)
                else:
                    counts[actual] = n
            # ProcessingTimeTrigger.onElement: always CONTINUE + arm the
            # proc timer at maxTimestamp (no late-re-fire concept)
            elif self.proc:
                ctx.register_processing_timer(self._max_ts(actual))
            # EventTimeTrigger.onElement: immediate FIRE for a window whose
            # maxTimestamp the watermark already passed (the late re-fire),
            # else arm the on-time timer
            elif self._max_ts(actual) <= ctx.current_watermark():
                self._fire(out, windows, actual)
            else:
                ctx.register_event_timer(self._max_ts(actual))
                if fire_ts is not None and actual not in fire_ts:
                    # first element of the window seeds the aligned fire tick
                    nxt = ts - (ts % self.continuous_interval) + self.continuous_interval
                    fire_ts[actual] = nxt
                    ctx.register_event_timer(nxt)
            if self.proc:
                ctx.register_processing_timer(self._cleanup_time(actual))
            else:
                ctx.register_event_timer(self._cleanup_time(actual))

        if is_skipped and not self.proc and ts + self.lateness <= ctx.current_watermark():
            self.side_output.append(row)  # isElementLate → lateDataOutputTag
        if not windows:
            state.pop("windows", None)
        if self.count_trigger and not state.get("counts", {"x": 1}):
            state.pop("counts", None)
        if self.continuous_interval and not state.get("fire_ts", {"x": 1}):
            state.pop("fire_ts", None)

    def on_timer(self, state, ctx, timestamp, is_proc_time, out):
        if is_proc_time != self.proc:
            return
        windows = state.get("windows") or {}
        # fire windows whose maxTimestamp is exactly this timer (stale timers
        # of merged-away windows match nothing — the namespaced-timer no-op);
        # a count trigger registers no firing timers (CountTrigger.onEventTime
        # is CONTINUE)
        if not self.count_trigger:
            for w in list(windows):
                if self._max_ts(w) == timestamp:
                    self._fire(out, windows, w)
        if self.continuous_interval:
            fire_ts = state.get("fire_ts") or {}
            for w in list(windows):
                if fire_ts.get(w) == timestamp and self._max_ts(w) != timestamp:
                    # re-arm the next tick, then FIRE; when the aligned tick
                    # coincides with maxTimestamp the window already fired in
                    # the max_ts loop above — ContinuousEventTimeTrigger
                    # .onEventTime early-returns FIRE at maxTimestamp without
                    # touching fireTimestamp (no second fire, no re-arm)
                    fire_ts[w] = timestamp + self.continuous_interval
                    ctx.register_event_timer(fire_ts[w])
                    self._fire(out, windows, w)
        # clear windows whose cleanup time arrived
        for w in list(windows):
            if self._cleanup_time(w) == timestamp:
                del windows[w]
        if not windows:
            state.pop("windows", None)

    def _fire(self, out, windows, window):
        contents = windows.get(window)
        if not contents:
            return  # WindowOperator: null contents emit nothing
        if self.evictor is not None:
            evict_fn, evict_after = self.evictor
            if not evict_after:
                contents = evict_fn(contents)  # evictBefore mutates state
                windows[window] = contents
                # EvictingWindowOperator.java:336 emitWindowContents still
                # invokes the window function when evictBefore emptied the
                # window (e.g. TimeEvictor(0)) — emit the empty-contents
                # record; only NULL contents (already-purged state) skip
            out.collect((window[0], window[1], tuple(p for _, p in contents)), True)
            if evict_after:
                windows[window] = evict_fn(contents)
            if self.purging and not self.merging:
                del windows[window]
            elif self.purging:
                windows[window] = []
            return
        out.collect((window[0], window[1], tuple(contents)), True)
        if self.purging:
            if self.merging:
                # the MergingWindowSet still tracks the purged window's range
                # for later merges — model: entry kept, contents cleared
                windows[window] = []
            else:
                # non-merging FIRE_AND_PURGE leaves NO per-window state (the
                # reference's windowState.clear(); only timers outlive it) —
                # WindowOperatorTest.java:2208 testCleanupTimerWithEmptyXxx:
                # the later cleanup timer must find nothing and emit nothing
                del windows[window]


class SessionWindowKernel(EventTimeWindowKernel):
    """EventTimeSessionWindows + accumulating EventTimeTrigger — the
    SessionWindowITCase configuration."""

    def __init__(self, gap_ms: int, allowed_lateness_ms: int, ts_idx: int, payload_idx: int):
        super().__init__(
            session_windows(gap_ms),
            allowed_lateness_ms,
            ts_idx,
            payload_idx,
            merging=True,
        )


# ---------------------------------------------------------------------------
# Evictors — EvictingWindowOperator.java's evictBefore/evictAfter hooks
# ---------------------------------------------------------------------------


def count_evictor(max_count: int, evict_after: bool = False):
    """CountEvictor.java:52 — keep the last ``max_count`` elements."""

    def fn(elems):
        return elems[len(elems) - max_count:] if len(elems) > max_count else elems

    return (fn, evict_after)


def time_evictor(window_size_ms: int, evict_after: bool = False):
    """TimeEvictor.java:65 — evict elements with ts <= max(ts) - size (the
    no-timestamp pass-through of hasTimestamp=false streams is N/A here:
    the kernel always stamps elements)."""

    def fn(elems):
        if not elems:
            return elems
        cutoff = max(ts for ts, _ in elems) - window_size_ms
        return [e for e in elems if e[0] > cutoff]

    return (fn, evict_after)


def delta_evictor(threshold, delta_fn, evict_after: bool = False):
    """DeltaEvictor.java:74 — evict e when delta(e, lastElement) >= threshold."""

    def fn(elems):
        if not elems:
            return elems
        last = elems[-1][1]
        return [e for e in elems if delta_fn(e[1], last) < threshold]

    return (fn, evict_after)


# ---------------------------------------------------------------------------
# Distributed replay entrypoint (keyed.per_key — no driver loop)
# ---------------------------------------------------------------------------


def event_time_window_df(
    df,
    key_col: str,
    rowtime_col: str,
    late_col: str,
    order_col: str,
    payload_col: str,
    window_size: int | None = None,
    allowed_lateness: int = 0,
    session_gap: int | None = None,
):
    """Distributed EventTimeWindowKernel replay — tumbling event-time windows
    with allowedLateness re-fires (WindowOperator.java:358/590/610,
    EventTimeTrigger.java:39), one shuffle on the key, no driver loop.

    Replay convention per key (deterministic, oracle-derivable):

    - ON-TIME rows (``late_col`` false) feed in (rowtime, order) order with
      the watermark trailing each row's rowtime — every window whose
      maxTimestamp the per-key max on-time rowtime passes fires exactly once
      with ALL its on-time rows (the caller guarantees no row's rowtime ever
      equals a window maxTimestamp, e.g. by doubling an ms rowtime against an
      even window size, so the boundary-tie re-fire class is unreachable).
    - LATE rows then feed in (rowtime, order) order against the settled
      watermark. A late row whose window's cleanup time (maxTimestamp +
      lateness) the watermark already passed is dropped to the side output
      (WindowOperator.java:434); otherwise, if the window's maxTimestamp is
      behind the watermark, EventTimeTrigger.onElement FIREs immediately —
      the accumulating RE-FIRE, one emission per admitted late element with
      the grown contents; if the window is still ahead of the watermark the
      element just joins it.
    - A final watermark advance fires every deferred window's on-time timer
      once and then its cleanup timer (which must emit nothing —
      WindowOperatorTest.java:2208's cleanup-finds-nothing family).

    With ``session_gap`` set (instead of ``window_size``), the assigner is
    EventTimeSessionWindows and the MERGING protocol (MergingWindowSet
    coalescing, stale-timer no-ops) is what's under test: under the same
    replay convention every non-trailing on-time session fires exactly once
    when the watermark passes its (merged) end, the trailing session defers,
    surviving late rows (window end past the watermark + lateness) merge
    among themselves and into the trailing session, and the rest drop —
    all SQL-derivable via gaps-and-islands.

    Emits one row per FIRING: (key, w_start, w_end, fire_seq, cnt,
    sum_payload) with fire_seq the 0-based firing index within (key,
    window) — the oracle can only match if the lateness/merge/re-fire/
    cleanup protocol runs.
    """
    if (window_size is None) == (session_gap is None):
        raise ValueError("exactly one of window_size / session_gap required")
    cols = [key_col, rowtime_col, late_col, order_col, payload_col]
    rt_i, late_i, payload_i = (cols.index(c) for c in (rowtime_col, late_col, payload_col))

    def replay(key, pdf):
        kernel = EventTimeWindowKernel(
            session_windows(session_gap) if session_gap else tumbling_windows(window_size),
            allowed_lateness,
            ts_idx=rt_i,
            payload_idx=payload_i,
            merging=session_gap is not None,
        )
        h = KeyedProcessHarness(kernel, key_fn=lambda r: 0)
        rows = list(pdf.itertuples(index=False, name=None))
        for row in rows:
            if not row[late_i]:
                h.process_element(row)
                h.process_watermark(row[rt_i])
        for row in rows:
            if row[late_i]:
                h.process_element(row)
        h.process_watermark(2**62)  # end of input: deferred fires + cleanups

        seqs: dict = {}
        out = []
        for (ws, we, contents), _ in h.output:
            seq = seqs.get((ws, we), 0)
            seqs[(ws, we)] = seq + 1
            out.append(key + (ws, we, seq, len(contents), sum(contents)))
        return out

    # Key field keeps the INPUT's type (r14 ADVICE: a hardcoded `long` here
    # broke any caller whose key column isn't long — current callers all key
    # on long user_id, but the kernel itself is key-type-agnostic).
    key_type = df.schema[key_col].dataType.simpleString()
    schema = (
        f"{key_col} {key_type}, w_start long, w_end long, fire_seq long, "
        "cnt long, sum_payload long"
    )
    return per_key(df, [key_col], [rowtime_col, order_col], replay, schema, cols)
