"""Continuous / purging triggers — SURVEY.md §2.5 (the round-1 declared-out
trigger pair, now closed).

Reference: ContinuousEventTimeTrigger (flink-streaming-java/.../windowing/
triggers/ContinuousEventTimeTrigger.java:32) fires a window EARLY at every
``interval`` boundary of event time — on each element it arms a timer at
``timestamp - (timestamp % interval) + interval`` and re-arms on every fire,
so a long tumbling window emits a running aggregate as the watermark crosses
each boundary. PurgingTrigger (PurgingTrigger.java:33) wraps any trigger and
turns FIRE into FIRE_AND_PURGE: each emission clears the pane, so the next
fire covers only elements that arrived since.

Spark form: a pure step on the live keyed runner ``keyed.per_key_state``,
which stores each key's value and event-time deadline (the same
EventTimeTrigger machinery as streaming.evictors):

- the value buffers each open tumbling window's (ts, value) pairs plus the
  window's last-fired boundary; the deadline is the earliest unfired
  boundary;
- when the watermark passes an unfired boundary ``b``, the window fires:
  * continuous (purging=False): aggregate over buffered elements with
    ``ts < b`` — the running "as of b" pane, nondecreasing per window;
  * purging (purging=True): aggregate over the window's remaining UN-PURGED
    state content with ``ts < b`` (the delta since the previous fire —
    boundary-exact elements belong to the NEXT pane, mirroring the
    trigger's ``timestamp - ts%interval + interval`` timer registration; a
    straggler below an already-fired boundary is folded into the next fire,
    exactly as the reference's state-content fire would); consumed elements
    leave state immediately — the purge IS the memory win;
- the boundary chain ends at the window end (``interval`` must divide
  ``size`` so the final boundary closes the window exactly like the
  tumbling EventTimeTrigger), after which the window's state is dropped.

Determinism note (bounded replay / oracle): a fire at boundary ``b`` reads
the pane "as of event time b" (elements with ts < b), which equals the
reference's arrival-state pane whenever arrivals respect the watermark.

Scale: state per key = open-window elements (purging keeps only the unfired
suffix); keys shard across executors like every keyed window.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from flink_1_6_0_spark.streaming.keyed import per_key_state


def fire_continuous_panes(
    elems: list[tuple[float, float]],
    last: int,
    w: int,
    size_us: int,
    iv_us: int,
    wm_ms: int,
    purging: bool,
) -> tuple[list[tuple[int, int, int, float]], int]:
    """Pure pane-firing kernel for one window (unit-/property-testable).

    ``elems`` = sorted (ts_us, value) — the window's UN-PURGED state content
    (a purged element never re-enters); ``last`` = last fired boundary (µs).
    Returns (rows, new_last) where rows are (w, boundary, n, rounded sum)
    for every boundary the watermark passed, skipping empty purging deltas.

    Pane partition is ``[b-iv, b)`` — an element registers the timer at
    ``timestamp - (timestamp % interval) + interval`` (ContinuousEventTime
    Trigger.onElement), so a boundary-exact element belongs to the NEXT
    pane; the cumulative pane at ``b`` is the union of fired panes
    (``ts < b``).

    Straggler semantics (ADVICE r6): the reference fires onElement
    immediately only when the whole window is already past the watermark;
    a mid-window element below an already-fired boundary just sits in state
    and is included in the NEXT scheduled fire — it is never re-fired at
    its own passed boundary. Hence NO synthetic catch-up rows here: the
    accumulating pane (``ts < b``) picks stragglers up automatically, and
    the purging pane fires the remaining STATE CONTENT below ``b`` (not a
    ``[last, b)`` ts-range, which would silently skip below-``last``
    stragglers). Everything with ``ts < new_last`` has been consumed by a
    fired pane iff the walk advanced (``new_last > last``).
    """
    rows: list[tuple[int, int, int, float]] = []
    b = last + iv_us
    w_end = w + size_us
    pending = list(elems)  # purging: un-purged state content, consumed per fire
    while b <= w_end and b // 1000 <= wm_ms:
        if purging:
            pane = [(t, v) for t, v in pending if t < b]
            pending = [(t, v) for t, v in pending if t >= b]
        else:
            pane = [(t, v) for t, v in elems if t < b]
        if pane:
            rows.append((w, b, len(pane), round(sum(v for _, v in pane), 2)))
        last = b
        b += iv_us
    return rows, last


def stream_continuous_window(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    size_seconds: int,
    interval_seconds: int,
    purging: bool = False,
) -> DataFrame:
    """Tumbling event-time window fired every ``interval_seconds`` by a
    Continuous[EventTime]Trigger, optionally Purging-wrapped.

    ``stream`` must carry a watermark on ``ts_col``. Output one row per
    (key, window, fire): (keys..., w_start, fire_ts, n, sum_v).
    """
    if size_seconds % interval_seconds:
        raise ValueError("interval must divide the window size")
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = ", ".join(
        [f"{k} long" for k in key_cols]
        + ["w_start timestamp", "fire_ts timestamp", "n long", "sum_v double"]
    )
    state_schema = (
        "wins array<long>, tss array<double>, vals array<double>, "
        "fwins array<long>, flast array<long>"
    )
    size_us = size_seconds * 1_000_000
    iv_us = interval_seconds * 1_000_000

    def step(key, pdf, value, clock):
        wins: list[int] = []
        tss: list[float] = []
        vals: list[float] = []
        lastb: dict[int, int] = {}
        if value:
            w0, t0, v0, fw, fl = value
            wins, tss, vals = list(w0), list(t0), list(v0)
            lastb = {int(w): int(b) for w, b in zip(fw, fl)}
        ts_us = pdf[ts_col].astype("int64") // 1000
        for t, v in zip(ts_us, pdf[value_col]):
            t = int(t)
            wins.append(t // size_us * size_us)
            tss.append(float(t))
            vals.append(float(v))
        wm_ms = clock.watermark_ms
        rows = []
        closed: set[int] = set()
        purged: list[tuple[int, float, float]] = []
        for w in sorted(set(wins) | set(lastb)):
            elems = sorted((t, v) for wi, t, v in zip(wins, tss, vals) if wi == w)
            last = lastb.get(w)
            if last is None:
                if not elems:
                    continue
                # base the pane walk at the WINDOW START: empty panes are
                # skipped anyway, and anchoring at the first-seen element's
                # boundary let purging drop later stragglers below it
                # unfired (review finding)
                last = w
            prev_last = last
            fired, last = fire_continuous_panes(
                elems, last, w, size_us, iv_us, wm_ms, purging
            )
            rows += fired
            w_end = w + size_us
            if last >= w_end:
                closed.add(w)  # final boundary fired — window GC
            elif purging and last > prev_last:
                # consumed = everything below the new boundary, but ONLY if
                # the walk advanced: with no fire this batch, a straggler
                # below ``last`` must stay in state for the next fire
                # (ADVICE r6), not be purged unfired
                lastb[w] = last
                purged += [(w, t, v) for t, v in elems if t < last]
            else:
                lastb[w] = last
        for w in closed:
            lastb.pop(w, None)
        drop = closed
        dead = {(x[0], x[1], x[2]) for x in purged}
        live = [
            (wi, t, v)
            for wi, t, v in zip(wins, tss, vals)
            if wi not in drop and (not purging or (wi, t, v) not in dead)
        ]
        wins = [x[0] for x in live]
        tss = [x[1] for x in live]
        vals = [x[2] for x in live]
        rows = [
            {
                "w_start": pd.Timestamp(w, unit="us"),
                "fire_ts": pd.Timestamp(b, unit="us"),
                "n": n,
                "sum_v": sum_v,
            }
            for w, b, n, sum_v in rows
        ]
        if not (wins or lastb):
            return rows, None, None
        fw = sorted(lastb)
        pending = [
            (lastb.get(w, min((int(t) for wi, t in zip(wins, tss) if wi == w), default=0) // iv_us * iv_us) + iv_us)
            for w in set(wins) | set(lastb)
        ]
        return (
            rows,
            (wins, tss, vals, fw, [lastb[w] for w in fw]),
            max(min(pending) // 1000, wm_ms + 1),
        )

    return per_key_state(
        stream, key_cols, [], step, out_schema, state_schema,
        GroupStateTimeout.EventTimeTimeout, [*key_cols, ts_col, value_col],
    )
