"""Streaming evictors — SURVEY.md §2.5 (WindowedStream.evictor, the round-1
declared-out hole, now closed).

Reference: CountEvictor (flink-streaming-java/.../windowing/evictors/
CountEvictor.java:28) keeps the last ``size`` elements of the window buffer;
TimeEvictor (TimeEvictor.java:32) evicts every element with
``timestamp <= currentTime - windowSize`` (keeps strictly newer). Both run
BEFORE the window function via WindowedStream.evictor
(WindowedStream.java:267), which forces the window into buffering
(EvictingWindowOperator) state.

Spark form: a pure step on the live keyed runner ``keyed.per_key_state``,
which stores each key's value and event-time deadline:

- the value buffers (window_start, ts, id, value) for every OPEN tumbling
  window — the same per-(key, window) element list the reference's
  EvictingWindowOperator keeps;
- the deadline returned at the earliest open window's end plays
  EventTimeTrigger: when the watermark passes it, the window fires, the
  evictor trims the sorted element list, and the aggregate (count + sum)
  runs over survivors;
- fired windows leave the value; an empty buffer returns None, which drops
  the key.

Scale: state is bounded by (open windows per key) × (elements per window) —
identical to the reference's evicting-window state; keys shard across
executors exactly like Flink's keyed windows. Eviction itself is O(window)
in the Arrow batch, never a shuffle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from flink_1_6_0_spark.streaming.keyed import per_key_state


def evict_and_aggregate(
    elems: list[tuple[float, int, float]],
    keep_last_n: int | None,
    keep_last_seconds: int | None,
) -> tuple[int, float]:
    """Pure eviction kernel for one fired window (unit-/property-testable).

    ``elems`` = sorted (ts_us, id, value). CountEvictor keeps the last
    ``keep_last_n``; TimeEvictor keeps elements STRICTLY newer than
    newest - keep_last_seconds (TimeEvictor.java:32 evicts ts <= cutoff).
    Returns (n_kept, rounded sum of kept values)."""
    if keep_last_n is not None:
        if keep_last_n < 0:
            raise ValueError(f"keep_last_n must be >= 0, got {keep_last_n}")
        # elems[-0:] is the WHOLE list — CountEvictor(0) keeps zero elements
        kept = elems[-keep_last_n:] if keep_last_n > 0 else []
    else:
        horizon = elems[-1][0] - keep_last_seconds * 1_000_000
        kept = [e for e in elems if e[0] > horizon]
    return len(kept), round(sum(e[2] for e in kept), 2)


def stream_evicted_window(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str,
    id_col: str,
    value_col: str,
    size_seconds: int,
    keep_last_n: int | None = None,
    keep_last_seconds: int | None = None,
) -> DataFrame:
    """Tumbling event-time window + evictor + (count, sum) aggregate.

    ``stream`` must carry a watermark on ``ts_col`` (the event-time timer
    needs it). Output: (keys..., w_start timestamp, n_kept, sum_kept) — one
    row per FIRED window, matching operators.windows.evicted_window_agg's
    batch shape so a bounded replay is oracle-checkable.
    """
    if (keep_last_n is None) == (keep_last_seconds is None):
        raise ValueError("exactly one of keep_last_n / keep_last_seconds")
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = ", ".join(
        [f"{k} long" for k in key_cols]
        + ["w_start timestamp", "n_kept long", "sum_kept double"]
    )
    state_schema = "wins array<long>, tss array<double>, ids array<long>, vals array<double>"
    size_us = size_seconds * 1_000_000

    def step(key, pdf, value, clock):
        wins, tss, ids, vals = map(list, value) if value else ([], [], [], [])
        ts_us = pdf[ts_col].astype("int64") // 1000  # ns → µs, exact
        for t, i, v in zip(ts_us, pdf[id_col], pdf[value_col]):
            t = int(t)
            wins.append(t // size_us * size_us)
            tss.append(float(t))
            ids.append(int(i))
            vals.append(float(v))
        wm_ms = clock.watermark_ms
        ripe = sorted({w for w in wins if (w + size_us) // 1000 <= wm_ms})
        rows = []
        for w in ripe:
            elems = sorted(
                (t, i, v) for wi, t, i, v in zip(wins, tss, ids, vals) if wi == w
            )
            n_kept, sum_kept = evict_and_aggregate(elems, keep_last_n, keep_last_seconds)
            rows.append(
                {"w_start": pd.Timestamp(w, unit="us"), "n_kept": n_kept, "sum_kept": sum_kept}
            )
        if ripe:
            fired = set(ripe)
            live = [
                (wi, t, i, v)
                for wi, t, i, v in zip(wins, tss, ids, vals)
                if wi not in fired
            ]
            wins = [x[0] for x in live]
            tss = [x[1] for x in live]
            ids = [x[2] for x in live]
            vals = [x[3] for x in live]
        if not wins:
            return rows, None, None
        # EventTimeTrigger: wake when the watermark passes the earliest
        # open window's end (must arm strictly past the current watermark)
        return rows, (wins, tss, ids, vals), max((min(wins) + size_us) // 1000, wm_ms + 1)

    return per_key_state(
        stream, key_cols, [], step, out_schema, state_schema,
        GroupStateTimeout.EventTimeTimeout, [*key_cols, ts_col, id_col, value_col],
    )
