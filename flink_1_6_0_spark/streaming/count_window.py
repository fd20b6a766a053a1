"""Streaming count windows — SURVEY.md §2.5 (KeyedStream.countWindow).

Reference: DataStream.countWindow → GlobalWindows + CountTrigger
(flink-streaming-java/.../windowing/triggers/CountTrigger.java): per key,
fire an aggregate every ``size`` elements; the window state is the running
element count + partial accumulators.

Spark has no count trigger, so the operator is a pure step on the live keyed
runner ``keyed.per_key_state``: the value the runner stores per key carries
(next window index, leftover count, leftover sum) across micro-batches; the
runner hands each key's rows over in (ts, id) order and every completed
window of exactly ``size`` rows emits one result row. Incomplete tail
windows stay buffered in state (the reference's CountTrigger also never
fires a partial window).

Scale: state per key is three scalars — O(keys) total, no event buffering;
a 1000-executor deployment shards keys exactly like the reference's keyed
windows. The batch-form oracle shape is operators/windows.count_window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from flink_1_6_0_spark.streaming.keyed import per_key_state


def stream_delta_window(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str,
    id_col: str,
    value_col: str,
    threshold: float,
) -> DataFrame:
    """DeltaTrigger emulation (flink-streaming-java/.../triggers/
    DeltaTrigger.java with the difference delta function over
    GlobalWindows): per key, a window fires when the current element's value
    differs from the element that caused the LAST firing by more than
    ``threshold``; the fired row carries the count and sum accumulated since
    then (the firing element becomes the next window's anchor and belongs to
    neither window's aggregate). Keyed state = (anchor value, running count,
    running sum) — three scalars, no buffering.

    Output: (keys..., fire_id, win_n, win_sum) — fire_id is the id of the
    element whose arrival fired the window."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = ", ".join(
        [f"{k} long" for k in key_cols] + ["fire_id long", "win_n long", "win_sum double"]
    )
    state_schema = "anchor double, acc_n long, acc_sum double"

    def step(key, pdf, value, clock):
        anchor, acc_n, acc_sum = value or (None, 0, 0.0)
        rows = []
        # data-dependent resets → row loop (per-key-per-batch cardinality is
        # the micro-batch slice, not the stream)
        for rid, v in zip(pdf[id_col].tolist(), pdf[value_col].tolist()):
            if anchor is None:
                anchor = float(v)
                continue
            if abs(float(v) - anchor) > threshold:
                rows.append(
                    {"fire_id": int(rid), "win_n": int(acc_n), "win_sum": round(float(acc_sum), 2)}
                )
                anchor, acc_n, acc_sum = float(v), 0, 0.0
            else:
                acc_n += 1
                acc_sum += float(v)
        return rows, (anchor, int(acc_n), float(acc_sum)), None

    return per_key_state(
        stream, key_cols, [ts_col, id_col], step, out_schema, state_schema,
        GroupStateTimeout.NoTimeout, [*key_cols, ts_col, id_col, value_col],
    )


def stream_count_window(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str,
    id_col: str,
    value_col: str,
    size: int,
) -> DataFrame:
    """Tumbling count window over a live stream: one output row per
    completed window of ``size`` events per key — (keys..., count_window,
    win_n, win_sum)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = ", ".join(
        [f"{k} long" for k in key_cols]
        + ["count_window long", "win_n long", "win_sum double"]
    )
    state_schema = "next_idx long, carry_n long, carry_sum double"

    def step(key, pdf, value, clock):
        next_idx, carry_n, carry_sum = value or (0, 0, 0.0)
        vals = pdf[value_col].to_numpy(dtype="float64")
        total = carry_n + len(vals)
        rows = []
        # consume complete windows; slice bounds are batch-local offsets
        w = 0
        while (w + 1) * size <= total:
            lo = max(0, w * size - carry_n)
            hi = (w + 1) * size - carry_n
            s = (carry_sum if w == 0 else 0.0) + float(vals[lo:hi].sum())
            rows.append({"count_window": next_idx + w, "win_n": size, "win_sum": round(s, 2)})
            w += 1
        tail_lo = max(0, w * size - carry_n)
        new_carry_n = total - w * size
        new_carry_sum = (carry_sum if w == 0 else 0.0) + float(vals[tail_lo:].sum()) if new_carry_n else 0.0
        return rows, (int(next_idx + w), int(new_carry_n), float(new_carry_sum)), None

    return per_key_state(
        stream, key_cols, [ts_col, id_col], step, out_schema, state_schema,
        GroupStateTimeout.NoTimeout, [*key_cols, ts_col, id_col, value_col],
    )
