"""Streaming OVER aggregates — SURVEY.md §2.6 (M3 build-plan row).

Reference: DataStreamOverAggregate.scala:45 with per-variant process
functions (ProcTimeUnboundedOver, RowTimeBoundedRowsOver, ...) — accumulators
live in keyed state, rows emit with the aggregate of everything up to the
row's position in time order.

Spark disallows window functions on streaming frames, so the operator is a
pure step on the live keyed runner ``keyed.per_key_state``: per key, the
value the runner stores carries the running accumulators (sum, count)
across micro-batches; within a batch the runner hands the rows over in
(ts, id) order — exactly RowTimeUnboundedOver's semantics under in-order
delivery (out-of-order rows across batches take the state as-of arrival,
the proc-time variant's behavior; document the difference).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from flink_1_6_0_spark.streaming.keyed import per_key_state


def stream_running_agg(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str,
    id_col: str,
    value_col: str,
) -> DataFrame:
    """Unbounded-preceding running sum/count per key over event order —
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW on a live stream."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = ", ".join(
        [f"{k} long" for k in key_cols]
        + [f"{id_col} long", "running_sum double", "running_n long"]
    )
    state_schema = "acc_sum double, acc_n long"

    def step(key, pdf, value, clock):
        acc_sum, acc_n = value or (0.0, 0)
        out = {
            id_col: pdf[id_col].values,
            "running_sum": (acc_sum + pdf[value_col].cumsum()).round(2).values,
            "running_n": acc_n + np.arange(1, len(pdf) + 1),
        }
        return out, (float(acc_sum + pdf[value_col].sum()), int(acc_n + len(pdf))), None

    return per_key_state(
        stream, key_cols, [ts_col, id_col], step, out_schema, state_schema,
        GroupStateTimeout.NoTimeout, [*key_cols, ts_col, id_col, value_col],
    )
