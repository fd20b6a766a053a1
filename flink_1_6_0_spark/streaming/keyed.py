"""The per-key runners for the Python state machines.

Flink runs its NFA, KeyedProcessFunction and WindowOperator state machines
one key at a time, with the keys hashed into key groups and one operator
instance serving all the keys of its key groups from one state backend.
The engine does the same for both of its inputs:

- :func:`per_key` replays a BOUNDED input: one hash exchange on the key,
  then each key's rows, in a fixed order, go through the unchanged
  per-key body inside one ``applyInPandas`` call (streaming/cep.py,
  cleanup_state.py, join_kernels.py, session_window.py).
- :func:`per_key_state` runs a LIVE stream: one ``applyInPandasWithState``
  group per hash bucket of the keys (the key-group analog), whose state
  holds every key of the bucket. The runner owns each key's state and
  timer, the way Flink's state backend does: the operator is a pure step
  ``step(key, pdf, value, clock) -> (rows, value, deadline_ms)`` run once
  per key, and the runner stores the value, arms and fires the deadline in
  Spark's data-then-timeouts order and checks it as Spark's per-key
  ``GroupState`` would, without paying one Python group round trip per key.
"""

from __future__ import annotations

import re
from typing import NamedTuple

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

__all__ = [
    "per_key", "per_key_state", "bucket_kernel", "Clock", "schema_fields", "schema_names",
    "order_spec",
]

#: the hash-bucket column per_key_state groups a live stream by
BUCKET = "__bucket"


def schema_fields(ddl: str) -> list[tuple[str, str]]:
    """(name, type) pairs of a flat Spark DDL string ('a long, b double').
    Splits on top-level commas only, so parameterized types
    (``map<string,int>``, ``decimal(10,2)``) don't shear. A field may also
    be spelled ``a: long``, as Spark's DDL parser allows."""
    fields, depth, start = [], 0, 0
    for i, ch in enumerate(ddl + ","):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            part = ddl[start:i].strip()
            if part:
                name, typ = re.match(r"([^\s:]+)\s*:?(.*)", part, re.S).groups()
                fields.append((name, typ.strip()))
            start = i + 1
    return fields


def schema_names(ddl: str) -> list[str]:
    """Field names of a flat Spark DDL string."""
    return [n for n, _ in schema_fields(ddl)]


def order_spec(order) -> list[tuple[str, bool]]:
    """``(name, ascending)`` pairs of an order given as column names
    (ascending) or ``(name, ascending)`` pairs."""
    return [(c, True) if isinstance(c, str) else tuple(c) for c in order]


def per_key(df: DataFrame, key_cols: list[str], order, fn, schema: str, cols=None) -> DataFrame:
    """Replay ``fn`` over each key's rows of ``df``.

    ``cols`` (when given) is selected first. The rows are hash-partitioned
    on ``key_cols`` at the CONFIGURED ``spark.sql.shuffle.partitions``
    width. AQE coalesces post-shuffle partitions by BYTE size, which is the
    wrong cost model for a CPU-bound per-key Python scan: at
    small-to-medium byte sizes it collapsed the CEP stage to 3 tasks on 32
    cores (3.6 s against 0.9 s at sf0.1). An explicit repartition(n, keys)
    is exempt from AQE coalescing, and Catalyst elides the groupBy's own
    exchange (same partitioning), so this costs no extra shuffle at any
    scale.

    Per key, the rows are stable-sorted (mergesort) by ``order`` — column
    names or ``(name, ascending)`` pairs — with a fresh 0..n-1 index, and
    ``fn(key, pdf)`` runs once with ``key`` the tuple of key values. It
    returns what ``pandas.DataFrame(data, columns=names)`` takes: row
    tuples, row dicts or a dict of columns. ``names`` are the field names
    of ``schema``, so a key that emits nothing yields an empty frame with
    the right columns; keys outside the schema are dropped and schema
    names the data lacks read as null."""
    import pandas as pd

    names = schema_names(schema)
    spec = order_spec(order)
    by, ascending = [c for c, _ in spec], [asc for _, asc in spec]
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))

    def run(key, pdf):
        pdf = pdf.sort_values(by, ascending=ascending, kind="mergesort").reset_index(drop=True)
        return pd.DataFrame(fn(key, pdf), columns=names)

    if cols is not None:
        df = df.select(*cols)
    return df.repartition(n, *key_cols).groupBy(*key_cols).applyInPandas(run, schema=schema)


def per_key_state(
    stream: DataFrame,
    key_cols: list[str],
    order,
    step,
    out_schema: str,
    state_schema: str,
    timeout: str,
    cols=None,
    mode: str = "append",
) -> DataFrame:
    """Run the pure per-key ``step(key, pdf, value, clock) -> (rows, value,
    deadline_ms)`` over a live ``stream``, one Spark group per hash bucket.

    ``cols`` (when given) is selected first, duplicates dropped: the columns
    ``step`` reads, keys included. Each row gets ``__bucket =
    pmod(hash(keys), n)`` with ``n`` the ``spark.sql.shuffle.partitions``
    set when the query is built — one bucket per task slot (a bounded
    replay's state partitions are never wider, see sources.stream.drain)
    — and the stream is grouped by it. ``order`` stable-sorts each key's
    rows of a micro-batch, as in :func:`per_key`; an empty ``order`` keeps
    arrival order. ``timeout`` (a ``GroupStateTimeout``) picks the clock the
    deadlines count in and ``mode`` is the operator's output mode.

    The bucket's state wraps each field of ``state_schema`` in ``array<>``
    (one element per key), plus one array per key column and one array of
    per-key deadlines in ms. :func:`bucket_kernel` calls ``step`` per key
    inside the bucket."""
    n = int(stream.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if cols is not None:
        stream = stream.select(*dict.fromkeys(cols))
    key_types = [stream.schema[k].dataType.simpleString() for k in key_cols]
    bucket_schema = ", ".join(
        [f"{name} array<{typ}>" for name, typ in schema_fields(state_schema)]
        + [f"__key_{k} array<{t}>" for k, t in zip(key_cols, key_types)]
        + ["__deadline_ms array<long>"]
    )
    run = bucket_kernel(step, key_cols, order, schema_names(out_schema), timeout)
    return (
        stream.withColumn(BUCKET, F.pmod(F.hash(*key_cols), F.lit(n)))
        .groupBy(BUCKET)
        .applyInPandasWithState(run, out_schema, bucket_schema, mode, timeout)
    )


class Clock(NamedTuple):
    """What a step knows of time on one call. ``watermark_ms`` is read only
    under an event-time timeout and is None otherwise."""

    timed_out: bool
    batch_ms: int
    watermark_ms: int | None


def bucket_kernel(step, key_cols: list[str], order, names: list[str], timeout: str):
    """The function :func:`per_key_state` runs per bucket: ``run(bucket_key,
    pdfs, bucket_state)``, factored out so tests can drive it with a
    ``GroupState`` of their own.

    The bucket's Arrow chunks are joined, stable-sorted once on the keys and
    ``order``, and split by key. ``step`` runs on each key with rows, in key
    order, then on each stored key whose deadline has passed with
    ``clock.timed_out`` and an empty frame of the input columns: Spark's
    data-then-timeouts order. ``value`` is the key's stored state tuple or
    None. The step returns ``rows`` (what ``pandas.DataFrame(rows,
    columns=names)`` accepts; the key columns are filled in), the new value
    (None drops the key) and its deadline in ms (None arms no timer), so a
    key's timer is cleared on every call unless the step sets it again.

    A key fires when ``deadline < threshold``, the threshold being the batch
    time (processing time) or the watermark (event time), the comparison of
    Spark's FlatMapGroupsWithStateExec. A key that just got rows has
    cleared or re-armed its timer, so it never times out in the same call.
    A deadline Spark's per-key ``GroupState`` would refuse raises
    ``ValueError``: one without a value, any under ``NoTimeout``, a
    processing-time one at or before the batch time, an event-time one
    below the watermark.

    The bucket's own timer is its earliest key deadline; the bucket state
    is removed with its last key. All rows of a call leave as one frame."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    nk = len(key_cols)
    spec = order_spec(order)
    by = [*key_cols, *(c for c, _ in spec)]
    ascending = [True] * nk + [asc for _, asc in spec]
    processing = timeout == GroupStateTimeout.ProcessingTimeTimeout
    event = timeout == GroupStateTimeout.EventTimeTimeout

    def run(_bucket, pdfs, bucket):
        import warnings

        import pandas as pd

        batch_ms = bucket.getCurrentProcessingTimeMs()
        watermark_ms = bucket.getCurrentWatermarkMs() if event else None
        threshold = batch_ms if processing else watermark_ms
        # key -> (state value, deadline ms or None)
        keys: dict[tuple, tuple[tuple, int | None]] = {}
        if bucket.exists:
            for *vals, deadline in zip(*bucket.get):
                keys[tuple(vals[-nk:])] = (tuple(vals[:-nk]), deadline)
        pdf = pd.concat(list(pdfs), ignore_index=True).drop(columns=BUCKET)
        pdf = pdf.sort_values(by, ascending=ascending, kind="mergesort", ignore_index=True)
        frames, out_keys = [], []

        def call(key, rows, clock):
            value, _ = keys.pop(key, (None, None))
            out, value, deadline = step(key, rows, value, clock)
            if deadline is not None:
                if value is None:
                    raise ValueError(f"key {key} set a timer without state")
                if not (processing or event):
                    raise ValueError(f"key {key} set a timer under NoTimeout")
                if processing and deadline <= batch_ms:
                    raise ValueError(f"key {key}: timer {deadline} not after batch time {batch_ms}")
                if event and deadline < watermark_ms:
                    raise ValueError(f"key {key}: timer {deadline} behind watermark {watermark_ms}")
            if value is not None:
                keys[key] = (value, deadline)
            if len(out):
                frames.append(pd.DataFrame(out, columns=names))
                out_keys.extend([key] * len(frames[-1]))

        clock = Clock(False, batch_ms, watermark_ms)
        for key, rows in pdf.groupby(key_cols, sort=False, dropna=False):
            call(key, rows.reset_index(drop=True), clock)
        if threshold is not None:
            due = [k for k, (_, d) in keys.items() if d is not None and d < threshold]
            for key in due:
                call(key, pdf.iloc[:0], clock._replace(timed_out=True))
        if frames:
            with warnings.catch_warnings():
                # columns a key leaves all null (the key columns, filled
                # below; a timeout row's match ids) may widen the joined
                # dtype: Arrow casts each column to ``out_schema`` anyway
                warnings.simplefilter("ignore", FutureWarning)
                out = pd.concat(frames, ignore_index=True)
            out[key_cols] = pd.DataFrame(out_keys, columns=key_cols)
            yield out

        if not keys:
            bucket.remove()
            return
        bucket.update(tuple(
            list(col) for col in zip(*((*v, *k, d) for k, (v, d) in keys.items()))
        ))
        deadlines = [d for _, d in keys.values() if d is not None]
        if not deadlines:
            return
        if processing:
            # a duration must be positive: a key due exactly now fires 1 ms late
            bucket.setTimeoutDuration(max(1, min(deadlines) - threshold))
        else:
            bucket.setTimeoutTimestamp(min(deadlines))

    return run
