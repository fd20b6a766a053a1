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
  holds every key of the bucket. Inside it the unchanged per-key
  ``fn(key, pdfs, state)`` runs once per key with Spark's own
  ``GroupState`` for that key, so state, timers and the data-then-timeouts
  order are per key exactly as ``applyInPandasWithState`` would run them,
  without paying one Python group round trip per key.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

__all__ = [
    "per_key", "per_key_state", "bucket_kernel", "schema_fields", "schema_names", "order_spec",
]

#: the hash-bucket column per_key_state groups a live stream by
BUCKET = "__bucket"


def schema_fields(ddl: str) -> list[tuple[str, str]]:
    """(name, type) pairs of a flat Spark DDL string ('a long, b double').
    Splits on top-level commas only, so parameterized types
    (``map<string,int>``, ``struct<a:int,b:int>``) don't shear."""
    fields, depth, start = [], 0, 0
    for i, ch in enumerate(ddl + ","):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            part = ddl[start:i].strip()
            if part:
                name, _, typ = part.partition(" ")
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
    fn,
    out_schema: str,
    state_schema: str,
    timeout: str,
    cols=None,
    mode: str = "append",
) -> DataFrame:
    """Run the per-key ``applyInPandasWithState`` function ``fn(key, pdfs,
    state)`` over a live ``stream``, one Spark group per hash bucket.

    ``cols`` (when given) is selected first, duplicates dropped: the columns
    ``fn`` reads, keys included. Each row gets ``__bucket =
    pmod(hash(keys), n)`` with ``n`` the ``spark.sql.shuffle.partitions``
    set when the query is built — one bucket per task slot (a bounded
    replay's state partitions are never wider, see sources.stream.drain)
    — and the stream is grouped by it.
    ``out_schema``, ``timeout`` (a ``GroupStateTimeout``) and ``mode`` (the
    operator's output mode) are what ``fn`` would get per key.

    The bucket's state wraps each field of ``state_schema`` in ``array<>``
    (one element per key), plus one array per key column and one array of
    per-key timeout deadlines in ms. :func:`bucket_kernel` calls ``fn`` per
    key inside the bucket."""
    n = int(stream.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if cols is not None:
        stream = stream.select(*dict.fromkeys(cols))
    key_types = [stream.schema[k].dataType.simpleString() for k in key_cols]
    bucket_schema = ", ".join(
        [f"{name} array<{typ}>" for name, typ in schema_fields(state_schema)]
        + [f"__key_{k} array<{t}>" for k, t in zip(key_cols, key_types)]
        + ["__deadline_ms array<long>"]
    )
    return (
        stream.withColumn(BUCKET, F.pmod(F.hash(*key_cols), F.lit(n)))
        .groupBy(BUCKET)
        .applyInPandasWithState(
            bucket_kernel(fn, key_cols), out_schema, bucket_schema, mode, timeout
        )
    )


def bucket_kernel(fn, key_cols: list[str]):
    """The function :func:`per_key_state` runs per bucket: ``run(bucket_key,
    pdfs, bucket_state)``, factored out so tests can drive it with a
    ``GroupState`` of their own.

    The bucket's rows are split by key once (arrival order kept within a
    key) and ``fn`` runs on each key with rows, in key order, with
    ``hasTimedOut`` false. Then ``fn`` runs on each stored key whose
    deadline has passed, with ``hasTimedOut`` true and an empty frame of the
    input columns: Spark's data-then-timeouts order. A key that just got
    rows has cleared or re-armed its timer past the threshold, so it never
    times out in the same call, as in Spark.

    Each call gets Spark's own ``GroupState`` for the key, so
    ``update``/``remove``/``setTimeout*`` validate exactly as per key. Its
    timeout starts unset: a key's timer is cleared on every call unless the
    call sets it again. A key fires when ``deadline < threshold``, the
    threshold being the batch time (processing time) or the watermark
    (event time), the comparison of Spark's FlatMapGroupsWithStateExec. A
    key lives in the bucket while its state exists; a timer on a key
    without state raises, since the bucket cannot hold it.

    The bucket's own timer is its earliest key deadline; the bucket state
    is removed with its last key."""
    nk = len(key_cols)

    def run(_bucket, pdfs, bucket):
        import json

        import pandas as pd
        from pyspark.sql import Row
        from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

        props = json.loads(bucket.json())
        clock = {
            k: props[k]
            for k in (
                "batchProcessingTimeMs", "eventTimeWatermarkMs", "timeoutConf", "watermarkPresent",
            )
        }
        threshold = {
            GroupStateTimeout.ProcessingTimeTimeout: clock["batchProcessingTimeMs"],
            GroupStateTimeout.EventTimeTimeout: clock["eventTimeWatermarkMs"],
        }.get(clock["timeoutConf"])
        unset = GroupState.NO_TIMESTAMP
        # key -> (state value, deadline ms)
        keys: dict[tuple, tuple[tuple, int]] = {}
        if bucket.exists:
            for *vals, deadline in zip(*bucket.get):
                keys[tuple(vals[-nk:])] = (tuple(vals[:-nk]), deadline)
        pdf = pd.concat(list(pdfs), ignore_index=True).drop(columns=BUCKET)

        def call(key, rows, timed_out):
            value, _ = keys.pop(key, (None, unset))
            state = GroupState(
                optionalValue=None if value is None else Row(*value),
                hasTimedOut=timed_out,
                defined=value is not None,
                updated=False,
                removed=False,
                timeoutTimestamp=unset,
                keyAsUnsafe=None,
                valueSchema=None,
                **clock,
            )
            yield from fn(key, iter([rows]), state)
            deadline = json.loads(state.json())["timeoutTimestamp"]
            if state.exists:
                keys[key] = (state.get, deadline)
            elif deadline != unset:
                raise ValueError(f"key {key} set a timer without state; a bucket keeps none")

        for key, rows in pdf.groupby(key_cols, sort=True, dropna=False):
            yield from call(key, rows.reset_index(drop=True), False)
        if threshold is not None:
            due = [k for k, (_, d) in keys.items() if d != unset and d < threshold]
            for key in due:
                yield from call(key, pdf.iloc[:0], True)

        if not keys:
            bucket.remove()
            return
        bucket.update(tuple(
            list(col) for col in zip(*(v + k + (d,) for k, (v, d) in keys.items()))
        ))
        deadlines = [d for _, d in keys.values() if d != unset]
        if not deadlines:
            return
        if clock["timeoutConf"] == GroupStateTimeout.ProcessingTimeTimeout:
            # a duration must be positive: a key due exactly now fires 1 ms late
            bucket.setTimeoutDuration(max(1, min(deadlines) - threshold))
        else:
            bucket.setTimeoutTimestamp(min(deadlines))

    return run
