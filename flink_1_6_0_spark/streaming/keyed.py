"""The batch per-key runner for the Python state machines.

Flink runs its NFA, KeyedProcessFunction and WindowOperator state machines
one key at a time. On bounded input the engine replays them the same way:
one hash exchange on the key, then each key's rows, in a fixed order, go
through the unchanged per-key body inside one ``applyInPandas`` call.
:func:`per_key` is that replay for every batch kernel (streaming/cep.py,
cleanup_state.py, join_kernels.py, session_window.py). Live streams keep
``applyInPandasWithState``; their state and timers belong to the stream's
progress model, not to this runner.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["per_key", "schema_fields", "schema_names", "order_spec"]


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
