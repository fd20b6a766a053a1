"""Comparison helpers mirroring the driver's order-insensitive value check,
and a Spark job counter."""

from __future__ import annotations

import datetime as _dt
import math
import uuid
from contextlib import contextmanager

import numpy as np
import pandas as pd


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if math.isnan(f):
            return None
        # tagged so an int column never silently equals a float column
        # (123 == 123.0 in Python, but engines/drivers hash them differently)
        return ("f", round(f, 6))
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return ("i", int(v))
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime().replace(tzinfo=None).isoformat()
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm_cell(x)) for k, x in v.items()))
    if isinstance(v, bytes):
        return v.hex()
    return v


def driver_canon(df: pd.DataFrame) -> pd.DataFrame:
    """The driver's EXACT canonicalization step: raw pandas ``sort_values``
    over all columns sorted by name — no cell normalization of any kind.
    An array/map/struct-typed cell raises ``TypeError: unhashable type``
    here precisely as it does in the driver's harness (round-4 verdict #1),
    so running this over every registered query's output makes that class
    of driver-red impossible to reintroduce."""
    cols = sorted(df.columns)
    return df[cols].sort_values(by=cols, kind="mergesort").reset_index(drop=True)


def normalize(df: pd.DataFrame) -> list[tuple]:
    """Sort columns by name, normalize cells, sort rows — the driver's model."""
    cols = sorted(df.columns)
    rows = [tuple(_norm_cell(v) for v in row) for row in df[cols].itertuples(index=False, name=None)]
    return sorted(rows, key=repr)


def assert_frames_match(spark_df, duck_rel, query_name: str = "") -> None:
    """Compare a Spark DataFrame against a DuckDB relation (both executed)."""
    sp = spark_df.toPandas()
    dk = duck_rel.fetchdf()
    # Must survive the driver's raw sort_values canon (unhashable cells throw).
    driver_canon(sp)
    driver_canon(dk)
    assert sorted(sp.columns) == sorted(dk.columns), (
        f"{query_name}: column mismatch spark={sorted(sp.columns)} duck={sorted(dk.columns)}"
    )
    assert len(sp) == len(dk), f"{query_name}: row count spark={len(sp)} duck={len(dk)}"
    a, b = normalize(sp), normalize(dk)
    mism = [i for i, (x, y) in enumerate(zip(a, b)) if x != y]
    assert not mism, (
        f"{query_name}: {len(mism)} mismatched rows; first: spark={a[mism[0]]!r} duck={b[mism[0]]!r}"
    )


@contextmanager
def jobs_launched(spark):
    """Count the Spark jobs launched inside the block: yields a list that
    holds the count once the block exits. The block's jobs run under a
    fresh job group, read back through ``sc.statusTracker()``; the thread's
    previous job group is restored afterwards."""
    sc = spark.sparkContext
    group = f"jobs-launched-{uuid.uuid4().hex[:8]}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, "jobs_launched probe")
    box: list[int] = []
    try:
        yield box
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
        box.append(len(sc.statusTracker().getJobIdsForGroup(group)))
