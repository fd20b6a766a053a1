"""User-defined function surface — SURVEY.md §2.10.

Reference contracts → Spark:
- ScalarFunction.eval (functions/ScalarFunction.scala:47, registered via
  TableEnvironment.registerFunction :337) → spark.udf.register / pandas_udf
- TableFunction.eval+collect (functions/TableFunction.scala:82; applied via
  joinLateral / LATERAL TABLE, planned by DataStreamCorrelate.scala:38)
  → a function column producing array<struct> + explode (operators.correlate)
- AggregateFunction accumulate/merge/getValue (functions/AggregateFunction.
  scala:97) → pandas UDAF via applyInPandas (operators.aggregations.apply_udaf)

Performance contract: scalar UDFs registered here are Arrow-vectorized
(pandas_udf) unless the caller opts into row-at-a-time; the hot path should
prefer built-in expressions (SURVEY.md §2.9 — everything in the reference's
catalog exists as a built-in).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from flink_1_6_0_spark.streaming.keyed import schema_names


def register_scalar_function(spark: SparkSession, name: str, fn: Callable, return_type: str, vectorized: bool = True):
    """registerFunction for a ScalarFunction. ``vectorized=True`` wraps fn
    (scalar → scalar) into an Arrow-batched pandas UDF via Series.map."""
    if vectorized:
        @F.pandas_udf(return_type)
        def _udf(s: pd.Series) -> pd.Series:
            return s.map(fn)

        spark.udf.register(name, _udf)
        return _udf
    return spark.udf.register(name, fn, return_type)


def table_function(
    fn: Callable[..., list[tuple]], row_schema: str, vectorized: bool = True
) -> Callable[..., Column]:
    """TableFunction: ``fn(value) -> list of row tuples``. Returns a Column
    builder usable with operators.correlate.join_lateral — the emitted rows
    travel as array<struct<row_schema>> (one Arrow hop, then explode).

    ``vectorized=True`` (default) ships the call as an Arrow-batched pandas
    UDF — the emitted array<struct> stays on the Arrow path end to end;
    row-at-a-time ``F.udf`` remains as the opt-out for functions that can't
    batch (multi-arg table functions use it automatically)."""
    names = schema_names(row_schema)

    if vectorized:

        @F.pandas_udf(f"array<struct<{row_schema}>>")
        def _vudf(s: pd.Series) -> pd.Series:
            return s.map(lambda v: [dict(zip(names, row)) for row in fn(v)])

        def call(*cols) -> Column:
            if len(cols) == 1:
                return _vudf(*cols)
            # pandas_udf wraps a single-series signature; multi-arg table
            # functions fall back to the row path
            return F.udf(fn, f"array<struct<{row_schema}>>")(*cols)

        return call

    udf = F.udf(fn, f"array<struct<{row_schema}>>")

    def call(*cols) -> Column:
        return udf(*cols)

    return call


def register_table_function(spark: SparkSession, name: str, fn: Callable[..., list[tuple]], row_schema: str):
    """registerFunction for a TableFunction, SQL-callable: after this,
    ``FROM t, LATERAL TABLE(name(col))`` works through the SQL front end
    (plans.sql_frontend rewrites LATERAL TABLE → Spark's native LATERAL
    table-function syntax, which plans as a Generate node — same dataflow as
    DataStreamCorrelate). The UDTF body yields ``fn``'s row tuples."""
    from pyspark.sql.functions import udtf

    @udtf(returnType=row_schema)
    class _Fn:
        def eval(self, *args):
            yield from fn(*args)

    spark.udtf.register(name, _Fn)
    return _Fn


def aggregate_function(df: DataFrame, group_cols: list[str], fn, out_schema: str) -> DataFrame:
    """AggregateFunction applied over groups (accumulate/getValue collapsed
    into one grouped-map pass; merge is Spark's shuffle)."""
    return df.groupBy(*group_cols).applyInPandas(fn, schema=out_schema)
