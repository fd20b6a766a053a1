"""Catalog — registration of the TESTDATA star schema.

Reference: Flink's ExternalCatalog / InMemoryExternalCatalog
(flink-table/.../catalog/ExternalCatalog.scala) hold named tables the SQL
validator resolves against. Here the Spark session catalog plays that role;
this module knows the driver's parquet layout (TESTDATA.md) and registers
each table as a temp view.

Scale note: the reads stay lazy — registering 100 TB of parquet costs only a
footer/stat listing; filters and projections push into the scans.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from flink_1_6_0_spark.sources.batch import parquet_rows, parquet_schema, read_parquet

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# region/nation are fixed-cardinality dims that always broadcast — enforced
# where it matters (explicit F.broadcast in the TPC-H queries) and by AQE's
# autoBroadcastJoinThreshold elsewhere; no separate registry needed.


def normalize_table(name: str, df: DataFrame) -> DataFrame:
    """Normalize driver-generated quirks: events.ts is TIMESTAMP(NANOS)
    parquet. Depending on the Spark version it arrives as either

    - long nanoseconds (Spark <=3.x honoring
      ``spark.sql.legacy.parquet.nanosAsLong``) — convert via integer
      div 1000 to a microsecond timestamp, the same truncation DuckDB
      applies when it reads ns into its µs TIMESTAMP; or
    - TIMESTAMP_NTZ (Spark 4.x, where ``nanosAsLong`` is a no-op) —
      cast to TIMESTAMP, which is value-preserving under the UTC session
      timezone and restores event-time/watermark eligibility
      (``withWatermark`` rejects NTZ).

    Dtype-dispatching on what actually arrived makes the pipeline
    engine-version-proof rather than config-dependent."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # integer `div`, not `/`: double division loses µs precision at ~1.7e18 ns
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _events_read_schema(spark: SparkSession, path: str):
    """If events.ts arrives TIMESTAMP_NTZ, build an explicit read schema with
    ts as TIMESTAMP so the vectorized parquet reader performs the conversion
    during the scan. Benchmarked ~2x faster than a post-read cast projection
    (the r3->r4 window_tumble/over_rows_unbounded regression root cause): the
    cast added a Project between the scan and the window/agg, while the
    read-schema path is conversion-free inside the columnar batch decode —
    value-identical under the UTC session timezone. Derived from the
    memoized inferred schema (``sources.batch.parquet_schema``), so a file
    rewritten at the same path gets its new schema; None = the arrived dtype
    is not NTZ, fall back to normalize_table's dtype dispatch."""
    from pyspark.sql.types import StructField, StructType, TimestampNTZType, TimestampType

    arrived = parquet_schema(spark, path)
    if not isinstance(arrived["ts"].dataType, TimestampNTZType):
        return None
    return StructType(
        [
            StructField("ts", TimestampType(), f.nullable) if f.name == "ts" else f
            for f in arrived.fields
        ]
    )


def table_path(sf_dir: str, name: str) -> str:
    """Path of one star-schema table in a scale-factor dir."""
    return os.path.join(sf_dir, f"{name}.parquet")


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one star-schema table, normalizing driver-generated quirks the
    cheapest way available: events gets an explicit TIMESTAMP read schema
    (scan-time conversion, no extra projection) when possible, else the
    post-read dtype dispatch of :func:`normalize_table`."""
    path = table_path(sf_dir, name)
    if name == "events":
        schema = _events_read_schema(spark, path)
        if schema is not None:
            return spark.read.schema(schema).parquet(path)
    return normalize_table(name, read_parquet(spark, path))


def table_rows(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row count of one star-schema table, from the input-metadata memo."""
    return parquet_rows(spark, table_path(sf_dir, name))


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Read every star-schema table from ``sf_dir`` lazily.

    Hardens the session defensively (nanosAsLong, UTC, AQE, Arrow) so the
    driver's bare session matches session.py's correctness contract."""
    from flink_1_6_0_spark.queries import harden_session

    harden_session(spark)
    return {name: read_table(spark, sf_dir, name) for name in TABLES}


def register_all(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register every table as a temp view (for spark.sql / TableEnvironment.sql)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
