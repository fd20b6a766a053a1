"""The input-metadata memo (sources.batch): each immutable parquet input's
schema is inferred once per file identity and inference confs, and every
later read of it — ``T()``, the stream sources, the lake — launches no Spark
job for it."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from flink_1_6_0_spark.catalog import normalize_table, read_table
from flink_1_6_0_spark.registry import get
from flink_1_6_0_spark.sources.batch import parquet_schema, read_parquet
from tests.helpers import jobs_launched


def _assert_memoized(spark, read, uncached_schema):
    """``read()`` returns the uncached schema, and a repeat launches 0 jobs."""
    assert read().schema == uncached_schema
    with jobs_launched(spark) as jobs:
        df = read()
    assert df.schema == uncached_schema
    assert jobs == [0]


def test_memo_single_file_matches_inferred_schema(spark, sf_dir):
    path = os.path.join(sf_dir, "documents.parquet")
    _assert_memoized(spark, lambda: read_parquet(spark, path), spark.read.parquet(path).schema)


def test_memo_events_timestamp_read_schema(spark, sf_dir):
    path = os.path.join(sf_dir, "events.parquet")
    want = normalize_table("events", spark.read.parquet(path)).schema
    assert want["ts"].dataType.typeName() == "timestamp"
    _assert_memoized(spark, lambda: read_table(spark, sf_dir, "events"), want)


def test_memo_partitioned_lake_keeps_partition_columns(spark, sf_dir):
    from flink_1_6_0_spark.sources.partitioned import partitioned_events_dir

    path = partitioned_events_dir(spark, sf_dir)
    want = spark.read.parquet(path).schema
    assert want.fields[-1].name == "event_date"
    # StructType equality covers names, types and order of every column
    _assert_memoized(spark, lambda: read_parquet(spark, path), want)


def test_memo_time_ordered_directory(spark, sf_dir, tmp_path):
    from flink_1_6_0_spark.sources.scale_synth import _stamp_time_ordered

    path = str(tmp_path / "events.parquet")
    read_table(spark, sf_dir, "events").repartitionByRange(3, "ts").write.parquet(path)
    _stamp_time_ordered(path)
    _assert_memoized(spark, lambda: read_parquet(spark, path), spark.read.parquet(path).schema)


def test_memo_infers_again_when_an_inference_conf_changes(spark, sf_dir):
    path = os.path.join(sf_dir, "documents.parquet")
    parquet_schema(spark, path)
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key)
    spark.conf.set(key, "true" if old == "false" else "false")
    try:
        with jobs_launched(spark) as jobs:
            parquet_schema(spark, path)
    finally:
        spark.conf.set(key, old)
    assert jobs[0] >= 1
    with jobs_launched(spark) as jobs:
        parquet_schema(spark, path)
    assert jobs == [0]


def test_events_read_schema_follows_a_rewrite_at_the_same_path(spark, sf_dir, tmp_path):
    """A file rewritten at the same path must be read with its new schema:
    the events read schema used to be cached by path alone."""
    table = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    path = str(tmp_path / "events.parquet")
    pq.write_table(table, path)
    assert "extra" not in read_table(spark, str(tmp_path), "events").columns

    pq.write_table(table.append_column("extra", pa.array(range(table.num_rows), pa.int64())), path)
    got = read_table(spark, str(tmp_path), "events")
    assert got.columns[-1] == "extra"
    assert got.schema["ts"].dataType.typeName() == "timestamp"
    assert got.agg({"extra": "max"}).first()[0] == table.num_rows - 1


@pytest.mark.parametrize(
    "name,jobs",
    [("text_stats", 0), ("text_pii_redact", 0), ("tpch_q5", 0), ("ann_cosine_topk", 0), ("ann_lsh_topk", 0)],
)
def test_query_build_launches_no_schema_job(spark, sf_dir, name, jobs):
    """Building a registered query on a warm memo launches no Spark job: the
    similarity queries' query vector is memoized with the input metadata."""
    fn = get(name).fn
    fn(spark, sf_dir)
    with jobs_launched(spark) as launched:
        fn(spark, sf_dir)
    assert launched == [jobs], f"{name} launched {launched[0]} Spark jobs while building"
