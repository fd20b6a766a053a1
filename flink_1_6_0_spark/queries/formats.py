"""Format-roundtrip queries — DRIVER-oracle evidence for the CSV / ORC /
Avro source+sink paths (SURVEY.md §2.1; previously pytest-only): each query
WRITES a documents slice through the format's sink and READS it back through
the engine's source, and the oracle is the same slice straight off the
parquet view — so the value-hash match covers BOTH directions of the codec,
not just a same-engine write/read identity.

Paths are unique per (process, query, full-sf-dir-path) and overwritten each
call: the pid component means two concurrent processes (pytest + the driver,
or two checkouts) can never race on the same files, and the sf-dir hash
means two different dirs sharing a basename get distinct paths (round-7
advice). The driver materializes each query's frame before invoking the
next, so no cross-query read can observe a later overwrite. JDBC stays
pytest-only — embedded Derby takes a directory lock a re-entrant driver run
could trip over.
"""

from __future__ import annotations

import hashlib
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from flink_1_6_0_spark.queries import T
from flink_1_6_0_spark.registry import query
from flink_1_6_0_spark.session import scratch_root
from flink_1_6_0_spark.sources import batch as B


def _path(name: str, sf_dir: str) -> str:
    sf_key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    return os.path.join(scratch_root(), f"{name}_{sf_key}")


@query(
    "source_csv_roundtrip",
    oracle="""
    SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id % 3 = 0
    """,
    tags=("sources", "formats"),
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CsvTableSource/Sink roundtrip (flink-libraries CsvTableSource /
    core csv InputFormats): header + explicit read schema, fixed-type
    columns (the text column is exercised by the ORC/Avro roundtrips —
    CSV newline quoting needs multiLine scans, which serialize a 100 TB
    read; keep wide text OUT of CSV)."""
    d = (
        T(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 0)
        .select("doc_id", "lang", "source", "n_chars")
    )
    p = _path("csv", sf_dir)
    B.write_csv(d, p, header=True)
    return B.read_csv(
        spark, p, schema="doc_id long, lang string, source string, n_chars long", header=True
    )


@query(
    "source_orc_roundtrip",
    oracle="""
    SELECT doc_id, text, lang FROM documents WHERE doc_id % 3 = 1
    """,
    tags=("sources", "formats"),
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OrcTableSource roundtrip (flink-connectors/flink-orc) including the
    full text column — columnar fidelity through the native ORC
    writer/reader."""
    d = (
        T(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 1)
        .select("doc_id", "text", "lang")
    )
    p = _path("orc", sf_dir)
    B.write_orc(d, p)
    return B.read_orc(spark, p)


@query(
    "source_avro_roundtrip",
    oracle="""
    SELECT doc_id, text, lang FROM documents WHERE doc_id % 3 = 2
    """,
    tags=("sources", "formats"),
)
def source_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro container roundtrip (flink-formats/flink-avro AvroOutput/
    InputFormat) through the pure-Python codec: per-partition container
    files with deflate blocks on the write, binaryFile + Arrow-batched
    decode on the read — full unicode text through zigzag/deflate framing,
    value-hash-checked against the parquet original."""
    d = (
        T(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 2)
        .select("doc_id", "text", "lang")
    )
    p = _path("avro", sf_dir)
    B.write_avro(d, p)
    return B.read_avro(spark, p)


@query(
    "source_json_roundtrip",
    oracle="""
    SELECT doc_id, text, lang, n_chars FROM documents WHERE doc_id % 4 = 1
    """,
    tags=("sources", "formats"),
)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines roundtrip (flink-formats/flink-json
    JsonRowSerializationSchema/JsonRowDeserializationSchema): write a
    documents slice as line-delimited JSON, read it back with an EXPLICIT
    schema (schema inference scans the data twice and can widen types —
    never acceptable on a 100 TB read). Full unicode text goes through the
    JSON string escapes, closing the last pytest-only format tier with a
    driver-oracle value-hash (round-7 verdict task 6)."""
    d = (
        T(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 4 == 1)
        .select("doc_id", "text", "lang", "n_chars")
    )
    p = _path("json", sf_dir)
    B.write_json(d, p)
    return B.read_json(
        spark, p, schema="doc_id long, text string, lang string, n_chars long"
    )
