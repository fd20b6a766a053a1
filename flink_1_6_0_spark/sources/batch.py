"""Batch sources & sinks — SURVEY.md §2.1.

Reference surface → Spark reader/writer:
- env.fromElements/fromCollection (StreamExecutionEnvironment.java:704,772)
  → spark.createDataFrame
- env.generateSequence (:679) → spark.range
- env.readTextFile (:942) / CsvInputFormat / CsvTableSource
  (flink-table/.../sources/CsvTableSource.scala:50) → spark.read.text/csv
- JSON (JsonRowDeserializationSchema) → spark.read.json / from_json
- parquet (flink-formats/flink-parquet) → spark.read.parquet
- JDBC (flink-connectors JDBCInputFormat) → spark.read.format("jdbc")
- CsvTableSink / writeAsCsv (DataStream.java:1065) → df.write.csv
- BucketingSink partitioned output → df.write.partitionBy(...)

Pushdown contracts (ProjectableTableSource / FilterableTableSource,
flink-table/.../sources/*.scala) are DataSource-V2 built-ins here: parquet
scans receive pruned columns + pushed filters from Catalyst automatically
(verified in tests/test_plans.py by inspecting PushedFilters/ReadSchema).
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def from_elements(spark: SparkSession, rows: Iterable, schema) -> DataFrame:
    """env.fromElements / fromCollection."""
    return spark.createDataFrame(list(rows), schema)


def generate_sequence(spark: SparkSession, start: int, end: int) -> DataFrame:
    """env.generateSequence — inclusive bounds like the reference."""
    return spark.range(start, end + 1).withColumnRenamed("id", "value")


def read_text(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.text(path)


def read_csv(spark: SparkSession, path: str, schema=None, header: bool = False, delimiter: str = ",") -> DataFrame:
    """CsvTableSource — explicit schema strongly preferred (inferSchema scans twice)."""
    reader = spark.read.option("header", header).option("sep", delimiter)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


# Session confs that change what Spark infers from a parquet footer: a memo
# entry is served only under the values it was inferred with.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)


class _InputMeta:
    """One memo entry: the inferred schema, and the row count once asked."""

    __slots__ = ("schema", "rows")

    def __init__(self, schema: StructType):
        self.schema = schema
        self.rows: int | None = None


# The engine's one input-metadata memo (the TableSource.getTableSchema
# analog: a source's schema is derived once, not per scan). A schema-less
# spark.read.parquet launches a Spark job to infer the schema — ~100 ms
# against ~20 ms for a read with an explicit schema — and every registered
# query paid it once per table read, on every call.
_INPUT_META: dict[tuple, _InputMeta] = {}


def file_identity(path: str) -> tuple[str, int, int] | None:
    """``(realpath, mtime_ns, size)`` of an immutable input; a directory
    stamped ``_TIME_ORDERED`` is identified by its marker, which every
    publish re-stamps. None for a path the local FS cannot stat (hdfs://,
    s3://): such an input has no safe key and is never memoized."""
    marker = os.path.join(path, "_TIME_ORDERED")
    try:
        st = os.stat(marker if os.path.isfile(marker) else path)
    except OSError:
        return None
    return (os.path.realpath(path), st.st_mtime_ns, st.st_size)


def _input_meta(spark: SparkSession, path: str) -> _InputMeta | None:
    ident = file_identity(path)
    if ident is None:
        return None
    key = ident + tuple(spark.conf.get(k) for k in _SCHEMA_CONFS)
    meta = _INPUT_META.get(key)
    if meta is None:
        meta = _INPUT_META[key] = _InputMeta(spark.read.parquet(path).schema)
    return meta


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, inferred once per
    file identity and inference confs."""
    meta = _input_meta(spark, path)
    return spark.read.parquet(path).schema if meta is None else meta.schema


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Lazy scan of an immutable parquet input with its memoized schema: no
    Spark job once the input has been seen. Directories a call has just
    written (state dirs, flags) have nothing to reuse and read directly."""
    meta = _input_meta(spark, path)
    if meta is None:
        return spark.read.parquet(path)
    return spark.read.schema(meta.schema).parquet(path)


def parquet_rows(spark: SparkSession, path: str) -> int:
    """Row count of an immutable parquet input (a footer-metadata job),
    counted once per memo entry."""
    meta = _input_meta(spark, path)
    if meta is None:
        return spark.read.parquet(path).count()
    if meta.rows is None:
        meta.rows = spark.read.schema(meta.schema).parquet(path).count()
    return meta.rows


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC format (reference: flink-connectors/flink-orc OrcTableSource) —
    Spark-native columnar reader with the same pushdown contracts as parquet
    (predicate pushdown + column pruning reach the ORC scan)."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).orc(path)


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro container files (reference: flink-formats/flink-avro
    AvroInputFormat.java). Prefers Spark's native avro DataSource when its
    jar is present; otherwise reads via the pure-Python codec in
    sources/avro_format.py: `binaryFile` distributes one container file per
    task, `mapInPandas` decodes Arrow-batched — the same file-per-split
    parallelism as AvroInputFormat (block-splitting within one file is not
    implemented; write many medium files, the 100 TB norm)."""
    try:
        return spark.read.format("avro").load(path)
    except Exception:
        pass  # spark-avro DataSource jar absent — pure-Python path below

    import pandas as pd

    from flink_1_6_0_spark.sources import avro_format as A

    files = spark.read.format("binaryFile").option("pathGlobFilter", "*.avro").load(path)
    first = files.select("content").head()
    if first is None:
        raise FileNotFoundError(f"no .avro files under {path}")
    spark_schema = A.avro_to_spark_schema(A.read_schema(bytes(first["content"])))
    names = [f.name for f in spark_schema.fields]

    def decode(batches):
        for pdf in batches:
            rows = []
            for content in pdf["content"]:
                _, recs = A.read_container(bytes(content))
                rows.extend(recs)
            yield pd.DataFrame(rows, columns=names) if rows else pd.DataFrame(
                {n: [] for n in names}
            )

    return files.select("content").mapInPandas(decode, schema=spark_schema)


def write_avro(df: DataFrame, path: str, mode: str = "overwrite", codec: str = "deflate") -> None:
    """Avro container sink (reference: flink-formats/flink-avro
    AvroOutputFormat.java). Native DataSource when present; otherwise each
    partition serializes its rows into one container file (deflate blocks,
    per-file random sync marker) named by TaskContext.partitionId — the
    file-per-task layout the reference's OutputFormat produces."""
    try:
        df.write.mode(mode).format("avro").save(path)
        return
    except Exception:
        pass  # spark-avro DataSource jar absent — pure-Python path below

    import shutil
    import uuid

    import pandas as pd

    from flink_1_6_0_spark.sources import avro_format as A

    if os.path.exists(path):
        if mode == "overwrite":
            shutil.rmtree(path)
        elif mode == "error":
            raise FileExistsError(path)
    os.makedirs(path, exist_ok=True)
    avro_schema = A.spark_to_avro_schema(df.schema)
    run_id = uuid.uuid4().hex[:8]

    def encode(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        recs = []
        for pdf in batches:
            recs.extend(pdf.to_dict("records"))
        if recs:
            fname = os.path.join(path, f"part-{pid:05d}-{run_id}.avro")
            with open(fname, "wb") as fh:
                fh.write(A.write_container(recs, avro_schema, codec))
            yield pd.DataFrame({"path": [fname], "rows": [len(recs)]})

    df.mapInPandas(encode, "path string, rows long").collect()


def read_jdbc(spark: SparkSession, url: str, table: str, **options) -> DataFrame:
    """JDBCInputFormat / JDBCTableSource (flink-connectors/flink-jdbc/.../
    JDBCInputFormat.java, JDBCTableSource). Works against any driver on the
    classpath; the Spark distribution ships embedded Derby (the Hive
    metastore's store), so ``jdbc:derby:...`` round-trips are tested in this
    image. At scale use ``partitionColumn``/``lowerBound``/``upperBound``/
    ``numPartitions`` options for a parallel partitioned read."""
    return spark.read.format("jdbc").option("url", url).option("dbtable", table).options(**options).load()


def write_jdbc(df: DataFrame, url: str, table: str, mode: str = "append", **options) -> None:
    """JDBCOutputFormat / JDBCAppendTableSink (flink-connectors/flink-jdbc/
    .../JDBCOutputFormat.java, JDBCAppendTableSink.java): batched inserts per
    partition (Spark's JDBC writer batches ``batchsize`` rows per round
    trip, one connection per partition — the reference's flush-interval
    analog)."""
    df.write.format("jdbc").option("url", url).option("dbtable", table).options(**options).mode(mode).save()


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", header: bool = False) -> None:
    """CsvTableSink / writeAsCsv."""
    df.write.mode(mode).option("header", header).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink (JsonRowSerializationSchema analog): one JSON object
    per line, written per-partition — splittable on read, unlike a single
    JSON array document."""
    df.write.mode(mode).json(path)


def write_text(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).text(path)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    """BucketingSink-style partitioned columnar output."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def _parquet_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """Recursively list (path, bytes) for every .parquet data file under
    ``path`` via the Hadoop FS. Recursive because hive-partitioned tables
    keep their data files in key=value subdirectories, which a flat
    listStatus reports as n_files=0 (round-7 advice); works on hdfs:///s3://
    through the same FS abstraction."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return []
    out: list[tuple[str, int]] = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        st = it.next()
        if st.getPath().getName().endswith(".parquet"):
            out.append((st.getPath().toString(), st.getLen()))
    return out


def compact_parquet(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_file_mb: int = 128,
    partition_by: list[str] | None = None,
) -> int:
    """Small-files compaction — the table-maintenance pass every long-lived
    100 TB dataset needs (streaming sinks and per-epoch state writers emit
    one file per micro-batch partition; thousands of KB-files make every
    later scan seek-bound and blow the driver's split enumeration).

    Sizes the output by the INPUT's actual bytes via the Hadoop FS (works
    for hdfs:///s3:// paths, not just local), rewrites to
    ``ceil(bytes / target_file_mb)`` files, and returns the file count.
    Round-robin repartition (no shuffle key) keeps row order irrelevant and
    output sizes even; writes to a NEW path — atomic swap/rename is the
    caller's move so readers never see a half-compacted table (the same
    versioned-swap rule as the streaming asof standing state).

    Hive-partitioned inputs: pass ``partition_by`` with the partition
    columns to keep the key=value directory layout (and partition pruning)
    in the output; without it the partition columns are flattened into the
    data files — the rows survive but the pruning layout does not.
    """
    import math

    total = sum(sz for _, sz in _parquet_files(spark, path))
    n_files = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    w = spark.read.parquet(path).repartition(n_files).write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(out_path)
    return len(_parquet_files(spark, out_path))


def fragmentation_report(spark: SparkSession, path: str, small_file_mb: int = 8) -> dict:
    """The measurement half of small-files maintenance: file count, byte
    totals and size spread for a parquet path, plus the small-file count
    that decides whether ``compact_parquet`` is worth a rewrite pass.

    FS-metadata walk only (no data read) — cost is bounded by file count,
    which is exactly the thing being diagnosed; recursive, so
    hive-partitioned layouts report their real file population; works on
    hdfs:///s3:// through the Hadoop FS like the compactor.
    """
    import statistics

    sizes = sorted(sz for _, sz in _parquet_files(spark, path))
    if not sizes:
        return {"n_files": 0, "total_bytes": 0, "n_small": 0}
    small = small_file_mb * 1024 * 1024
    return {
        "n_files": len(sizes),
        "total_bytes": sum(sizes),
        "min_bytes": sizes[0],
        "median_bytes": int(statistics.median(sizes)),
        "max_bytes": sizes[-1],
        "n_small": sum(1 for s in sizes if s < small),
    }
