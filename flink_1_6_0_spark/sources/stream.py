"""Streaming sources & sinks — SURVEY.md §2.1, §2.11.

Reference → Spark:
- Kafka consumer/producer (FlinkKafkaConsumerBase.java:84,
  FlinkKafkaProducer011.java:94) → readStream/writeStream format("kafka")
  (exactly-once via checkpointed offsets + idempotent epoch writes — the
  moral equivalent of TwoPhaseCommitSinkFunction)
- env.socketTextStream (StreamExecutionEnvironment.java:1194)
  → format("socket")
- readFile watch mode (ContinuousFileMonitoringFunction,
  StreamExecutionEnvironment.java:999) → file-source streams (new-file
  discovery per micro-batch)
- StreamingFileSink/BucketingSink → writeStream format("parquet")
- print()/debug sinks → format("console") / format("memory")

Kafka/socket need live endpoints; tests drive the file and memory paths.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable
from contextlib import contextmanager, nullcontext

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from flink_1_6_0_spark.catalog import _events_read_schema, normalize_table
from flink_1_6_0_spark.queries import harden_session
from flink_1_6_0_spark.session import _default_parallelism
from flink_1_6_0_spark.sources.batch import parquet_rows, parquet_schema


#: Per-epoch row budget for time-ordered directory replays. The r15 x100
#: stream probe found the bound empirically: 3 epochs of ~3.3M rows OOM'd
#: the JVM heap at the ApplyInPandasWithState STATE readback (a stateful
#: kernel buffers its per-key state until the epoch's watermark advance, so
#: per-epoch input volume IS the state high-water mark on a single-JVM
#: local run). ~350k rows/epoch is the x10 gate's proven-green volume; on a
#: real cluster the same state distributes across executors and the budget
#: scales with executor count.
_EPOCH_ROWS_TARGET = 350_000


#: Rows of per-epoch input one streaming state partition should carry. The
#: r16 scaling block showed stateful queries were state-store-COMMIT bound,
#: not data bound, at bench scale: `spark.sql.shuffle.partitions` =
#: SPARK_GRAFT_CPUS handed a 10k-row epoch 32 partitions (a stream-stream
#: join commits 4 store instances per partition per micro-batch — 128
#: commits for ~4k state rows), making 32 cores 2.2x SLOWER than 8 for
#: stream_tumble_agg and stream_outer_join ~25 s at sf0.01 (r17 attribution:
#: 217 s cumulative commitTimeMs in one batch). Partition count now derives
#: from DATA VOLUME (rows per epoch), capped by SPARK_GRAFT_CPUS so cluster
#: runs keep full parallelism: at 100 TB the cap binds long before this
#: target does, while toy/bench epochs stop paying two orders of magnitude
#: of per-store constant overhead. NOT a local[32] special case — the same
#: rule sizes up with the tier (x10 stamped tier: 333k-row epochs -> 7
#: partitions at both core counts, so the driver's core sweep measures the
#: engine, not store constants).
_ROWS_PER_STATE_PARTITION = 50_000


def _is_time_ordered(path: str) -> bool:
    return os.path.isfile(os.path.join(path, "_TIME_ORDERED"))


def _source_epochs(spark: SparkSession, path: str) -> int:
    """How many micro-batches the bounded replay of ``path`` produces under
    the rules read_parquet_stream applies at events_stream's files per
    trigger: single files and unstamped directories drain in ONE epoch; a
    _TIME_ORDERED directory replays ceil(n_parts / per_trigger) epochs."""
    if _is_time_ordered(path):
        per = _time_ordered_per_trigger(spark, path)
        n_parts = sum(
            1 for f in os.listdir(path) if f.startswith("part-") and f.endswith(".parquet")
        )
        return max(1, -(-n_parts // per))
    return 1


def stateful_shuffle_partitions(
    spark: SparkSession, path: str, epochs: int | None = None
) -> int:
    """State-partition count for a bounded streaming replay of ``path``:
    ceil(rows-per-epoch / _ROWS_PER_STATE_PARTITION), clamped to
    [1, SPARK_GRAFT_CPUS]. Derived from data volume only (see the constant's
    note); the CPUS cap is the cluster-parallelism ceiling, not a tuning
    knob. The row count is the input-metadata memo's (footer metadata,
    counted once per file identity)."""
    total = parquet_rows(spark, path)
    if epochs is None:
        epochs = _source_epochs(spark, path)
    per_epoch = max(1, total // max(1, epochs))
    cap = _default_parallelism()
    return max(1, min(cap, -(-per_epoch // _ROWS_PER_STATE_PARTITION)))


@contextmanager
def scaled_state_partitions(spark: SparkSession, path: str, epochs: int | None = None):
    """Scope ``spark.sql.shuffle.partitions`` to a data-derived value for one
    streaming query's lifetime (the conf is read at query START and fixes the
    state-store partition count for that checkpoint). Restores the previous
    value on exit; yields the chosen count."""
    n = stateful_shuffle_partitions(spark, path, epochs)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield n
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _time_ordered_per_trigger(spark: SparkSession, path: str) -> int:
    """maxFilesPerTrigger for a `_TIME_ORDERED`-stamped directory: at least
    3 epochs (multi-batch evidence), more when needed to keep each epoch
    under _EPOCH_ROWS_TARGET rows. The row count is parquet-footer
    metadata (no data scan) but still a Spark job — taken from the
    input-metadata memo, since stamped tiers are immutable once published
    (bench runs construct the same stream dozens of times)."""
    n_parts = sum(
        1 for f in os.listdir(path) if f.startswith("part-") and f.endswith(".parquet")
    )
    total = parquet_rows(spark, path)
    epochs = max(3, -(-total // _EPOCH_ROWS_TARGET))
    per = max(1, n_parts // epochs)
    if n_parts < epochs:
        # r15 ADVICE: per clamps to 1 file/trigger, but with fewer part
        # files than needed epochs each file ALREADY exceeds the row
        # budget — the exact single-JVM state-OOM condition the budget
        # exists to prevent (e.g. 30 parts holding 60M rows = 2M-row
        # epochs). Warn loudly so the tier gets re-synthesized with
        # enough files (scale_synth sizes part counts from the budget).
        import warnings

        warnings.warn(
            f"time-ordered tier {path}: {n_parts} part files < {epochs} "
            f"epochs needed to keep epochs under {_EPOCH_ROWS_TARGET} rows "
            f"({total} total) — epochs will exceed the state budget; "
            "re-synthesize the tier with more part files",
            RuntimeWarning,
            stacklevel=2,
        )
    return per


def read_parquet_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 1,
    schema: StructType | None = None,
) -> DataFrame:
    """A parquet input replayed as a bounded stream (readFile watch-mode
    analog) — the engine's one file-replay reader. The layout decides how
    the input is cut into micro-batches:

    - a single file: the file source needs a directory, so the parent is
      read narrowed by a ``pathGlobFilter`` (one file, one micro-batch);
    - a ``_TIME_ORDERED`` directory (scale_synth._stamp_time_ordered: one
      part file per disjoint ts range, ascending mtimes): >= 3 genuinely
      time-ordered micro-batches at the row-budgeted files per trigger —
      the file source admits oldest-mtime first, so watermarks advance
      strictly forward, and no epoch outgrows _EPOCH_ROWS_TARGET;
    - any other directory: ``max_files_per_trigger`` files per micro-batch.

    ``schema`` replaces the inferred one (events_stream's scan-time ts
    conversion). Hardens the session first: the schema probe dies on
    TIMESTAMP(NANOS) parquet (events table) unless nanosAsLong is set — and
    a bare driver session may run a streaming query before any batch one.
    The probe is the input-metadata memo's, inferred once per input."""
    harden_session(spark)
    if schema is None:
        schema = parquet_schema(spark, path)
    if _is_time_ordered(path):
        max_files_per_trigger = _time_ordered_per_trigger(spark, path)
    reader = spark.readStream.schema(schema).option("maxFilesPerTrigger", max_files_per_trigger)
    if os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    return reader.parquet(path)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TESTDATA events table as a stream (ts normalized from ns).

    When events.ts arrives TIMESTAMP_NTZ the explicit TIMESTAMP read schema
    does the conversion inside the scan (same trick as catalog.read_table —
    no cast projection per micro-batch); otherwise normalize post-read.

    An unstamped directory table drains in ONE micro-batch: its part files
    are not time-ordered, so a 1-file-per-trigger replay feeds the
    watermark out of order and drops most rows as late (r14 x10 gate
    finding) — the bounded-replay semantics the oracles model are the
    single-epoch drain. Ordered MULTI-batch progression comes from a
    _TIME_ORDERED tier and from the stream_multibatch_* family over the
    date-partitioned lake, whose batches are genuinely time-ordered."""
    path = os.path.join(sf_dir, "events.parquet")
    harden_session(spark)
    stream = read_parquet_stream(spark, path, 1_000_000, _events_read_schema(spark, path))
    return normalize_table("events", stream)


def rate_stream(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Synthetic benchmark source (timestamp, value) — Spark's rate source."""
    return spark.readStream.format("rate").option("rowsPerSecond", rows_per_second).load()


def socket_stream(spark: SparkSession, host: str, port: int) -> DataFrame:
    """env.socketTextStream (StreamExecutionEnvironment.java:1194)."""
    return spark.readStream.format("socket").option("host", host).option("port", port).load()


# The exact option spellings of Spark's kafka DataSource (Structured
# Streaming + Kafka Integration Guide). Centralized so the contract test
# (tests/test_sources.py::test_kafka_call_shape_*) fails loudly if a
# spelling drifts. Lighting this up needs the package
# org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version> (for this
# image: 4.1.2) on the classpath plus a live broker — neither ships in the
# container, so the tests pin the call shape, not broker I/O.
def kafka_source_options(bootstrap: str, topics: str, starting_offsets: str = "earliest") -> dict[str, str]:
    return {
        "kafka.bootstrap.servers": bootstrap,
        "subscribe": topics,
        "startingOffsets": starting_offsets,
    }


def kafka_sink_options(bootstrap: str, topic: str) -> dict[str, str]:
    return {
        "kafka.bootstrap.servers": bootstrap,
        "topic": topic,
    }


def kafka_stream(spark: SparkSession, bootstrap: str, topics: str, starting_offsets: str = "earliest") -> DataFrame:
    """FlinkKafkaConsumer analog (FlinkKafkaConsumerBase.java:84):
    subscribe + bootstrap servers + starting offsets (the reference's
    setStartFromEarliest/Latest maps to startingOffsets)."""
    return (
        spark.readStream.format("kafka")
        .options(**kafka_source_options(bootstrap, topics, starting_offsets))
        .load()
    )


def kafka_sink(df: DataFrame, bootstrap: str, topic: str, checkpoint: str):
    """FlinkKafkaProducer analog (FlinkKafkaProducer011.java:94): the frame
    must carry a ``value`` column (and optional ``key``) per the kafka sink
    contract; exactly-once comes from the checkpointed sink commit protocol,
    the same guarantee tier as the reference's transactional producer."""
    return (
        df.writeStream.format("kafka")
        .options(**kafka_sink_options(bootstrap, topic))
        .option("checkpointLocation", checkpoint)
        .start()
    )


def to_memory_sink(df: DataFrame, name: str, output_mode: str = "append"):
    """Debug/test sink: START the query into the in-memory table ``name``
    (read it back with ``spark.table(name)``). Returns the running
    StreamingQuery; the caller drives and stops it — drain_to_memory does
    both for a bounded stream."""
    return df.writeStream.outputMode(output_mode).format("memory").queryName(name).start()


def drain(
    spark: SparkSession,
    start: Callable[[], StreamingQuery],
    sizing: str | None = None,
    min_batches: int = 0,
) -> list[dict]:
    """Drive one bounded stream to completion — the engine's one run-to-
    completion entry point (the StreamExecutionEnvironment.execute analog
    for a bounded job). ``start`` starts the query: a memory sink
    (drain_to_memory) or a foreachBatch kernel that starts its own.

    With a ``sizing`` path the query STARTS inside scaled_state_partitions
    for that input, so its state-store partition count follows the data
    volume, not the core count (see _ROWS_PER_STATE_PARTITION). A replay
    that promises ``min_batches`` epochs is sized at that many; otherwise
    at the source layout's epoch count. Partition values are key-hashed,
    so computed rows are unchanged — only the store-instance count and
    output order move.

    Returns the progress of the micro-batches that carried input rows (the
    Structured Streaming per-batch progress model) and raises if there are
    fewer than ``min_batches``: a multi-batch claim is load-bearing
    (cross-batch state), so a layout change that collapses the replay must
    fail loudly, not pass on weaker evidence. The query is stopped either
    way."""
    scope = (
        scaled_state_partitions(spark, sizing, min_batches or None) if sizing else nullcontext()
    )
    with scope:
        q = start()
        try:
            q.processAllAvailable()
            progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        finally:
            q.stop()
    if len(progress) < min_batches:
        raise AssertionError(
            f"expected >= {min_batches} non-empty micro-batches, got {len(progress)}"
        )
    return progress


def drain_to_memory(
    df: DataFrame, mode: str, sizing: str | None = None, min_batches: int = 0
) -> tuple[DataFrame, list[dict]]:
    """drain() through a memory sink in output ``mode``; returns
    ``(result table, progress)``."""
    name = f"q_{uuid.uuid4().hex[:12]}"
    progress = drain(df.sparkSession, lambda: to_memory_sink(df, name, mode), sizing, min_batches)
    return df.sparkSession.table(name), progress


def to_parquet_sink(df: DataFrame, path: str, checkpoint: str, output_mode: str = "append"):
    """StreamingFileSink analog — exactly-once via checkpointed file commits."""
    return (
        df.writeStream.outputMode(output_mode)
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def to_foreach_batch(df: DataFrame, fn, checkpoint: str | None = None, output_mode: str = "update"):
    """TwoPhaseCommitSinkFunction analog: fn(batch_df, epoch_id) with epoch_id
    as the idempotence key — retried epochs carry the same id."""
    w = df.writeStream.outputMode(output_mode).foreachBatch(fn)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w.start()
