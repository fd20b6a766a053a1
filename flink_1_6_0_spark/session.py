"""Session management — the analog of Flink's ExecutionEnvironment/TableEnvironment.

Reference surface: StreamExecutionEnvironment (flink-streaming-java/.../
StreamExecutionEnvironment.java) and TableEnvironment
(flink-table/.../api/TableEnvironment.scala). In this engine a single
SparkSession carries both batch and streaming; the TableEnvironment wrapper
adds the catalog, the SQL front-end shim (TUMBLE/HOP/SESSION), time-attribute
registration, and UDF registration.

Scale notes (100 TB design intent):
- AQE on: runtime re-planning, skew-join splitting, dynamic coalescing.
- shuffle.partitions defaults to cores locally; on a real cluster set it to
  2-3x total executor cores (AQE coalesces down from there).
- UTC session timezone pins timestamp semantics to the parquet storage values
  (and to the DuckDB oracle).
- Arrow enabled: every pandas-UDF boundary is vectorized batch transfer.
- Local master only: stream checkpoints go through Spark's FileSystem-API
  checkpoint manager, so the per-epoch WAL, commit and state-store writes
  fork no `readlink` (Hadoop's FileContext local rename shells out without
  the native library). A cluster master keeps Spark's FileContext default,
  whose rename is atomic on HDFS.
- Local master only: the JVM's file:// filesystem is the engine's
  ``jvm/NioLocalFileSystem`` (compiled once per checkout), which sets a
  created file's or directory's mode with one chmod(2) instead of forking
  /bin/chmod, and still writes and checks every ``.crc``. Checkpoints,
  state files and every local parquet/CSV/JSON write go through it. A
  cluster master, or a host without ``javac``, keeps Hadoop's default.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess
import tempfile
import warnings

from pyspark.sql import DataFrame, SparkSession


def _default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


_SCRATCH_ROOT: str | None = None

# the checkout root: the directory that holds the flink_1_6_0_spark package
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# The engine's local filesystem shim: its Java source and the gitignored
# directory it is compiled into, one subdirectory per source and Hadoop jar.
NIO_LOCAL_FS = "flink_1_6_0_spark.jvm.NioLocalFileSystem"
_NIO_LOCAL_FS_SRC = os.path.join(_ROOT, "flink_1_6_0_spark", "jvm", "NioLocalFileSystem.java")
_JVM_BUILD = os.path.join(_ROOT, "flink_1_6_0_spark", "jvm", "build")


def nio_local_fs_classes() -> str | None:
    """The class directory of :data:`NIO_LOCAL_FS`, compiled on first use
    against Spark's Hadoop client jar; None (with a warning) when it cannot
    be built, e.g. on a host with a JRE and no ``javac``. The directory is
    keyed by a hash of the source and the jar's name and moved into place
    with one rename, so concurrent first calls are safe."""
    from pyspark.find_spark_home import _find_spark_home

    jars = sorted(glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar")))
    with open(_NIO_LOCAL_FS_SRC, "rb") as f:
        digest = hashlib.sha256(f.read() + "".join(map(os.path.basename, jars)).encode())
    out = os.path.join(_JVM_BUILD, digest.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    javac = shutil.which("javac")
    if javac is None or not jars:
        warnings.warn("no javac or Hadoop client jar: the local filesystem forks chmod per file")
        return None
    try:
        os.makedirs(_JVM_BUILD, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=".tmp-", dir=_JVM_BUILD)
        run = subprocess.run(
            [javac, "--release", "17", "-cp", jars[-1], "-d", tmp, _NIO_LOCAL_FS_SRC],
            capture_output=True,
            text=True,
        )
        if run.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            warnings.warn(f"compiling {NIO_LOCAL_FS} failed, keeping Hadoop's: {run.stderr[-500:]}")
            return None
        try:
            os.replace(tmp, out)
        except OSError:  # a concurrent first call moved its build in first
            shutil.rmtree(tmp, ignore_errors=True)
    except OSError as e:
        warnings.warn(f"cannot build {NIO_LOCAL_FS}, keeping Hadoop's: {e}")
        return None
    return out


def _nio_local_fs_conf() -> dict[str, str]:
    """The confs that make :data:`NIO_LOCAL_FS` the file:// filesystem:
    empty when it did not build, or when this process's JVM already runs
    without it on its classpath (the classpath is fixed at JVM start, and a
    filesystem class the JVM cannot load breaks every local read)."""
    from pyspark import SparkContext

    classes = nio_local_fs_classes()
    if classes is None:
        return {}
    if SparkContext._jvm is not None:
        cp = SparkContext._jvm.java.lang.System.getProperty("java.class.path")
        # the launcher lists a class directory with a trailing separator
        if classes not in map(os.path.normpath, cp.split(os.pathsep)):
            return {}
    return {"spark.driver.extraClassPath": classes, "spark.hadoop.fs.file.impl": NIO_LOCAL_FS}


def scratch_root() -> str:
    """This process's scratch directory under the system temp dir, created
    on first use and removed at interpreter exit. Per-call state, checkpoint
    and round-trip directories live under it: a query's lazy result may
    still read them after the call returns, so they cannot be removed
    earlier, and the pid keeps concurrent processes apart."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        import atexit
        import shutil
        import tempfile

        root = os.path.join(tempfile.gettempdir(), f"spark_graft_{os.getpid()}")
        os.makedirs(root, mode=0o700, exist_ok=True)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _SCRATCH_ROOT = root
    return _SCRATCH_ROOT


def get_spark(
    app_name: str = "flink-1.6.0-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    Mirrors StreamExecutionEnvironment.getExecutionEnvironment
    (StreamExecutionEnvironment.java:1588) — a process-wide environment the
    rest of the API hangs off.
    """
    # Python workers import the engine through PYTHONPATH (the JVM passes its
    # environment on), not through this process's sys.path: with the checkout
    # root on it a script works from any working directory
    paths = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if _ROOT not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in [_ROOT, *paths] if p)
    cpus = _default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # -- correctness-critical --------------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # -- scale / performance ---------------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # TESTDATA's events.ts is TIMESTAMP(NANOS) parquet, which the vectorized
        # reader rejects; read as long and convert in the catalog loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Streaming state store: RocksDB would be the 100TB choice; the local
        # image ships the default HDFS-backed store which is fine for tests.
        .config("spark.sql.streaming.stateStore.compression.codec", "lz4")
    )
    if (master or "local").startswith("local"):
        # A local master keeps every checkpoint (offset WAL, commit log,
        # state-store delta and checksum files) under a local temp or
        # scratch dir. Spark's default FileContext manager shells out per
        # rename without the native Hadoop library (four `readlink` forks,
        # 3.5-5 ms each); the FileSystem manager's local rename is the same
        # POSIX rename(2) with no fork. A cluster master keeps the default.
        builder = builder.config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        # Without the native Hadoop library every local create and mkdirs
        # forks /bin/chmod (about 5 ms each, ~25 per stream query: metadata,
        # offset WAL, commit log, state files and each one's .crc). The shim
        # sets the same mode bits through java.nio. The local driver JVM is
        # also the executor, so one driver classpath entry covers both.
        builder = builder.config(map=_nio_local_fs_conf())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_STATE_BACKENDS = {
    # Flink state backends (state/memory/MemoryStateBackend.java,
    # filesystem/FsStateBackend.java) — Spark's default HDFS-backed store
    # keeps state on-heap with a checkpoint file per batch: same contract.
    "memory": "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    "fs": "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    # flink-state-backends/flink-statebackend-rocksdb (incremental
    # checkpoints) — Spark ships a RocksDB provider whose changelog
    # checkpointing is the incremental-checkpoint analog. This is the 100 TB
    # choice: state larger than executor heap spills to local SSD.
    "rocksdb": "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
}


def set_state_backend(spark: SparkSession, backend: str) -> None:
    """env.setStateBackend(...) (StreamExecutionEnvironment.java:428) analog.

    Applies to streaming queries STARTED AFTER the call (the provider class is
    read at query start). ``rocksdb`` also enables changelog checkpointing —
    the incremental-checkpoint mode of the reference backend.
    """
    provider = _STATE_BACKENDS.get(backend.lower())
    if provider is None:
        raise ValueError(f"unknown state backend {backend!r}; choose from {sorted(_STATE_BACKENDS)}")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        str(backend.lower() == "rocksdb").lower(),
    )


class TableEnvironment:
    """Unified batch/stream table environment.

    Reference: flink-table/.../api/TableEnvironment.scala:646 (sqlQuery),
    :417/:437 (registerTable/registerTableSource), :337 (registerFunction).
    Here the Calcite pipeline is replaced by Catalyst; we only add the SQL
    front-end shim for Flink group-window syntax and the time-attribute
    registry (SURVEY.md §4.3 "needs custom work" items 1-2).
    """

    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark or get_spark()
        # table name -> rowtime column (event-time attribute + watermark delay)
        self._rowtime: dict[str, tuple[str, str]] = {}

    # -- catalog ---------------------------------------------------------
    def register_table(self, name: str, df: DataFrame) -> None:
        """registerTable (TableEnvironment.scala:417)."""
        df.createOrReplaceTempView(name)

    def register_parquet(self, name: str, path: str) -> DataFrame:
        """registerTableSource for a parquet source (CsvTableSource analog,
        flink-table/.../sources/CsvTableSource.scala:50 — parquet because the
        engine is columnar-first; CSV via ``sources.batch.read_csv``)."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import TimestampNTZType

        from flink_1_6_0_spark.catalog import normalize_table
        from flink_1_6_0_spark.sources.batch import read_parquet

        # route through the catalog's ns-timestamp normalization, then cast
        # any remaining TIMESTAMP_NTZ column to TIMESTAMP regardless of the
        # registered view name (normalize_table keys on 'events'): a raw NTZ
        # column breaks TUMBLE and withWatermark downstream, and under the
        # UTC session timezone the cast is value-preserving
        df = normalize_table(name, read_parquet(self.spark, path))
        for f in df.schema.fields:
            if isinstance(f.dataType, TimestampNTZType):
                df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
        df.createOrReplaceTempView(name)
        return df

    def register_rowtime(self, table: str, column: str, delay: str = "0 seconds") -> None:
        """Declare an event-time attribute + bounded-out-of-orderness watermark.

        Reference: DefinedRowtimeAttributes (flink-table/.../sources/
        definedTimeAttributes.scala:50) + BoundedOutOfOrderTimestamps
        (sources/wmstrategies/). In Spark this becomes
        ``df.withWatermark(column, delay)`` injected when the table is read
        as a stream (plans.time_attributes).
        """
        self._rowtime[table] = (column, delay)

    def rowtime_of(self, table: str) -> tuple[str, str] | None:
        return self._rowtime.get(table)

    # -- SQL -------------------------------------------------------------
    def sql(self, query: str) -> DataFrame:
        """sqlQuery (TableEnvironment.scala:646) with the Flink group-window
        front-end shim applied (TUMBLE/HOP/SESSION → window()/session_window())."""
        from flink_1_6_0_spark.plans.sql_frontend import rewrite_flink_sql

        return self.spark.sql(rewrite_flink_sql(query))

    # -- UDFs --------------------------------------------------------------
    def register_function(self, name: str, fn, return_type=None) -> None:
        """registerFunction (TableEnvironment.scala:337) for ScalarFunction.
        UDTF/UDAF registration lives in functions.udf."""
        self.spark.udf.register(name, fn, return_type)

    # -- catalog introspection / DML --------------------------------------
    def scan(self, name: str):
        """TableEnvironment.scan (TableEnvironment.scala:502): a registered
        table as a fluent Table."""
        from flink_1_6_0_spark.table_api import Table

        return Table(self.spark.table(name))

    def list_tables(self) -> list[str]:
        """listTables (TableEnvironment.scala:480)."""
        return sorted(t.name for t in self.spark.catalog.listTables())

    def explain(self, table_or_df) -> str:
        """TableEnvironment.explain: the optimized physical plan as a string
        (Catalyst's formatted explain replaces the AST/logical/physical
        triptych the reference prints)."""
        df = getattr(table_or_df, "df", table_or_df)
        return df._jdf.queryExecution().explainString(
            self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )

    def sql_update(self, stmt: str) -> None:
        """sqlUpdate (TableEnvironment.scala:715): INSERT INTO <table>
        <query> — the query side gets the same Flink-SQL front-end rewrite,
        the sink side appends via the DataFrameWriterV2 path."""
        import re as _re

        from flink_1_6_0_spark.plans.sql_frontend import rewrite_flink_sql

        # target = dot-separated segments, each bare or backquoted (mixed
        # quoting like db.`my t` is valid Spark SQL), optional column list;
        # whitespace before the query is optional after a column list. The
        # parenthesized group is a COLUMN LIST only when it is not itself a
        # query — `INSERT INTO t (SELECT ...)` is valid in both engines, so a
        # paren opening a SELECT/WITH/VALUES stays on the query side
        m = _re.match(
            r"\s*INSERT\s+INTO\s+"
            r"((?:`[^`]+`|\w+)(?:\.(?:`[^`]+`|\w+))*"
            r"(?:\s*\((?!\s*(?:SELECT|WITH|VALUES)\b)[^)]*\))?)\s*(.+)",
            stmt,
            _re.IGNORECASE | _re.DOTALL,
        )
        if not m or not m.group(2).strip():
            raise ValueError("sql_update supports INSERT INTO <table> <query>")
        target, query = m.group(1), m.group(2).strip()
        # strip outer parens wrapping the whole query (the Flink-SQL
        # rewriter expects a bare SELECT/WITH/VALUES) — a level is removed
        # only when the opening paren's match IS the final character, so a
        # query like `(SELECT a) UNION (SELECT b)` is left untouched; the
        # strip LOOPS so `((SELECT ...))` also reaches the rewriter. The scan
        # skips quoted regions ('...' literals and "..." literals with
        # doubled-quote escapes, `...` identifiers) so parens INSIDE strings
        # don't derail the depth count (ADVICE r6: '"' was missing and only
        # one level was stripped)
        while query.startswith("(") and query.endswith(")"):
            depth, i, n = 0, 0, len(query)
            stripped = False
            while i < n:
                ch = query[i]
                if ch in ("'", '"', "`"):
                    i += 1
                    while i < n:
                        if query[i] == ch:
                            if ch in ("'", '"') and i + 1 < n and query[i + 1] == ch:
                                i += 2  # doubled-quote escape inside a literal
                                continue
                            break
                        i += 1
                elif ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                    if depth == 0:
                        if i == n - 1:
                            query = query[1:-1].strip()
                            stripped = True
                        break
                i += 1
            if not stripped:
                break
        # the query half gets the Flink front-end rewrite, then the whole
        # statement runs as engine SQL (works for v1 and v2 catalog tables)
        self.spark.sql(f"INSERT INTO {target} {rewrite_flink_sql(query)}")

    def connect(self, connector):
        """TableEnvironment.connect (TableEnvironment.scala:554): start a
        descriptor-based registration — see flink_1_6_0_spark.descriptors."""
        from flink_1_6_0_spark.descriptors import ConnectTableDescriptor

        return ConnectTableDescriptor(self, connector)
