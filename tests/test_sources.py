"""Batch source/sink + operator API coverage tests (SURVEY.md §2.1-2.3)."""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
import pytest

from flink_1_6_0_spark.operators.joins import windowed_join
from flink_1_6_0_spark.sources import batch as src


def test_from_elements_and_generate_sequence(spark):
    df = src.from_elements(spark, [(1, "a"), (2, "b")], "x long, s string")
    assert df.count() == 2
    seq = src.generate_sequence(spark, 1, 5)
    assert [r["value"] for r in seq.collect()] == [1, 2, 3, 4, 5]  # inclusive like Flink


def test_csv_roundtrip(spark, tmp_path):
    p = str(tmp_path / "csv")
    df = src.from_elements(spark, [(1, "x"), (2, "y")], "id long, s string")
    src.write_csv(df, p, header=True)
    back = src.read_csv(spark, p, schema="id long, s string", header=True)
    assert {(r.id, r.s) for r in back.collect()} == {(1, "x"), (2, "y")}


def test_json_roundtrip(spark, tmp_path):
    p = str(tmp_path / "json")
    df = src.from_elements(spark, [(1, "x")], "id long, s string")
    df.write.json(p)
    back = src.read_json(spark, p, schema="id long, s string")
    assert back.collect()[0]["s"] == "x"


def test_text_roundtrip(spark, tmp_path):
    p = str(tmp_path / "txt")
    src.write_text(spark.createDataFrame([("hello",), ("world",)], "value string"), p)
    assert {r["value"] for r in src.read_text(spark, p).collect()} == {"hello", "world"}


def test_partitioned_parquet_sink(spark, tmp_path):
    p = str(tmp_path / "pq")
    df = src.from_elements(spark, [(1, "a"), (2, "b"), (3, "a")], "id long, part string")
    src.write_parquet(df, p, partition_by=["part"])
    import os

    assert sorted(d for d in os.listdir(p) if d.startswith("part=")) == ["part=a", "part=b"]
    assert spark.read.parquet(p).count() == 3


def test_windowed_join(spark):
    # JoinedStreams where/equalTo/window/apply — same-bucket equi-join
    a = spark.createDataFrame(
        [(1, "2024-01-01 00:10:00"), (1, "2024-01-01 01:10:00")], "k long, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    b = spark.createDataFrame(
        [(1, "2024-01-01 00:50:00"), (1, "2024-01-01 02:10:00")], "k long, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp")).select(
        F.col("k").alias("k2"), F.col("ts").alias("ts2")
    )
    out = windowed_join(a, b, [("k", "k2")], "ts", "ts2", "1 hour")
    # only the 00:xx pair shares a window bucket
    assert out.count() == 1


def test_side_outputs_split(spark, sf_dir, tmp_path):
    """Side outputs / split (SingleOutputStreamOperator.getSideOutput:409,
    DataStream.split:238): one source, N filtered writes — each sink sees a
    disjoint slice, the source scan is shared per write."""
    from flink_1_6_0_spark.queries import T

    e = T(spark, sf_dir, "events")
    main = e.filter(F.col("event_type") != "error")
    side = e.filter(F.col("event_type") == "error")
    main.write.mode("overwrite").parquet(str(tmp_path / "main"))
    side.write.mode("overwrite").parquet(str(tmp_path / "side"))
    n_main = spark.read.parquet(str(tmp_path / "main")).count()
    n_side = spark.read.parquet(str(tmp_path / "side")).count()
    assert n_main + n_side == e.count()


def test_salted_join_matches_plain_join(spark, sf_dir):
    from flink_1_6_0_spark.operators.joins import salted_join
    from flink_1_6_0_spark.queries import T

    l = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    plain = l.join(s, l.l_suppkey == s.s_suppkey).count()
    salted = salted_join(l, s, "l_suppkey", "s_suppkey", salt=4).count()
    assert salted == plain


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Bucketing (df.write.bucketBy) — co-located join without an exchange on
    the bucketed key (the pyspark_guide bucketing pattern; Flink analog:
    pre-partitioned DataSource)."""
    import shutil
    import uuid

    import pyspark.sql.functions as F

    suffix = uuid.uuid4().hex[:8]
    ta, tb = f"bkt_a_{suffix}", f"bkt_b_{suffix}"
    a = spark.range(1000).withColumn("v", F.col("id") * 2)
    b = spark.range(1000).withColumn("w", F.col("id") * 3)
    try:
        a.write.bucketBy(8, "id").sortBy("id").mode("overwrite").saveAsTable(ta)
        b.write.bucketBy(8, "id").sortBy("id").mode("overwrite").saveAsTable(tb)
        joined = spark.table(ta).join(spark.table(tb), "id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert joined.count() == 1000
        # co-located buckets: no hash exchange feeds the join
        assert "Exchange hashpartitioning(id" not in plan
    finally:
        for t in (ta, tb):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)


def test_session_window_dynamic_gap(spark):
    """Dynamic-gap sessions: gap depends on the row (longer gap for 'slow'
    rows) — two fast events 5min apart merge; same spacing with a short gap
    splits."""
    import pyspark.sql.functions as F
    from flink_1_6_0_spark.operators.windows import session_dynamic_gap

    rows = [
        ("2024-01-01 00:00:00", "fast"),   # gap 1 min → session alone
        ("2024-01-01 00:05:00", "slow"),   # gap 10 min → merges with next
        ("2024-01-01 00:12:00", "slow"),
    ]
    df = spark.createDataFrame(rows, "ts string, kind string").selectExpr(
        "cast(ts as timestamp) ts", "kind"
    )
    # gap must be CalendarIntervalType (make_interval), not DayTimeInterval
    gap = F.when(F.col("kind") == "slow", F.make_interval(mins=F.lit(10))).otherwise(
        F.make_interval(mins=F.lit(1))
    )
    out = df.groupBy(session_dynamic_gap("ts", gap)).agg(F.count("*").alias("n"))
    assert sorted(r["n"] for r in out.collect()) == [1, 2]


def test_count_window(spark, sf_dir):
    import pyspark.sql.functions as F
    from flink_1_6_0_spark.operators.windows import count_window
    from flink_1_6_0_spark.queries import T

    e = T(spark, sf_dir, "events")
    out = count_window(e, ["user_id"], ["ts", "event_id"], size=10)
    sizes = out.groupBy("user_id", "count_window").agg(F.count("*").alias("n"))
    # every window has exactly `size` rows except possibly each key's last
    over = sizes.filter(F.col("n") > 10).count()
    assert over == 0
    per_user_last = sizes.groupBy("user_id").agg(F.max("count_window")).count()
    assert per_user_last == e.select("user_id").distinct().count()


def test_orc_roundtrip(spark, tmp_path):
    from flink_1_6_0_spark.sources.batch import read_orc, write_orc

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    path = str(tmp_path / "orc_rt")
    write_orc(df, path)
    back = read_orc(spark, path)
    assert {(r.id, r.s) for r in back.collect()} == {(1, "a"), (2, "b")}


def test_orc_scan_has_pushdown(spark, tmp_path):
    from flink_1_6_0_spark.sources.batch import read_orc, write_orc

    df = spark.range(100).withColumn("v", F.col("id") * 2)
    path = str(tmp_path / "orc_pd")
    write_orc(df, path)
    plan = read_orc(spark, path).filter(F.col("id") > 50).select("id")._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(id), GreaterThan(id,50)]" in plan


def test_avro_roundtrip_mixed_types(spark, tmp_path):
    """Avro container roundtrip through the pure-Python codec
    (AvroInputFormat/AvroOutputFormat analog, sources/avro_format.py):
    nullable primitives, arrays, maps, nested structs, binary — written
    one container file per partition, read back via binaryFile+mapInPandas."""
    from flink_1_6_0_spark.sources.batch import read_avro, write_avro

    df = spark.createDataFrame(
        [
            (1, "alice", 1.5, [1, 2], {"a": 1}, (10, "x"), None),
            (2, None, None, [], {}, (20, "y"), b"\x00\xff"),
            (3, "bob", -0.25, [7], {"k": 9, "j": 0}, (30, None), b"z"),
        ],
        "id long, name string, score double, xs array<int>, m map<string,int>, "
        "st struct<a:int,b:string>, raw binary",
    )
    path = str(tmp_path / "avro_rt")
    write_avro(df, path)
    back = read_avro(spark, path)
    assert back.schema == df.schema
    a = sorted(back.collect(), key=lambda r: r.id)
    b = sorted(df.collect(), key=lambda r: r.id)
    assert [r.asDict(recursive=True) for r in a] == [r.asDict(recursive=True) for r in b]


def test_avro_codecs_and_temporal(spark, tmp_path):
    """deflate + null codecs; date/timestamp logical types (timestamp-micros,
    date as epoch days per the Avro spec)."""
    import datetime

    from flink_1_6_0_spark.sources.batch import read_avro, write_avro

    rows = [
        (1, datetime.date(2020, 2, 29), datetime.datetime(2021, 6, 1, 12, 30, 45, 123456)),
        (2, None, None),
    ]
    df = spark.createDataFrame(rows, "id long, d date, ts timestamp")
    for codec in ("deflate", "null"):
        path = str(tmp_path / f"avro_{codec}")
        write_avro(df, path, codec=codec)
        got = sorted(read_avro(spark, path).collect(), key=lambda r: r.id)
        assert [(r.id, r.d, r.ts) for r in got] == rows


def test_avro_write_modes(spark, tmp_path):
    from flink_1_6_0_spark.sources.batch import read_avro, write_avro

    df = spark.createDataFrame([(1,)], "id long").coalesce(1)
    path = str(tmp_path / "avro_modes")
    write_avro(df, path)
    write_avro(df, path, mode="append")
    assert read_avro(spark, path).count() == 2
    write_avro(df, path, mode="overwrite")
    assert read_avro(spark, path).count() == 1
    import pytest as _pytest

    with _pytest.raises(FileExistsError):
        write_avro(df, path, mode="error")


def test_avro_golden_bytes_spec_vector():
    """Decode a container file hand-assembled from the Avro 1.x spec (NOT
    produced by our writer): zigzag varints, length-prefixed strings, union
    null index, deflate-free block framing. Guards the codec against
    self-consistent-but-wrong encode/decode pairs."""
    import json as _json

    from flink_1_6_0_spark.sources.avro_format import read_container

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": ["null", "string"]},
        ],
    }
    meta_schema = _json.dumps(schema).encode()
    sync = bytes(range(16))

    def zz(n):  # zigzag varint, by hand
        n = (n << 1) ^ (n >> 63)
        out = b""
        while True:
            b = n & 0x7F
            n >>= 7
            if n:
                out += bytes((b | 0x80,))
            else:
                return out + bytes((b,))

    header = (
        b"Obj\x01"
        + zz(2)  # 2 metadata entries
        + zz(11) + b"avro.schema" + zz(len(meta_schema)) + meta_schema
        + zz(10) + b"avro.codec" + zz(4) + b"null"
        + zz(0)
        + sync
    )
    # rows: (150, "ok") and (-3, null)
    body = zz(150) + zz(1) + zz(2) + b"ok" + zz(-3) + zz(0)
    block = zz(2) + zz(len(body)) + body + sync
    got_schema, records = read_container(header + block)
    assert got_schema == schema
    assert records == [{"id": 150, "name": "ok"}, {"id": -3, "name": None}]


def test_count_and_time_evictors(spark):
    from flink_1_6_0_spark.operators.windows import evicted_window_agg

    rows = [
        (1, "2024-01-01 00:00:10", 1.0),
        (1, "2024-01-01 00:20:00", 2.0),
        (1, "2024-01-01 00:40:00", 4.0),
        (1, "2024-01-01 01:10:00", 8.0),  # second window
    ]
    df = spark.createDataFrame(rows, "k long, ts string, v double").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    # CountEvictor: keep last 2 per 1h window
    got = {
        (r.k, str(r.w_start), r.n_kept, r.sum_kept)
        for r in evicted_window_agg(df, ["k"], "ts", "1 hour", "v", keep_last_n=2).collect()
    }
    assert got == {
        (1, "2024-01-01 00:00:00", 2, 6.0),
        (1, "2024-01-01 01:00:00", 1, 8.0),
    }
    # TimeEvictor: keep elements within 25 min of the window's newest
    got2 = {
        (r.k, str(r.w_start), r.n_kept, r.sum_kept)
        for r in evicted_window_agg(
            df, ["k"], "ts", "1 hour", "v", keep_last_seconds=1500
        ).collect()
    }
    assert got2 == {
        (1, "2024-01-01 00:00:00", 2, 6.0),
        (1, "2024-01-01 01:00:00", 1, 8.0),
    }


def test_jdbc_roundtrip_embedded_derby(spark, tmp_path):
    """JDBCInputFormat/JDBCOutputFormat parity (flink-jdbc JDBCInputFormat.java,
    JDBCAppendTableSink.java) against embedded Derby — the JDBC driver the
    Spark distribution actually ships. Write batched inserts, read back,
    then a predicate-pushdown read (Spark pushes the WHERE to the database
    as a subquery — the JDBCTableSource filter-pushdown analog)."""
    from flink_1_6_0_spark.sources.batch import read_jdbc, write_jdbc

    url = f"jdbc:derby:{tmp_path}/jdbc_db;create=true"
    drv = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    df = spark.createDataFrame(
        [(i, f"name_{i}", float(i) * 1.5) for i in range(1, 21)],
        "id long, name string, score double",
    )
    write_jdbc(df, url, "people", mode="overwrite", **drv)
    back = read_jdbc(spark, url, "people", **drv)
    assert back.count() == 20
    assert {c.lower() for c in back.columns} == {"id", "name", "score"}
    assert sorted(r[0] for r in back.select("id").collect()) == list(range(1, 21))
    # dbtable can be a pushed-down subquery (JDBCTableSource projection/filter);
    # Spark's JDBC writer quotes identifiers, so Derby-side SQL quotes them too
    top = read_jdbc(
        spark, url, '(SELECT "id", "score" FROM people WHERE "score" > 15.0) t', **drv
    )
    assert sorted(r[0] for r in top.select("id").collect()) == list(range(11, 21))


def test_socket_text_stream_live(spark):
    """env.socketTextStream (StreamExecutionEnvironment.java:1194) against a
    real in-process TCP server: lines served over the socket arrive as rows."""
    import socket
    import threading

    from flink_1_6_0_spark.sources.stream import socket_stream, to_memory_sink

    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    port = server.getsockname()[1]
    server.listen(1)

    def serve():
        conn, _ = server.accept()
        try:
            conn.sendall(b"alpha\nbeta\ngamma\n")
        finally:
            conn.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    q = to_memory_sink(socket_stream(spark, "127.0.0.1", port), "sock_out", "append")
    try:
        import time

        deadline = time.time() + 30
        while time.time() < deadline:
            q.processAllAvailable()
            got = {r["value"] for r in spark.sql("SELECT * FROM sock_out").collect()}
            if got == {"alpha", "beta", "gamma"}:
                break
            time.sleep(0.5)
    finally:
        q.stop()
        server.close()
    assert got == {"alpha", "beta", "gamma"}


def test_events_ts_normalizes_to_timestamp(spark, sf_dir):
    """Pinned contract: events.ts (TIMESTAMP-NANOS parquet) must normalize to
    plain TIMESTAMP regardless of engine version. Spark <=3.x reads it as long
    ns under nanosAsLong; Spark 4.x ignores that conf and yields TIMESTAMP_NTZ
    (withWatermark rejects NTZ). Both arrival dtypes must dispatch to TIMESTAMP
    — this is the second environment-drift bite on this column, hence the pin."""
    from pyspark.sql.types import TimestampType

    from flink_1_6_0_spark.catalog import load_tables
    from flink_1_6_0_spark.sources.stream import events_stream

    batch_ts = load_tables(spark, sf_dir)["events"].schema["ts"].dataType
    assert isinstance(batch_ts, TimestampType), f"batch events.ts is {batch_ts}"
    stream_ts = events_stream(spark, sf_dir).schema["ts"].dataType
    assert isinstance(stream_ts, TimestampType), f"stream events.ts is {stream_ts}"
    # and watermark assignment — the operation that broke — must be legal
    events_stream(spark, sf_dir).withWatermark("ts", "1 minute")


def test_compact_parquet_small_files(spark, tmp_path):
    """Compaction collapses a many-small-files table to ceil(bytes/target)
    files with identical content; the original path is left untouched for
    the caller's atomic swap."""
    import os

    import pyspark.sql.functions as F

    from flink_1_6_0_spark.sources.batch import compact_parquet

    src = str(tmp_path / "frag")
    # 40 tiny files (one per append), the streaming-sink fragmentation shape
    for i in range(40):
        spark.range(i * 10, i * 10 + 10).select(
            F.col("id"), (F.col("id") * 2).alias("v")
        ).coalesce(1).write.mode("append").parquet(src)
    n_in = sum(1 for f in os.listdir(src) if f.endswith(".parquet"))
    assert n_in == 40

    out = str(tmp_path / "compact")
    n_out = compact_parquet(spark, src, out, target_file_mb=128)
    n_disk = sum(1 for f in os.listdir(out) if f.endswith(".parquet"))
    assert n_out == n_disk == 1  # 40 KB-files -> one 128MB-target file
    a = {(r["id"], r["v"]) for r in spark.read.parquet(src).collect()}
    b = {(r["id"], r["v"]) for r in spark.read.parquet(out).collect()}
    assert a == b and len(a) == 400
    # source untouched (atomic swap is the caller's move)
    assert sum(1 for f in os.listdir(src) if f.endswith(".parquet")) == 40


def test_fragmentation_report_counts_small_files(spark, tmp_path):
    import pyspark.sql.functions as F

    from flink_1_6_0_spark.sources.batch import compact_parquet, fragmentation_report

    src = str(tmp_path / "fragrep")
    for i in range(10):
        spark.range(i * 5, i * 5 + 5).coalesce(1).write.mode("append").parquet(src)
    rep = fragmentation_report(spark, src)
    assert rep["n_files"] == 10 and rep["n_small"] == 10
    assert rep["min_bytes"] > 0 and rep["total_bytes"] >= 10 * rep["min_bytes"] // 2
    out = str(tmp_path / "fragrep_c")
    compact_parquet(spark, src, out)
    rep2 = fragmentation_report(spark, out)
    assert rep2["n_files"] == 1
    assert fragmentation_report(spark, str(tmp_path / "fragrep_c"))["n_small"] == 1


# --- Kafka call-shape contract (round-7 verdict task 4) -------------------
# The image has no spark-sql-kafka package and no broker (re-probed each
# round: pyspark/jars has zero kafka artifacts). These tests replace
# "call-shape only" with a verified contract: (a) the option spellings match
# the public kafka DataSource exactly and fail loudly on drift, (b) the
# format string demonstrably reaches Spark's DataSource resolution (the
# lookup error names it), (c) the fluent call sequence sets format+options
# end-to-end. Lighting up for real needs
# org.apache.spark:spark-sql-kafka-0-10_2.13:4.1.2 on the classpath.


class _CaptureReader:
    def __init__(self):
        self.fmt, self.opts, self.loaded = None, {}, False

    def format(self, f):
        self.fmt = f
        return self

    def options(self, **kw):
        self.opts.update(kw)
        return self

    def option(self, k, v):
        self.opts[k] = v
        return self

    def load(self):
        self.loaded = True
        return self

    def start(self):
        self.loaded = True
        return self


def test_kafka_option_spellings_pinned():
    from flink_1_6_0_spark.sources.stream import kafka_sink_options, kafka_source_options

    assert kafka_source_options("b:9092", "clicks", "latest") == {
        "kafka.bootstrap.servers": "b:9092",
        "subscribe": "clicks",
        "startingOffsets": "latest",
    }
    assert kafka_source_options("b:9092", "clicks")["startingOffsets"] == "earliest"
    assert kafka_sink_options("b:9092", "out") == {
        "kafka.bootstrap.servers": "b:9092",
        "topic": "out",
    }


def test_kafka_stream_call_shape():
    from flink_1_6_0_spark.sources.stream import kafka_stream

    class _FakeSpark:
        readStream = _CaptureReader()

    r = kafka_stream(_FakeSpark(), "broker1:9092,broker2:9092", "events,clicks")
    assert r.fmt == "kafka" and r.loaded
    assert r.opts == {
        "kafka.bootstrap.servers": "broker1:9092,broker2:9092",
        "subscribe": "events,clicks",
        "startingOffsets": "earliest",
    }


def test_kafka_sink_call_shape():
    from flink_1_6_0_spark.sources.stream import kafka_sink

    class _FakeDF:
        writeStream = _CaptureReader()

    r = kafka_sink(_FakeDF(), "b:9092", "out-topic", "/tmp/ckpt")
    assert r.fmt == "kafka" and r.loaded
    assert r.opts == {
        "kafka.bootstrap.servers": "b:9092",
        "topic": "out-topic",
        "checkpointLocation": "/tmp/ckpt",
    }


def test_kafka_format_reaches_datasource_lookup(spark):
    """Without the package, Spark's DataSource resolution must fail NAMING
    the kafka source — proof the format string arrives at the lookup (and
    the loud failure a user hits first, per the round-7 verdict)."""
    import pytest

    from flink_1_6_0_spark.sources.stream import kafka_stream

    with pytest.raises(Exception, match="(?i)kafka"):
        kafka_stream(spark, "localhost:9092", "t")


def test_time_ordered_directory_table_streams_multi_epoch(spark, sf_dir, tmp_path):
    """r15 (r14 verdict task 3): a directory events table stamped
    _TIME_ORDERED (the x10 synthetic layout: one part file per disjoint ts
    range, ascending mtimes) must replay as >= 3 REAL micro-batches with the
    watermark advancing strictly forward — no row dropped, and a watermarked
    windowed aggregate equal to the batch computation. Before this layout,
    directory tables drained in a single epoch, so multi-epoch watermark
    progression had no at-scale gate (r14 x10 finding #4)."""
    import uuid

    from flink_1_6_0_spark.catalog import read_table
    from flink_1_6_0_spark.sources.scale_synth import _stamp_time_ordered
    from flink_1_6_0_spark.sources.stream import events_stream, to_memory_sink

    d = str(tmp_path / "tier")
    os.makedirs(d)
    ev = read_table(spark, sf_dir, "events")
    evp = os.path.join(d, "events.parquet")
    (
        ev.repartitionByRange(6, "ts")
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        .parquet(evp)
    )
    _stamp_time_ordered(evp)

    stream = events_stream(spark, d).withWatermark("ts", "1 minute")
    agg = stream.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").alias("n")
    )
    name = f"to_{uuid.uuid4().hex[:8]}"
    q = to_memory_sink(agg, name, "complete")
    try:
        q.processAllAvailable()
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        # watermark must move strictly forward across epochs
        wms = [
            p["eventTime"]["watermark"]
            for p in progress
            if p.get("eventTime", {}).get("watermark", "1970-01-01T00:00:00.000Z")
            > "1971"
        ]
    finally:
        q.stop()
    assert len(progress) == 3, [p["numInputRows"] for p in progress]
    assert wms == sorted(wms) and len(set(wms)) == len(wms), wms
    got = spark.table(name)
    want = ev.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").alias("n")
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_stateful_shuffle_partitions_derive_from_rows(spark, sf_dir, tmp_path):
    """r17: streaming state-partition count derives from per-epoch DATA
    volume (rows / 50k, clamped to [1, CPUS]) — not from the core count.
    The r16 scaling block showed CPUS-many state partitions hand a toy
    epoch two orders of magnitude of per-store commit constants."""
    from flink_1_6_0_spark.sources.stream import (
        _ROWS_PER_STATE_PARTITION,
        scaled_state_partitions,
        stateful_shuffle_partitions,
    )

    events = os.path.join(sf_dir, "events.parquet")
    n_rows = spark.read.parquet(events).count()
    expect = max(1, -(-n_rows // _ROWS_PER_STATE_PARTITION))
    cap = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    assert stateful_shuffle_partitions(spark, events) == min(max(1, expect), cap)

    # epochs divide the per-epoch volume (here: trivially clamps at 1)
    assert stateful_shuffle_partitions(spark, events, epochs=n_rows) == 1

    # a synthetic multi-epoch volume: 10 epochs of 120k rows -> 3 partitions
    big = str(tmp_path / "big.parquet")
    spark.range(0, 1_200_000).write.parquet(big)
    got = stateful_shuffle_partitions(spark, big, epochs=10)
    assert got == min(3, cap), got

    # the context manager scopes the conf and restores it exactly
    before = spark.conf.get("spark.sql.shuffle.partitions")
    with scaled_state_partitions(spark, events) as n:
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(n)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_harden_session_sizes_shuffle_from_the_engine_cpu_count(spark, monkeypatch):
    """A bare session at Spark's 200-partition default is resized to the
    same CPU count the session factory and the state-partition cap use
    (``session._default_parallelism``), so a CPU-limited run sees one count."""
    from flink_1_6_0_spark import queries

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    monkeypatch.setattr(queries, "_HARDENED", set())
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try:
        queries.harden_session(spark)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "2"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_scaled_state_partitions_preserve_stream_results(spark, sf_dir):
    """The data-derived state partition count must not change WHAT a
    stateful streaming query computes — only how many store instances
    carry it. Runs the tumbling aggregate both ways and compares rows."""
    import uuid

    import pyspark.sql.functions as F

    from flink_1_6_0_spark.sources.stream import (
        events_stream,
        scaled_state_partitions,
        to_memory_sink,
    )

    def run(scaled: bool):
        stream = events_stream(spark, sf_dir).withWatermark("ts", "1 minute")
        agg = stream.groupBy(F.window("ts", "1 hour"), "event_type").agg(
            F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value")
        )
        out = agg.select(
            F.col("window.start").alias("ws"), "event_type", "n", "sum_value"
        )
        name = f"t_{uuid.uuid4().hex[:10]}"
        if scaled:
            with scaled_state_partitions(
                spark, os.path.join(sf_dir, "events.parquet")
            ):
                q = to_memory_sink(out, name, "complete")
                q.processAllAvailable()
                q.stop()
        else:
            q = to_memory_sink(out, name, "complete")
            q.processAllAvailable()
            q.stop()
        return sorted(map(tuple, spark.table(name).collect()))

    assert run(True) == run(False)


def test_unstamped_events_directory_drains_in_one_batch(spark, sf_dir, tmp_path):
    """A Spark-written, unstamped events directory (ts arrives TIMESTAMP, so
    no NTZ read schema) must drain in ONE micro-batch like the NTZ layout:
    its part files are not time-ordered, and a file-per-trigger replay
    would feed the watermark backwards."""
    from flink_1_6_0_spark.catalog import read_table
    from flink_1_6_0_spark.sources.stream import drain_to_memory, events_stream

    ev = read_table(spark, sf_dir, "events")
    d = str(tmp_path / "tier")
    ev.repartition(4).write.parquet(os.path.join(d, "events.parquet"))

    got, progress = drain_to_memory(events_stream(spark, d), "append")
    assert [p["numInputRows"] for p in progress] == [ev.count()]
    assert got.count() == ev.count()


def _tumble_counts(spark, sf_dir):
    from flink_1_6_0_spark.sources.stream import events_stream

    stream = events_stream(spark, sf_dir).withWatermark("ts", "1 minute")
    return stream.groupBy(F.window("ts", "1 hour"), "event_type").count()


def test_drain_sizes_state_partitions_and_restores_the_conf(spark, sf_dir):
    """sources.stream.drain, the one bounded-stream driver: with a sizing
    path the query's state stores number exactly what the data-derived rule
    says, and the session's shuffle-partition conf is restored after."""
    from flink_1_6_0_spark.sources.stream import drain_to_memory, stateful_shuffle_partitions

    events = os.path.join(sf_dir, "events.parquet")
    before = spark.conf.get("spark.sql.shuffle.partitions")
    _, progress = drain_to_memory(_tumble_counts(spark, sf_dir), "complete", events)
    want = stateful_shuffle_partitions(spark, events)
    assert progress[-1]["stateOperators"][0]["numShufflePartitions"] == want
    assert spark.conf.get("spark.sql.shuffle.partitions") == before

    # unsized, the query keeps the session's own count
    _, progress = drain_to_memory(_tumble_counts(spark, sf_dir), "complete")
    assert progress[-1]["stateOperators"][0]["numShufflePartitions"] == int(before)


def test_drain_raises_below_min_batches_and_stops_the_query(spark, sf_dir):
    """A replay that collapses below ``min_batches`` non-empty batches
    raises, restores the conf, and leaves none of its queries running."""
    import pytest

    from flink_1_6_0_spark.sources.stream import drain_to_memory

    events = os.path.join(sf_dir, "events.parquet")
    before_conf = spark.conf.get("spark.sql.shuffle.partitions")
    before = {q.id for q in spark.streams.active}
    with pytest.raises(AssertionError, match="expected >= 2 non-empty micro-batches, got 1"):
        drain_to_memory(_tumble_counts(spark, sf_dir), "complete", events, min_batches=2)
    assert {q.id for q in spark.streams.active} <= before
    assert spark.conf.get("spark.sql.shuffle.partitions") == before_conf


def test_per_call_state_dirs_live_under_the_process_scratch_root(spark, sf_dir):
    """The three streaming queries that make a state or checkpoint dir per
    call put it under ``session.scratch_root()`` (removed at interpreter
    exit), never directly under the system temp dir."""
    import tempfile

    from flink_1_6_0_spark import session
    from flink_1_6_0_spark.registry import load_all

    prefixes = ("asof_state_", "sid_", "retract_chain_")

    def entries(d):
        return {e for e in os.listdir(d) if e.startswith(prefixes)}

    before = entries(tempfile.gettempdir())
    specs = load_all()
    for name in ("stream_asof_join", "stream_incremental_dedup", "stream_multibatch_retract_chain"):
        specs[name].fn(spark, sf_dir).collect()
    assert entries(tempfile.gettempdir()) - before == set()
    made = entries(session.scratch_root())
    assert all(any(e.startswith(p) for e in made) for p in prefixes), made


def test_local_checkpoints_use_the_filesystem_checkpoint_manager(spark, tmp_path):
    """Under ``get_spark``'s local master every checkpoint write (offset
    WAL, commit log, state-store files) goes through Spark's FileSystem-API
    checkpoint manager, whose local rename forks no ``readlink``. The
    manager is resolved the way Spark's streaming code resolves it: from a
    path and the session's Hadoop conf."""
    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert manager.getClass().getName() == (
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
    )


def test_local_filesystem_is_the_nio_shim_and_keeps_checksums(spark, tmp_path):
    """Under ``get_spark``'s local master the file:// filesystem is the
    engine's shim: Hadoop's checksummed LocalFileSystem whose raw layer
    sets modes through java.nio instead of forking ``chmod``. Created files
    and directories get Hadoop's modes, every file keeps its ``.crc``
    sibling, and a flipped byte still fails the read."""
    from flink_1_6_0_spark.session import NIO_LOCAL_FS

    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    fs = Path(f"file://{tmp_path}").getFileSystem(spark._jsparkSession.sessionState().newHadoopConf())
    assert fs.getClass().getName() == NIO_LOCAL_FS
    assert fs.getRawFileSystem().getClass().getName() == NIO_LOCAL_FS + "$Raw"

    data = bytes(range(256)) * 8
    out = fs.create(Path(f"file://{tmp_path}/a/data.bin"))
    out.write(bytearray(data))
    out.close()
    assert fs.mkdirs(Path(f"file://{tmp_path}/d"))

    def mode(p):
        return oct(os.stat(tmp_path / p).st_mode & 0o7777)

    assert (mode("a/data.bin"), mode("a/.data.bin.crc")) == ("0o644", "0o644")
    assert (mode("a"), mode("d")) == ("0o755", "0o755")

    def read():
        stream = fs.open(Path(f"file://{tmp_path}/a/data.bin"))
        try:
            return bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
        finally:
            stream.close()

    assert read() == data
    with open(tmp_path / "a" / "data.bin", "r+b") as f:
        f.seek(100)
        f.write(bytes([data[100] ^ 0xFF]))
    with pytest.raises(Exception, match="Checksum"):
        read()


def test_nio_shim_builds_once_and_falls_back_without_javac(spark, tmp_path, monkeypatch):
    """The shim is compiled once per checkout: with its build directory in
    place no ``javac`` runs. With no ``javac`` and no build the helper
    returns nothing and ``get_spark`` keeps Hadoop's filesystem; so does a
    build the running JVM was not started with."""
    from flink_1_6_0_spark import session

    built = session.nio_local_fs_classes()
    assert built is not None and os.path.isdir(built)

    def no_run(*args, **kwargs):
        raise AssertionError("javac ran again")

    monkeypatch.setattr(session.subprocess, "run", no_run)
    assert session.nio_local_fs_classes() == built
    assert session._nio_local_fs_conf() == {
        "spark.driver.extraClassPath": built,
        "spark.hadoop.fs.file.impl": session.NIO_LOCAL_FS,
    }

    # a build the running JVM does not have on its classpath is not used
    monkeypatch.setattr(session, "_JVM_BUILD", str(tmp_path / "copy"))
    shutil.copytree(built, tmp_path / "copy" / os.path.basename(built))
    assert session._nio_local_fs_conf() == {}

    monkeypatch.setattr(session, "_JVM_BUILD", str(tmp_path / "empty"))
    monkeypatch.setattr(session.shutil, "which", lambda name: None)
    with pytest.warns(UserWarning, match="javac"):
        assert session.nio_local_fs_classes() is None
    with pytest.warns(UserWarning, match="javac"):
        assert session._nio_local_fs_conf() == {}
