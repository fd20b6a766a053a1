"""Partitioned-lake tests — materialization contract, pruning execution,
multi-micro-batch streaming state (round-7 verdict task 2)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from flink_1_6_0_spark.registry import get
from flink_1_6_0_spark.sources.partitioned import (
    partitioned_events_dir,
    partitioned_events_stream,
    read_partitioned_events,
)


def test_materialization_layout_and_idempotence(spark, sf_dir):
    d1 = partitioned_events_dir(spark, sf_dir)
    mtime = os.path.getmtime(os.path.join(d1, "_SUCCESS"))
    # 30 hive partition dirs, exactly one data file each (repartition on the
    # partition key => one writing task per date)
    parts = sorted(p for p in os.listdir(d1) if p.startswith("event_date="))
    assert len(parts) == 30
    for p in parts[:3] + parts[-3:]:
        files = [f for f in os.listdir(os.path.join(d1, p)) if f.endswith(".parquet")]
        assert len(files) == 1, (p, files)
    # second call is a cache hit — nothing rewritten
    d2 = partitioned_events_dir(spark, sf_dir)
    assert d2 == d1
    assert os.path.getmtime(os.path.join(d1, "_SUCCESS")) == mtime


def test_lake_is_value_identical_to_source(spark, sf_dir):
    from flink_1_6_0_spark.catalog import read_table

    lake = read_partitioned_events(spark, sf_dir)
    src = read_table(spark, sf_dir, "events")
    assert lake.count() == src.count()
    # event_date is derived, everything else byte-identical
    a = lake.select(*src.columns).exceptAll(src).count()
    b = src.exceptAll(lake.select(*src.columns)).count()
    assert a == 0 and b == 0
    bad = lake.filter(F.to_date("ts") != F.col("event_date")).count()
    assert bad == 0


def test_stream_executes_as_multiple_microbatches(spark, sf_dir):
    """30 files at 10/trigger => exactly 3 non-empty micro-batches; the
    registered queries raise if the replay ever collapses to fewer."""
    import uuid

    from flink_1_6_0_spark.sources.stream import to_memory_sink

    stream = partitioned_events_stream(spark, sf_dir)
    name = f"mb_{uuid.uuid4().hex[:8]}"
    q = to_memory_sink(stream.select("event_id"), name, "append")
    try:
        q.processAllAvailable()
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    finally:
        q.stop()
    assert len(progress) == 3, [p["numInputRows"] for p in progress]


def test_multibatch_dedup_state_survives_batch_boundaries(spark, sf_dir, duck):
    """Users recur across date files, so a per-batch seen-set would re-emit
    them; matching DISTINCT proves keyed state carries across batches."""
    out = get("stream_multibatch_dedup").fn(spark, sf_dir).toPandas()
    want = duck.sql("SELECT count(DISTINCT user_id) FROM events").fetchone()[0]
    assert len(out) == want
    assert out["user_id"].is_unique
    # sanity: the dedup actually dropped rows (keys DO recur across batches)
    total = duck.sql("SELECT count(*) FROM events").fetchone()[0]
    assert want < total


def test_streaming_throughput_figure(spark, sf_dir):
    from bench import streaming_throughput

    t = streaming_throughput(spark, sf_dir)
    assert t["batches"] >= 3
    assert t["rows"] == read_partitioned_events(spark, sf_dir).count()
    assert t["rows_per_sec"] > 0


def test_multibatch_cep_out_of_order_first_match(spark, sf_dir, duck):
    """The scrambled replay delivers 2 dates per batch boundary a whole
    batch LATE; first-match funnel semantics are not match-monotone, so the
    watermark-mode kernel must equal the batch executor's answer exactly —
    the driver-checkable form of the kernel property tests."""
    spec = get("stream_multibatch_cep")
    out = spec.fn(spark, sf_dir).toPandas()
    want = duck.sql(spec.oracle).fetchdf()
    assert len(out) == len(want)
    key = ["user_id", "view_id", "click_id", "purchase_id"]
    got_set = set(map(tuple, out[key].itertuples(index=False)))
    want_set = set(map(tuple, want[key].itertuples(index=False)))
    assert got_set == want_set
    # every view anchors at most one first-match chain
    assert out["view_id"].is_unique


def test_cep_replay_batches_are_out_of_order(spark, sf_dir):
    """The materialized replay really IS cross-batch disordered: some batch
    contains a date EARLIER than a date in a previous batch (otherwise the
    query above would not be exercising the disorder path at all)."""
    import pyspark.sql.functions as F  # noqa: F811

    from flink_1_6_0_spark.sources.partitioned import cep_funnel_stream_dir

    d = cep_funnel_stream_dir(spark, sf_dir)
    files = sorted(
        (os.path.getmtime(os.path.join(d, f)), f)
        for f in os.listdir(d)
        if f.endswith(".parquet")
    )
    assert len(files) == 4
    mins, maxs = [], []
    for _, f in files:
        df = spark.read.parquet(os.path.join(d, f)).agg(
            F.min("ts"), F.max("ts")
        ).collect()[0]
        mins.append(df[0])
        maxs.append(df[1])
    # batch 1's earliest event predates batch 0's latest (the 2 swapped dates)
    assert mins[1] < maxs[0]
    assert mins[2] < maxs[1]
    # the closer file is strictly after everything real
    assert mins[3] > maxs[2]


def test_multibatch_cep_single_stateful_operator(spark, sf_dir):
    """Scale-shape pin for the streaming CEP executor: the whole pattern
    runs as ONE keyed stateful operator (applyInPandasWithState after the
    single groupBy exchange) — no second shuffle, no extra stateful stage.
    At 100 TB the NFA cost is one hash partition by key and per-key state,
    exactly the reference's keyed-operator shape."""
    import uuid

    import pyspark.sql.functions as F  # noqa: F811

    from flink_1_6_0_spark.sources.partitioned import (
        CEP_REPLAY_DISORDER_S,
        cep_funnel_stream,
    )
    from flink_1_6_0_spark.sources.stream import to_memory_sink
    from flink_1_6_0_spark.streaming.cep import Pattern, cep_stream

    pattern = (
        Pattern.begin("view", lambda e: e["event_type"] == "view")
        .followed_by("click", lambda e: e["event_type"] == "click")
        .within(24 * 3600)
    )
    out = cep_stream(
        cep_funnel_stream(spark, sf_dir),
        pattern,
        ["user_id"],
        "ts",
        "event_id",
        "event_type",
        use_cleanup_timer=False,
        disorder_seconds=CEP_REPLAY_DISORDER_S,
    )
    logical = out._jdf.queryExecution().logical().toString()
    assert "flatMapGroupsInPandasWithState" in logical or "FlatMapGroupsInPandasWithState" in logical
    q = to_memory_sink(out, f"cep_plan_{uuid.uuid4().hex[:8]}", "append")
    try:
        q.processAllAvailable()
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    finally:
        q.stop()
    assert progress, "stream never processed data"
    for p in progress:
        ops = p["stateOperators"]
        assert len(ops) == 1, ops  # exactly one stateful operator
    # state actually persists across batches: later batches report nonzero
    # total state rows even before their own updates
    assert progress[-1]["stateOperators"][0]["numRowsTotal"] > 0


def test_multibatch_cep_rocksdb_state_store(spark, sf_dir):
    """SCALING.md prescribes the RocksDB state-store provider for
    beyond-memory state at 100 TB — prove the state tier is actually
    swappable (round-9 verdict task 4): the same scrambled multi-batch CEP
    replay, run under RocksDBStateStoreProvider, must emit the identical
    match set, and the query progress must show RocksDB serving the stateful
    operator (rocksdb custom metrics present)."""
    import uuid

    from flink_1_6_0_spark.sources.partitioned import (
        CEP_REPLAY_DISORDER_S,
        cep_funnel_stream,
    )
    from flink_1_6_0_spark.sources.stream import to_memory_sink
    from flink_1_6_0_spark.streaming.cep import Pattern, cep_stream

    def run():
        pattern = (
            Pattern.begin("view", lambda e: e["event_type"] == "view")
            .followed_by("click", lambda e: e["event_type"] == "click")
            .within(24 * 3600)
        )
        out = cep_stream(
            cep_funnel_stream(spark, sf_dir),
            pattern,
            ["user_id"],
            "ts",
            "event_id",
            "event_type",
            use_cleanup_timer=False,
            disorder_seconds=CEP_REPLAY_DISORDER_S,
        )
        name = f"cep_rocks_{uuid.uuid4().hex[:8]}"
        q = to_memory_sink(out, name, "append")
        try:
            q.processAllAvailable()
            progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        finally:
            q.stop()
        rows = {
            tuple(r)
            for r in spark.sql(f"SELECT user_id, view_id, click_id FROM {name}").collect()
        }
        return rows, progress

    key = "spark.sql.streaming.stateStore.providerClass"
    default = spark.conf.get(key, None)
    baseline_rows, _ = run()
    try:
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        rocks_rows, rocks_progress = run()
    finally:
        if default is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, default)
    assert rocks_rows == baseline_rows and rocks_rows
    # RocksDB really served the stateful operator: its custom metrics are
    # provider-specific (absent under the default HDFS-backed provider)
    metrics = rocks_progress[-1]["stateOperators"][0]["customMetrics"]
    assert any(k.lower().startswith("rocksdb") for k in metrics), metrics


def test_cep_late_side_is_exactly_the_kernels_drop_set(spark, sf_dir, duck):
    """sideOutputLateData parity (PatternStream.java:496): over the
    late replay (earliest 2 dates delivered LAST, weeks behind the admit
    floor), (a) the helper's side output hash-matches the analytically
    derived drop set, and (b) the MAIN kernel's matches never reference a
    dropped event — the side output is the exact complement of what the
    kernel admitted."""
    from flink_1_6_0_spark.registry import get
    from flink_1_6_0_spark.sources.partitioned import (
        CEP_REPLAY_DISORDER_S,
        cep_late_replay_stream,
    )
    from flink_1_6_0_spark.sources.stream import drain_to_memory
    from flink_1_6_0_spark.streaming.cep import Pattern, cep_stream

    spec = get("stream_cep_late_side")
    side = spec.fn(spark, sf_dir).toPandas()
    want = duck.sql(spec.oracle).fetchdf()
    assert set(side["event_id"]) == set(want["event_id"])
    assert len(side), "late replay produced no late rows — vacuous"

    pattern = (
        Pattern.begin("view", lambda e: e["event_type"] == "view")
        .followed_by("purchase", lambda e: e["event_type"] == "purchase")
        .within(24 * 3600)
    )
    main = cep_stream(
        cep_late_replay_stream(spark, sf_dir),
        pattern,
        ["user_id"],
        "ts",
        "event_id",
        "event_type",
        use_cleanup_timer=False,
        disorder_seconds=CEP_REPLAY_DISORDER_S,
    )
    matches, _ = drain_to_memory(main, "append", min_batches=2)
    got = matches.toPandas()
    dropped = set(side["event_id"])
    used = set(got["view_id"]) | set(got["purchase_id"])
    assert not (used & dropped), "kernel emitted a match over a dropped-late event"
