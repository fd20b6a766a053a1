"""Partitioned-lake queries — partition pruning + multi-micro-batch streaming
evidence (SURVEY.md §2.1 BucketingSink layout, §2.11 cross-batch state).

These run against a date-partitioned multi-file copy of ``events``
(sources/partitioned.py) rather than TESTDATA's single file, so they are the
queries where (a) hive partition pruning actually prunes (PartitionFilters in
the scan), and (b) a bounded stream executes as >= 3 REAL micro-batches with
operator state carried across batch boundaries. Oracles run on the original
``events`` view — the lake copy is value-identical by construction, so a
hash match also certifies the materialization itself.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from flink_1_6_0_spark.catalog import table_path
from flink_1_6_0_spark.registry import query
from flink_1_6_0_spark.session import scratch_root
from flink_1_6_0_spark.sources.partitioned import (
    CEP_REPLAY_DISORDER_S,
    cep_funnel_stream,
    cep_late_replay_stream,
    partitioned_events_stream,
    read_partitioned_events,
)
from flink_1_6_0_spark.sources.stream import drain, drain_to_memory


@query(
    "events_partition_prune",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS event_date,
           event_type,
           count(*)             AS n,
           round(sum(value), 2) AS sum_value
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-16'
    GROUP BY 1, 2
    """,
    tags=("lake", "pruning"),
    bench=True,
)
def events_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-slice aggregate over the date-partitioned lake. The date predicate
    is a PARTITION filter (hive layout), so 23 of 30 date directories are
    never even listed into the scan — at 100 TB this is the difference
    between reading ~23% of the table and all of it. Plan pinned in
    tests/test_plans.py (PartitionFilters, not PushedFilters)."""
    ev = read_partitioned_events(spark, sf_dir)
    return (
        ev.filter(F.col("event_date").between("2024-01-10", "2024-01-16"))
        .groupBy("event_date", "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        # emit as TIMESTAMP: TESTDATA stores every date as timestamp, and the
        # driver's hash renders date vs datetime differently; the cast sits
        # ABOVE the aggregate, so the partition filter is untouched
        .withColumn("event_date", F.col("event_date").cast("timestamp"))
    )


@query(
    "stream_multibatch_tumble",
    oracle="""
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws,
           event_type,
           count(*)             AS n,
           round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    tags=("streaming", "lake", "window"),
)
def stream_multibatch_tumble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregate executed across >= 3 real micro-batches
    (30 date files, 10 per trigger) — the windowed-agg state accumulates
    across batches and the final complete-mode emission must still match the
    batch oracle exactly (WindowOperator.java:102 semantics under incremental
    arrival). No withWatermark: complete mode ignores watermarks entirely
    (no state eviction, no late-drop — round-8 advice), so declaring one
    would overstate the evidence; the watermark-PARTICIPATING path (append
    mode, late-data drop) is exercised by stream_tumble_agg and
    streaming/late_data.py."""
    return _drain_multibatch_tumble(spark, sf_dir)[0]


def _drain_multibatch_tumble(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, list]:
    """stream_multibatch_tumble's plan, drained: shared with
    ``bench.streaming_throughput`` so bench's rows/s figure measures the
    registered query's plan at its state-partition count."""
    stream = partitioned_events_stream(spark, sf_dir)
    agg = stream.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value")
    )
    out = agg.select(F.col("window.start").alias("ws"), "event_type", "n", "sum_value")
    return drain_to_memory(out, "complete", table_path(sf_dir, "events"), min_batches=3)


@query(
    "stream_multibatch_dedup",
    oracle="SELECT DISTINCT user_id FROM events",
    tags=("streaming", "lake", "dedup"),
)
def stream_multibatch_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-occurrence dedup across >= 3 micro-batches. Users recur across
    dates, so the keyed seen-set MUST survive batch boundaries: if state were
    per-batch the append-mode output would re-emit repeat users and the
    DISTINCT oracle would hash-mismatch. This is the driver-checkable proof
    that streaming state is cross-batch, not per-trigger."""
    out = partitioned_events_stream(spark, sf_dir).select("user_id").dropDuplicates(["user_id"])
    return drain_to_memory(out, "append", table_path(sf_dir, "events"), min_batches=3)[0]


@query(
    "stream_multibatch_cep",
    oracle="""
    WITH e AS (SELECT user_id, event_id, ts, event_type FROM events
               WHERE event_type IN ('view', 'click', 'purchase'))
    SELECT v.user_id, v.event_id AS view_id, bc.event_id AS click_id,
           bp.event_id AS purchase_id
    FROM (SELECT * FROM e WHERE event_type = 'view') v,
    LATERAL (SELECT c.event_id, c.ts FROM e c
             WHERE c.event_type = 'click' AND c.user_id = v.user_id
               AND (c.ts > v.ts OR (c.ts = v.ts AND c.event_id > v.event_id))
               AND c.ts < v.ts + INTERVAL 24 HOUR
             ORDER BY c.ts, c.event_id LIMIT 1) bc,
    LATERAL (SELECT p.event_id FROM e p
             WHERE p.event_type = 'purchase' AND p.user_id = v.user_id
               AND (p.ts > bc.ts OR (p.ts = bc.ts AND p.event_id > bc.event_id))
               AND p.ts < v.ts + INTERVAL 24 HOUR
             ORDER BY p.ts, p.event_id LIMIT 1) bp
    """,
    tags=("streaming", "lake", "cep"),
)
def stream_multibatch_cep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST-MATCH funnel (followed_by, not _ANY) over the SCRAMBLED
    multi-batch replay: >= 4 real micro-batches with 2 dates per batch
    boundary arriving a whole batch late (3-4 days of event-time disorder).

    This is the driver-checkable form of the round-8/9 property-test
    contract: first-match semantics are NOT match-monotone — a late earlier
    click changes which click wins — so the eager executor would emit
    matches the batch executor never produces. The kernel runs in watermark
    mode (``disorder_seconds`` = the replay's declared disorder bound): the
    per-key fold point trails the high-water mark, matches emit only once
    committed, and the final per-user 'closer' event (job-end-watermark
    analog) sweeps the fold point past all real data so every pending match
    emits inside the drained query. The oracle is the batch executor's
    first-match semantics spelled out as LATERAL first-row joins — a hash
    match certifies the stream kernel equals batch CEP despite the disorder
    (AbstractKeyedCEPPatternOperator.java:183ff / NFA.java:82 contract)."""
    from flink_1_6_0_spark.streaming.cep import Pattern, cep_stream

    pattern = (
        Pattern.begin("view", lambda e: e["event_type"] == "view")
        .followed_by("click", lambda e: e["event_type"] == "click")
        .followed_by("purchase", lambda e: e["event_type"] == "purchase")
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
    return drain_to_memory(out, "append", table_path(sf_dir, "events"), min_batches=4)[0]


@query(
    "stream_multibatch_cep_timeout",
    oracle="""
    WITH e AS (SELECT user_id, event_id, ts, event_type FROM events
               WHERE event_type IN ('view', 'click', 'purchase')),
    v AS (SELECT * FROM e WHERE event_type = 'view'),
    fc AS (
      SELECT v.user_id, v.event_id AS view_id, v.ts AS v_ts,
             c.event_id AS click_id, c.ts AS c_ts
      FROM v LEFT JOIN LATERAL (
        SELECT c.event_id, c.ts FROM e c
        WHERE c.event_type = 'click' AND c.user_id = v.user_id
          AND (c.ts > v.ts OR (c.ts = v.ts AND c.event_id > v.event_id))
          AND c.ts < v.ts + INTERVAL 24 HOUR
        ORDER BY c.ts, c.event_id LIMIT 1) c ON TRUE
    ),
    fp AS (
      SELECT fc.user_id, fc.view_id, fc.v_ts, fc.click_id, fc.c_ts,
             p.event_id AS purchase_id
      FROM fc LEFT JOIN LATERAL (
        SELECT p.event_id FROM e p
        WHERE p.event_type = 'purchase' AND p.user_id = fc.user_id
          AND fc.click_id IS NOT NULL
          AND (p.ts > fc.c_ts OR (p.ts = fc.c_ts AND p.event_id > fc.click_id))
          AND p.ts < fc.v_ts + INTERVAL 24 HOUR
        ORDER BY p.ts, p.event_id LIMIT 1) p ON TRUE
    )
    SELECT user_id, view_id, click_id, purchase_id,
           (purchase_id IS NULL) AS timed_out,
           CASE WHEN click_id IS NULL THEN 'click'
                WHEN purchase_id IS NULL THEN 'purchase' END AS pending_stage
    FROM fp
    """,
    tags=("streaming", "lake", "cep"),
)
def stream_multibatch_cep_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's CEP TIMEOUT side output on a STREAM
    (PatternStream.flatSelect timeout handler, CEP.java; batch analog
    cep_batch(with_timeouts=True)): same scrambled >= 4-micro-batch replay as
    stream_multibatch_cep, but every view whose funnel dies is reported the
    moment the fold point passes its 24 h window — ``timed_out=true`` with
    the stage it was stuck on — alongside the completed matches
    (``timed_out=false``). The oracle derives match + both timeout kinds
    from the same LEFT LATERAL first-row chain, so the hash match certifies
    the timeout trigger (watermark passes start+within) is exactly the
    batch executor's end-of-data semantics under out-of-order delivery."""
    from flink_1_6_0_spark.streaming.cep import Pattern, cep_stream

    pattern = (
        Pattern.begin("view", lambda e: e["event_type"] == "view")
        .followed_by("click", lambda e: e["event_type"] == "click")
        .followed_by("purchase", lambda e: e["event_type"] == "purchase")
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
        with_timeouts=True,
    )
    return drain_to_memory(out, "append", table_path(sf_dir, "events"), min_batches=4)[0]


@query(
    "stream_multibatch_cep_iterative",
    oracle="""
    WITH e AS (SELECT user_id, event_id, ts, event_type, value FROM events
               WHERE event_type IN ('view', 'purchase')),
    v AS (SELECT * FROM e WHERE event_type = 'view')
    SELECT v.user_id, v.event_id AS view_id, bp.event_id AS purchase_id
    FROM v, LATERAL (
      SELECT p.event_id FROM e p
      WHERE p.event_type = 'purchase' AND p.user_id = v.user_id
        AND (p.ts > v.ts OR (p.ts = v.ts AND p.event_id > v.event_id))
        AND p.ts < v.ts + INTERVAL 24 HOUR
        AND p.value > v.value
      ORDER BY p.ts, p.event_id LIMIT 1) bp
    """,
    tags=("streaming", "lake", "cep"),
)
def stream_multibatch_cep_iterative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITERATIVE CONDITION on a STREAM under disorder: the value-dependent
    first-match funnel (purchase.value > view.value — IterativeCondition.
    java:96 via the two-arg ``where``) over the same scrambled >= 4-micro-
    batch replay as stream_multibatch_cep. Doubly order-sensitive: a late
    earlier purchase changes which purchase wins AND the ctx comparison
    decides per-candidate, so any premature emission diverges from batch.
    ``attr_cols=['value']`` opts the compared column into the state buffer;
    the oracle is the LATERAL first-row join with the value bar — a hash
    match certifies cross-stage predicate state survives micro-batch
    boundaries and the watermark fold."""
    from flink_1_6_0_spark.streaming.cep import Pattern, cep_stream

    pattern = (
        Pattern.begin("view", lambda e: e["event_type"] == "view")
        .followed_by(
            "purchase",
            lambda e, ctx: e["event_type"] == "purchase"
            and e["value"] > ctx.first("view")["value"],
        )
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
        attr_cols=["value"],
    )
    return drain_to_memory(out, "append", table_path(sf_dir, "events"), min_batches=4)[0]


@query(
    "stream_multibatch_cep_select",
    oracle="""
    WITH e AS (SELECT user_id, event_id, ts, event_type, value FROM events
               WHERE event_type IN ('view', 'purchase')),
    v AS (SELECT * FROM e WHERE event_type = 'view')
    SELECT v.user_id, v.event_id AS view_id, bp.event_id AS purchase_id,
           round(bp.value - v.value, 2) AS value_delta,
           CAST(floor(epoch(bp.ts - v.ts)) AS BIGINT) AS dwell_sec
    FROM v, LATERAL (
      SELECT p.event_id, p.value, p.ts FROM e p
      WHERE p.event_type = 'purchase' AND p.user_id = v.user_id
        AND (p.ts > v.ts OR (p.ts = v.ts AND p.event_id > v.event_id))
        AND p.ts < v.ts + INTERVAL 24 HOUR
      ORDER BY p.ts, p.event_id LIMIT 1) bp
    """,
    tags=("streaming", "lake", "cep"),
)
def stream_multibatch_cep_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PatternSelectFunction on a STREAM under disorder (PatternStream.
    select(fn), :98): the same user function as the batch
    `cep_select_function` runs inside the stateful kernel over the
    scrambled >= 4-micro-batch replay — computed columns derived from the
    state-buffer events (``attr_cols`` carries ``value``), emitted exactly
    once per committed match. Hash match against the LATERAL derivation
    certifies the function sees the same matched events the batch executor
    would hand it, in any arrival order."""
    from flink_1_6_0_spark.queries.graph import _funnel_select_fn
    from flink_1_6_0_spark.streaming.cep import Pattern, cep_stream

    pattern = (
        Pattern.begin("view", lambda e: e["event_type"] == "view")
        .followed_by("purchase", lambda e: e["event_type"] == "purchase")
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
        attr_cols=["value"],
        select_fn=_funnel_select_fn,
        output_schema="view_id long, purchase_id long, value_delta double, dwell_sec long",
    )
    return drain_to_memory(out, "append", table_path(sf_dir, "events"), min_batches=4)[0]


@query(
    "stream_multibatch_cep_select_timeout",
    oracle="""
    WITH e AS (SELECT user_id, event_id, ts, event_type, value FROM events
               WHERE event_type IN ('view', 'purchase')),
    v AS (SELECT * FROM e WHERE event_type = 'view'),
    m AS (
      SELECT v.user_id, v.event_id AS view_id, v.ts AS v_ts, v.value AS v_value,
             bp.event_id AS purchase_id, bp.value AS p_value, bp.ts AS p_ts
      FROM v LEFT JOIN LATERAL (
        SELECT p.event_id, p.value, p.ts FROM e p
        WHERE p.event_type = 'purchase' AND p.user_id = v.user_id
          AND (p.ts > v.ts OR (p.ts = v.ts AND p.event_id > v.event_id))
          AND p.ts < v.ts + INTERVAL 24 HOUR
        ORDER BY p.ts, p.event_id LIMIT 1) bp ON TRUE
    )
    SELECT user_id,
           (purchase_id IS NULL) AS timed_out,
           view_id,
           purchase_id,
           CASE WHEN purchase_id IS NULL THEN NULL
                ELSE round(p_value - v_value, 2) END AS value_delta,
           CASE WHEN purchase_id IS NULL THEN NULL
                ELSE CAST(floor(epoch(p_ts - v_ts)) AS BIGINT) END AS dwell_sec,
           CASE WHEN purchase_id IS NULL
                THEN CAST(floor(epoch(v_ts)) AS BIGINT) + 86400
                ELSE NULL END AS deadline_sec
    FROM m
    """,
    tags=("streaming", "lake", "cep"),
)
def stream_multibatch_cep_select_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``select(timeoutFn, selectFn)`` overload on a STREAM under
    disorder (PatternStream.java:182's Either<L,R>, here a ``timed_out``-
    tagged union schema): the same user functions as the batch
    `cep_select_timeout_function` run inside the stateful kernel over the
    scrambled >= 4-micro-batch replay — completed funnels emit the select
    payload the moment they commit, dead views the timeout payload (with
    the window-close instant) the moment the fold point passes
    ``start + within``. Hash match against the batch-identical LATERAL
    derivation certifies both sides survive out-of-order delivery and
    micro-batch boundaries."""
    from flink_1_6_0_spark.queries.graph import _funnel_select_fn, _funnel_timeout_fn
    from flink_1_6_0_spark.streaming.cep import Pattern, cep_stream

    pattern = (
        Pattern.begin("view", lambda e: e["event_type"] == "view")
        .followed_by("purchase", lambda e: e["event_type"] == "purchase")
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
        attr_cols=["value"],
        with_timeouts=True,
        select_fn=_funnel_select_fn,
        output_schema="view_id long, purchase_id long, value_delta double, dwell_sec long",
        timeout_fn=_funnel_timeout_fn,
        timeout_schema="view_id long, deadline_sec long",
    )
    return drain_to_memory(out, "append", table_path(sf_dir, "events"), min_batches=4)[0]


@query(
    "stream_multibatch_cep_greedy",
    oracle="""
    WITH e AS (SELECT user_id, event_id, ts, event_type FROM events
               WHERE event_type IN ('view', 'click', 'purchase')),
    v AS (SELECT * FROM e WHERE event_type = 'view'),
    p AS (SELECT * FROM e WHERE event_type = 'purchase')
    SELECT v.user_id, v.event_id AS view_id, cl.n_clicks, cl.first_click,
           cl.last_click, p.event_id AS purchase_id
    FROM v
    JOIN p ON p.user_id = v.user_id
          AND [epoch_us(p.ts), p.event_id] > [epoch_us(v.ts), v.event_id]
          AND p.ts - v.ts < INTERVAL 24 HOUR,
    LATERAL (
      SELECT count(*) AS n_clicks,
             first(c.event_id ORDER BY c.ts, c.event_id) AS first_click,
             last(c.event_id ORDER BY c.ts, c.event_id) AS last_click,
             max([epoch_us(c.ts), c.event_id]) AS lc_key
      FROM e c
      WHERE c.user_id = v.user_id AND c.event_type = 'click'
        AND [epoch_us(c.ts), c.event_id] > [epoch_us(v.ts), v.event_id]
        AND [epoch_us(c.ts), c.event_id] < [epoch_us(p.ts), p.event_id]
    ) cl
    WHERE cl.n_clicks >= 1
      AND NOT EXISTS (
        SELECT 1 FROM e q
        WHERE q.user_id = v.user_id AND q.event_type = 'purchase'
          AND [epoch_us(q.ts), q.event_id] > cl.lc_key
          AND [epoch_us(q.ts), q.event_id] < [epoch_us(p.ts), p.event_id]
      )
    """,
    tags=("streaming", "lake", "cep"),
)
def stream_multibatch_cep_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GREEDY loop on a STREAM under disorder: view · click+(greedy) ·
    purchase over the scrambled >= 4-micro-batch replay. Doubly
    order-sensitive: a late click landing in the handoff gap must
    retroactively FORBID the sub-maximal match (the NFACompiler:851 guard),
    and a late click extending the run changes the emitted run scalars —
    the fold discipline may only emit once no admissible arrival can land
    inside the guard region. Hash match against cep_greedy_click_run's
    closed-form oracle certifies the guard survives micro-batch boundaries
    and the watermark fold."""
    from flink_1_6_0_spark.streaming.cep import Pattern, cep_stream

    pattern = (
        Pattern.begin("view", lambda e: e["event_type"] == "view")
        .followed_by("clicks", lambda e: e["event_type"] == "click").one_or_more().greedy()
        .followed_by("purchase", lambda e: e["event_type"] == "purchase")
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
    result, _ = drain_to_memory(out, "append", table_path(sf_dir, "events"), min_batches=4)
    return result.select(
        "user_id",
        "view_id",
        F.size("clicks_ids").cast("long").alias("n_clicks"),
        F.element_at("clicks_ids", 1).alias("first_click"),
        F.element_at("clicks_ids", -1).alias("last_click"),
        "purchase_id",
    )


@query(
    "stream_cep_late_side",
    oracle="""
    WITH e AS (SELECT user_id, event_id, ts, event_type FROM events
               WHERE event_type IN ('view', 'click', 'purchase')),
    d AS (SELECT DISTINCT CAST(ts AS DATE) AS dt FROM e ORDER BY dt LIMIT 2),
    base AS (
      SELECT user_id, max(ts) AS hwm FROM e
      WHERE CAST(ts AS DATE) NOT IN (SELECT dt FROM d)
      GROUP BY user_id
    )
    SELECT s.user_id, s.event_id, s.ts, s.event_type
    FROM e s JOIN base b ON s.user_id = b.user_id
    WHERE CAST(s.ts AS DATE) IN (SELECT dt FROM d)
      AND s.ts < b.hwm - INTERVAL 7 DAY
    """,
    tags=("streaming", "lake", "cep"),
)
def stream_cep_late_side(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP late-data side output (``PatternStream.sideOutputLateData``,
    PatternStream.java:496): over a replay whose two earliest event dates
    arrive LAST — weeks behind every key's high-water mark — the helper
    query (:func:`cep_stream_late_side`) emits exactly the rows the CEP
    kernel drops as late. The kernel's admit floor with within=24 h and
    disorder=7 d is ``max(hwm−8d, hwm−7d) = hwm−7d`` judged against the
    key's PRE-batch high-water mark; batch g0 establishes that mark (whole
    stream minus the slice), so the oracle derives the drop set
    analytically: slice rows strictly older than the key's non-slice max ts
    minus 7 days. Keys with no earlier history admit everything (hwm=−inf)
    — the inner join encodes that."""
    from flink_1_6_0_spark.streaming.cep import Pattern, cep_stream_late_side

    pattern = (
        Pattern.begin("view", lambda e: e["event_type"] == "view")
        .followed_by("purchase", lambda e: e["event_type"] == "purchase")
        .within(24 * 3600)
    )
    out = cep_stream_late_side(
        cep_late_replay_stream(spark, sf_dir),
        pattern,
        ["user_id"],
        "ts",
        "event_id",
        "event_type",
        disorder_seconds=CEP_REPLAY_DISORDER_S,
    )
    return drain_to_memory(out, "append", table_path(sf_dir, "events"), min_batches=2)[0]


@query(
    "stream_multibatch_retract_chain",
    oracle="""
    SELECT n_events, count(*) AS n_users
    FROM (SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id)
    GROUP BY n_events
    """,
    tags=("streaming", "lake", "agg", "retraction"),
)
def stream_multibatch_retract_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retraction chain across >= 3 real micro-batches: groupBy(user).count
    feeding groupBy(count).count — Flink's "count the counts"
    (RetractionITCase.scala:51; GroupAggProcessFunction.scala:39 retract+new
    pairs). As users accrue events batch by batch, their first-level count
    keeps moving buckets, so the final histogram is correct ONLY if each
    superseded count is retracted downstream — an append-only accumulation
    would smear every user over all the buckets it passed through.
    streaming.group_agg.chained_group_agg runs the chain as foreachBatch
    with idempotent per-epoch first-level partials (Spark forbids two
    stateful aggregates in one streaming query)."""
    import tempfile

    from flink_1_6_0_spark.streaming.group_agg import chained_group_agg

    stream = partitioned_events_stream(spark, sf_dir).select("user_id")
    work = tempfile.mkdtemp(prefix="retract_chain_", dir=scratch_root())
    final = {}

    def emit(df: DataFrame, epoch: int) -> None:
        final["rows"] = [(r["n_events"], r["n_users"]) for r in df.collect()]

    drain(
        spark,
        lambda: chained_group_agg(
            stream,
            ["user_id"],
            [F.count("*").alias("n_events")],
            [F.sum("n_events").alias("n_events")],
            lambda fl: fl.groupBy("n_events").agg(F.count("*").alias("n_users")),
            f"{work}/state",
            emit,
        )
        .option("checkpointLocation", f"{work}/ckpt")
        .start(),
        min_batches=3,
    )
    return spark.createDataFrame(final["rows"], "n_events long, n_users long")


@query(
    "stream_cep_comparator",
    oracle="""
    WITH e AS (SELECT user_id, event_id, date_trunc('hour', ts) AS tsh, value, event_type
               FROM events WHERE event_type IN ('view', 'click')),
    v AS (SELECT * FROM e WHERE event_type = 'view')
    SELECT v.user_id, v.event_id AS view_id, bc.event_id AS click_id
    FROM v, LATERAL (
      SELECT c.event_id FROM e c
      WHERE c.event_type = 'click' AND c.user_id = v.user_id
        AND [epoch_us(c.tsh), c.value, c.event_id::DOUBLE]
            > [epoch_us(v.tsh), v.value, v.event_id::DOUBLE]
        AND c.tsh < v.tsh + INTERVAL 24 HOUR
      ORDER BY c.tsh, c.value, c.event_id LIMIT 1) bc
    """,
    tags=("streaming", "lake", "cep"),
)
def stream_cep_comparator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EventComparator (CEP.java:51 — r12 lifts the former
    batch-only restriction): event times are TRUNCATED to the hour so
    same-timestamp collisions are massive, and the comparator orders each
    hour's events by ``value`` before the NFA folds them — so which click a
    first-match stage selects depends on the comparator, not arrival or id
    order. Runs over the scrambled >= 4-micro-batch replay in watermark
    mode; the oracle is the batch first-match rule under the (tsh, value,
    id) total order as a LATERAL first-row join. A hash match certifies the
    fold buffer re-sort gives the reference's comparator semantics across
    micro-batch boundaries and disorder."""
    from flink_1_6_0_spark.streaming.cep import Pattern, cep_stream

    pattern = (
        Pattern.begin("view", lambda e: e["event_type"] == "view")
        .followed_by("click", lambda e: e["event_type"] == "click")
        .within(24 * 3600)
    )
    stream = cep_funnel_stream(spark, sf_dir).withColumn(
        "ts", F.date_trunc("hour", F.col("ts"))
    )
    out = cep_stream(
        stream,
        pattern,
        ["user_id"],
        "ts",
        "event_id",
        "event_type",
        use_cleanup_timer=False,
        disorder_seconds=CEP_REPLAY_DISORDER_S,
        comparator_cols=["value"],
    )
    result, _ = drain_to_memory(out, "append", table_path(sf_dir, "events"), min_batches=4)
    return result.select("user_id", "view_id", "click_id")
