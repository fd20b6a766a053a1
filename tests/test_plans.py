"""Plan-quality regression tests — the scale contract, not just correctness.

Each assertion pins a property that matters at 100 TB: filters reach the
parquet scan, projections prune columns, small dims broadcast, aggregates
have a map-side partial phase, top-k collapses to TakeOrderedAndProject.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from flink_1_6_0_spark.registry import get


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q3_filters_pushed_to_scan(spark, sf_dir):
    plan = _plan(get("tpch_q3").fn(spark, sf_dir))
    # date filters land in the parquet scan, not a post-scan Filter only
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate" in plan
    assert "PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan


def test_q3_joins_broadcast_fact_never_shuffles(spark, sf_dir):
    plan = _plan(get("tpch_q3").fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_q3_topk_collapses(spark, sf_dir):
    assert "TakeOrderedAndProject" in _plan(get("tpch_q3").fn(spark, sf_dir))


def test_q1_partial_aggregation_and_pruning(spark, sf_dir):
    plan = _plan(get("tpch_q1").fn(spark, sf_dir))
    assert "partial_sum" in plan  # map-side combine before the shuffle
    # pruned scan: l_orderkey/l_partkey etc. are NOT read
    scan_line = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "l_partkey" not in scan_line and "l_suppkey" not in scan_line
    # r10: the money sums are exact LONG unit-sums (floor(x*scale+0.5) ->
    # BIGINT), not decimal sums — sum(decimal) leaves the long-backed
    # codegen path and ran ~5x slower. Pin that no aggregate here sums a
    # decimal (the FLOOR conversion feeding a plain long sum is the shape).
    agg_lines = [l for l in plan.splitlines() if "HashAggregate" in l]
    assert agg_lines and all("decimal" not in l.lower() for l in agg_lines), agg_lines
    assert "FLOOR" in plan.upper()


def test_q10_nation_broadcast(spark, sf_dir):
    assert "BroadcastHashJoin" in _plan(get("tpch_q10").fn(spark, sf_dir))


def test_scan_projection_pruning_on_documents(spark, sf_dir):
    plan = _plan(get("text_fingerprint").fn(spark, sf_dir))
    scan_line = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    # only doc_id + text are read; lang/source/n_chars pruned
    assert "lang" not in scan_line and "source" not in scan_line


def test_whole_stage_codegen_on_scalar_sweep(spark, sf_dir):
    plan = _plan(get("scalar_math_sweep").fn(spark, sf_dir))
    # '*(n)' prefixes mark whole-stage-codegen spans in the compact plan string
    assert "*(1) Project" in plan


def test_interval_join_stays_single_equijoin(spark, sf_dir):
    plan = _plan(get("interval_join_events").fn(spark, sf_dir))
    # equi-join on user_id with the range as a join residual — not a
    # cartesian/BroadcastNestedLoop
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q2_part_semi_join_precedes_supply_agg(spark, sf_dir):
    plan = _plan(get("tpch_q2").fn(spark, sf_dir))
    # the part-filter semi join must shrink lineitem BEFORE the groupBy
    # shuffle: a broadcast LeftSemi appears, and the part predicates reach
    # the part scan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "LessThanOrEqual(p_size,15)" in plan
    # dialect-tolerant prefix match (r10: equality was vacuous on dbgen's
    # "SMALL PLATED COPPER"-style types) still pushes to the parquet scan
    assert "StringStartsWith(p_type,SMALL)" in plan


def test_q7_region_filter_reaches_scan(spark, sf_dir):
    plan = _plan(get("tpch_q7").fn(spark, sf_dir))
    # both geo sides are restricted to the two bloc regions at the scan
    assert "In(r_name, [AFRICA,AMERICA])" in plan


def test_knn_topk_is_partitioned_window(spark, sf_dir):
    # per-test top-k must be a partitioned window (scales with #queries),
    # never a global sort of all pairs
    plan = _plan(get("ml_knn_join").fn(spark, sf_dir))
    assert "row_number" in plan


def test_bucketed_embedding_dedup_has_no_cartesian(spark, sf_dir):
    """The registered embedding near-dup query must pair vectors only inside
    LSH buckets: an equi-join on the signature, never a cartesian/BNL over
    the full table (the 100 TB mandate — 10^9 docs must not become 10^18
    pairs)."""
    plan = _plan(get("dedup_embedding_cosine").fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_embedding_dedup_subset_of_exact(spark, sf_dir):
    """Bucketing only PRUNES candidates — every surviving pair must appear in
    the exact global kernel's output with the identical cosine."""
    from flink_1_6_0_spark.pipeline import dedup as dd
    from flink_1_6_0_spark.pipeline import similarity as sim
    from flink_1_6_0_spark.queries import T

    emb = T(spark, sf_dir, "embeddings")
    exact = {
        (r["a"], r["b"]): r["cos"]
        for r in dd.embedding_near_dup_pairs(emb, "vec_id", "embedding", 0.4).collect()
    }
    bucketed = sim.embedding_near_dup_pairs_bucketed(
        emb, "vec_id", "embedding", 0.4, dim=64, bits=4, seed=42
    ).collect()
    assert len(bucketed) > 0
    for r in bucketed:
        assert exact[(r["a"], r["b"])] == r["cos"]


def test_pii_redact_stays_jvm_side(spark, sf_dir):
    """PII redaction must be pure Column expressions — no Python eval node
    in the plan (the 100 TB single-scan contract)."""
    plan = _plan(get("text_pii_redact").fn(spark, sf_dir))
    assert "EvalPython" not in plan  # neither BatchEvalPython nor ArrowEvalPython
    assert "Exchange" not in plan  # scan + project only, no shuffle


def test_pack_sequences_no_global_sort(spark, sf_dir):
    """Packing sorts within hash-partitioned shards — a rangepartitioning
    (global sort) in the plan would mean the window ignored the shard key."""
    plan = _plan(get("pack_sequences").fn(spark, sf_dir))
    assert "rangepartitioning" not in plan.lower()
    assert "SinglePartition" not in plan


def test_window_all_distributes_windows(spark, sf_dir):
    """windowAll groups by the window itself: the agg must hash-partition on
    the window expression, not collapse to a single partition (we beat the
    reference's parallelism-1 AllWindowedStream)."""
    plan = _plan(get("window_all_tumble").fn(spark, sf_dir))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(window" in plan.lower().replace("#", "").replace(" ", "") or "hashpartitioning" in plan.lower()


def test_asof_join_single_pass_no_cartesian(spark, sf_dir):
    """asof_join is union-tag + window-fill: every row shuffles ONCE (one
    Exchange per union branch, both hashing the key), and there is no range
    join — a CartesianProduct / BroadcastNestedLoopJoin node would mean the
    per-key pair explosion the design exists to avoid."""
    plan = _plan(get("join_asof_events").fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert plan.count("Exchange") <= 2


def test_c4_clean_single_scan(spark, sf_dir):
    """C4 page cleaning is a pure projection+filter over one scan: no
    shuffle, no Python eval node."""
    plan = _plan(get("text_c4_clean").fn(spark, sf_dir))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_perplexity_stays_jvm_side(spark, sf_dir):
    """The perplexity gate is joins + aggs only — tokenization and scoring
    must not fall back to Python."""
    plan = _plan(get("text_perplexity_filter").fn(spark, sf_dir))
    assert "EvalPython" not in plan


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Bucketing both join sides by the key makes the join co-located: the
    plan must contain NO Exchange (the 100 TB fact-fact join strategy —
    pre-bucket once at write time, join shuffle-free forever after)."""
    import pyspark.sql.functions as F

    n_buckets = 4
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        a = spark.range(0, 10000).select(F.col("id").alias("k"), (F.col("id") % 7).alias("a"))
        b = spark.range(0, 10000).select(F.col("id").alias("k"), (F.col("id") % 5).alias("b"))
        a.write.bucketBy(n_buckets, "k").sortBy("k").mode("overwrite").saveAsTable("bj_a")
        b.write.bucketBy(n_buckets, "k").sortBy("k").mode("overwrite").saveAsTable("bj_b")
        joined = spark.table("bj_a").join(spark.table("bj_b"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 10000
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bj_a")
        spark.sql("DROP TABLE IF EXISTS bj_b")


def test_perplexity_topk_broadcasts_vocab(spark, sf_dir):
    """The top-K vocab path must broadcast (no corpus shuffle on the token)
    and pick its top-K with TakeOrdered, never a single-partition sort."""
    plan = _plan(get("text_perplexity_topk_vocab").fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrdered" in plan
    assert "SortMergeJoin" not in plan


def test_dedup_substring_skew_safe_aggregate(spark, sf_dir):
    """Cross-doc detection must be the persisted partial-aggregate + semi-join
    kernel (round-4 verdict #2): min/max(doc) per shingle hash with a
    MAP-SIDE partial phase — never Window.partitionBy(h), which funnels
    every occurrence of one boilerplate shingle into a single task at corpus
    scale. The persisted shingle table (InMemoryTableScan) is what keeps the
    join-back from recomputing the whole shingle pipeline."""
    plan = _plan(get("dedup_substring").fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert "partial_min" in plan and "partial_max" in plan
    assert "LeftSemi" in plan
    assert "InMemoryTableScan" in plan


def test_ann_recall_lsh_side_is_equi_join(spark, sf_dir):
    """The LSH candidate side of the recall query must meet on a signature
    equi-join with the tiny query set broadcast — the only nested-loop
    allowed is the exact baseline's broadcast of the query vectors."""
    plan = _plan(get("ann_recall_eval").fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_contamination_bloom_prefilter_in_scan(spark, sf_dir):
    """The bloom probe must run as a Filter over the corpus scan (pure
    Column math over the literal bitmap — no Python, no extra shuffle
    before the exact broadcast join)."""
    plan = _plan(get("contamination_bloom").fn(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_vocab_coverage_ranking_is_range_partitioned(spark, sf_dir):
    """The vocabulary ranking must be the two-phase range-partitioned plan —
    a RangePartitioning exchange over the counts, never a single-partition
    window over the whole vocabulary (the corpus-sized window trap)."""
    plan = _plan(get("text_vocab_coverage").fn(spark, sf_dir))
    assert "rangepartitioning" in plan.lower()


def test_window_topn_rank_is_window_partitioned(spark, sf_dir):
    """The TopN rank must partition by window-start (bounded per-window
    state) — never a global single-partition sort."""
    plan = _plan(get("window_topn").fn(spark, sf_dir))
    assert "row_number" in plan
    assert "SinglePartition" not in plan


def test_jaccard_two_path_is_equi_join(spark, sf_dir):
    """The similarity pair generation must be a hash/sort-merge equi-join on
    the common-neighbor key — an all-pairs cartesian would be O(n²) in the
    vertex count instead of O(Σ deg²) in the two-path count."""
    plan = _plan(get("graph_jaccard_index").fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_poly_features_stays_jvm_side(spark, sf_dir):
    """PolynomialFeatures is pure Column arithmetic — no Python/Arrow eval
    node may appear in the row path."""
    plan = _plan(get("ml_poly_features").fn(spark, sf_dir))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "FlatMapsInPandas", "MapInPandas"):
        assert marker not in plan


def test_eval_contamination_report_broadcast_probe(spark, sf_dir):
    """The corpus side of the eval-contamination report must probe a
    BROADCAST benchmark shingle set (no corpus-keyed shuffle) and never
    degrade to a cartesian."""
    plan = _plan(get("contamination_eval_report").fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_token_budget_plan_broadcast_normalizer_and_partial_agg(spark, sf_dir):
    """The mix plan's 1-row normalizer ships by broadcast; the per-source
    token aggregate has a map-side partial phase."""
    plan = _plan(get("corpus_token_budget").fn(spark, sf_dir))
    assert "partial_sum" in plan
    assert "Broadcast" in plan  # BroadcastExchange/BroadcastNestedLoopJoin for the 1-row z


def test_minhash_calibration_no_cartesian_and_cached_sigs(spark, sf_dir):
    """Calibration must reuse the persisted signature frame (InMemory scan)
    and produce candidate pairs only through the banded equi-join — no
    cartesian anywhere in the plan."""
    plan = _plan(get("dedup_minhash_calibration").fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan


def test_triadic_census_directed_shuffle_budget(spark, sf_dir):
    """The directed census is ONE pair-state aggregation + one ordered
    two-hop triangle join + histogram/degree folds and closed-form 1-row
    arithmetic (operators/graph.py triadic_census_directed). Pin the
    exchange budget so a refactor that adds a shuffle (e.g. losing the
    shared `pairs` frame, or a window sneaking in) fails pytest, not the
    bench (r6 verdict task 5). The two heaviest graph bench queries carry
    this guard."""
    import re

    plan = _plan(get("graph_triadic_census_directed").fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert "Window" not in plan
    # 17 hash-shuffles today (the 4-table trade-edge derivation repeats per
    # pairs/degree branch in the TEXT; runtime exchange-reuse dedups them)
    n_ex = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_ex <= 20, f"shuffle-exchange count grew to {n_ex}:\n{plan}"
    # the only single-partition folds allowed are the two 1-row closed-form
    # frames (histogram + census arithmetic) — never a corpus-sized collapse
    assert plan.count("SinglePartition") <= 2


def test_transitive_closure_superstep_shuffle_budget(spark):
    """One closure superstep = paths ⋈ edges + union + distinct. Pin its
    exchange budget on a fresh lineage (max_iterations=1, no checkpoint):
    the iterative substrate multiplies ANY per-step shuffle by the hop
    count, so a single added exchange here is hop_count× at scale."""
    from flink_1_6_0_spark.operators import graph as g

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    out = g.transitive_closure(
        edges, max_iterations=1, checkpoint_interval=10, require_convergence=False
    )
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    n_ex = plan.count("Exchange")
    assert n_ex <= 6, f"per-superstep exchange count grew to {n_ex}:\n{plan}"


def test_skew_report_is_takeordered_with_partial_agg(spark, sf_dir):
    """The skew pre-flight must cost exactly what the join it de-risks
    costs: one map-side-combined groupBy + broadcast stats + TakeOrdered —
    no global sort, no second corpus shuffle."""
    plan = _plan(get("skew_report_events").fn(spark, sf_dir))
    assert "partial_count" in plan
    assert "TakeOrdered" in plan
    assert "rangepartitioning" not in plan.lower()


def test_e2e_pretrain_pipeline_plan(spark, sf_dir):
    """The composed pipeline must stay JVM-side end to end (scorer, dedup,
    mix, packing are all Column exprs / aggregates), never degrade to a
    cartesian, and pack within hash-partitioned shards (no global sort, no
    single-partition window)."""
    plan = _plan(get("corpus_e2e_pretrain").fn(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    # the packing window partitions by the shard key — never a global sort
    assert "rangepartitioning" not in plan.lower()
    assert "hashpartitioning(shard" in plan.replace("#", "").replace(" ", "") or "hashpartitioning(shard" in plan
    # single-partition folds only for the mix's 1-row histogram normalizers
    # (language-cardinality by contract), never a corpus-sized collapse
    assert plan.count("SinglePartition") <= 4


def test_corpus_diff_shuffles_keys_not_text(spark, sf_dir):
    """The version diff's full-outer join must shuffle on the projected
    (id, md5) pair — the text column is reduced to its hash BEFORE the
    exchange, so corpus bytes never ride the shuffle."""
    plan = _plan(get("corpus_version_diff").fn(spark, sf_dir))
    assert "hashpartitioning(__id" in plan
    assert "CartesianProduct" not in plan


def test_partition_pruning_on_lake_events(spark, sf_dir):
    """The date predicate over the partitioned lake must land in
    PartitionFilters (directory-level pruning: unselected dates are never
    listed, no footer opened) — NOT merely as a pushed data filter. At
    100 TB this is the difference between scanning 7/30 of the table and
    all of it."""
    plan = _plan(get("events_partition_prune").fn(spark, sf_dir))
    pf = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "event_date" in pf and ">= 2024-01-10" in pf and "<= 2024-01-16" in pf, pf
    # the partition column never appears as a parquet data filter
    import re

    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert all("event_date" not in p for p in pushed), pushed


def test_partition_pruning_reads_only_selected_dates(spark, sf_dir):
    """Execution-level proof of pruning: the filtered scan touches exactly
    the 7 selected date files (one file per date by materialization
    contract)."""
    import pyspark.sql.functions as F

    from flink_1_6_0_spark.sources.partitioned import read_partitioned_events

    ev = read_partitioned_events(spark, sf_dir)
    files = (
        ev.filter(F.col("event_date").between("2024-01-10", "2024-01-16"))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )
    assert files == 7


def test_cep_batch_keeps_full_shuffle_width(spark, sf_dir):
    """The batch CEP NFA stage is CPU-bound Python, so its exchange must be
    a REPARTITION_BY_NUM at the configured shuffle width — exempt from
    AQE's byte-based coalescing, which had collapsed the stage to 3 tasks
    on 32 cores (round-9; 3.6 s -> 0.9 s at sf0.1). Exactly ONE exchange
    feeds the FlatMapGroupsInPandas (the groupBy's own is elided). Every
    batch per-key kernel runs through the same runner (streaming/keyed.py),
    so a cleanup-state kernel query gets the same exchange."""
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for q in ("cep_funnel", "stream_group_agg_retention"):
        plan = _plan(get(q).fn(spark, sf_dir))
        assert f"hashpartitioning(user_id#" in plan, q
        assert "REPARTITION_BY_NUM" in plan, q
        assert f", {n}), REPARTITION_BY_NUM" in plan, q
        assert plan.count("Exchange") == 1, plan
        assert "FlatMapGroupsInPandas" in plan, q


def test_kernel_join_replay_shuffle_budget(spark, sf_dir):
    """The two-input kernel replay queries are ONE shuffle each: union both
    sides, hash-partition on the join key, replay per key inside an Arrow
    batch (FlatMapGroupsInPandas). Pin the exchange budget and the pruned
    scan — the events table has 6 columns, the replay reads 3-4."""
    import re

    plan = _plan(get("stream_timebounded_join_kernel").fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan
    n_ex = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_ex == 1, f"expected one key shuffle, got {n_ex}:\n{plan}"
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(f.split(":")[0] for f in m.group(1).split(",")) == {
        "event_id", "ts", "user_id"
    }, plan

    plan = _plan(get("stream_nonwindow_join_retention").fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan
    # union of inserts + derived retracts re-reads the same pruned scan;
    # still exactly one hash shuffle on user_id
    n_ex = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_ex == 1, f"expected one key shuffle, got {n_ex}:\n{plan}"


def test_window_lateness_kernel_plan(spark, sf_dir):
    """The WindowOperator kernel replay is ONE shuffle: hash-partition on
    user_id, replay per key inside an Arrow batch. Scan pruned to the four
    source columns the replay consumes."""
    import re

    for q in ("stream_window_lateness_kernel", "stream_session_window_kernel"):
        plan = _plan(get(q).fn(spark, sf_dir))
        assert "CartesianProduct" not in plan
        assert "FlatMapGroupsInPandas" in plan
        n_ex = len(re.findall(r"Exchange hashpartitioning", plan))
        assert n_ex == 1, f"{q}: expected one key shuffle, got {n_ex}:\n{plan}"
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert m and set(f.split(":")[0] for f in m.group(1).split(",")) == {
            "event_id", "ts", "user_id", "value"
        }, plan
