"""Graph algorithms over vertex/edge DataFrames — SURVEY.md §2.13 (Gelly).

Reference: flink-libraries/flink-gelly — Graph<K,VV,EV> over vertex/edge
DataSets with vertex-centric / GSA iteration models; library algorithms
ConnectedComponents, PageRank (library/linkanalysis), TriangleEnumerator,
SingleSourceShortestPaths, LabelPropagation.

Spark mapping: a graph is a pair of DataFrames (vertices, edges); iterations
are driver-side loops of joins with ``localCheckpoint()`` every few rounds to
truncate the lineage (the analog of Flink's native iterate-with-feedback,
which Spark lacks — SURVEY.md §2.11 declares stream iterations out of
scope).

Scale notes: each superstep is one shuffle on vertex id (messages = edge
join), exactly Pregel's cost model. Convergence checks (`.count()` on the
changed set) are one cheap action per round; the checkpoint interval bounds
plan growth, which otherwise dominates at high iteration counts.

Multi-read contract (round 7): Spark's exchange reuse does NOT fire across
the differently-keyed consumers these algorithms create (degree vs pair vs
neighbor-union reads of the same edge frame), so every read re-executes the
edge frame's upstream lineage. Iterative loops and the bench-heavy
algorithms (sssp, pagerank, transitive_closure, triadic_census_directed,
jaccard_index) pin their loop-invariant / multi-read frames with
``localCheckpoint()`` internally; for the composite helpers (vertex_metrics
+ triangle_count inside triadic_census, clustering coefficients), pass an
already-materialized edge frame when the derivation upstream of ``edges``
is expensive — the algorithms themselves read it a bounded number of times.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def undirect(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Make an edge list symmetric (Gelly Graph.getUndirected)."""
    return edges.select(src, dst).union(edges.select(F.col(dst).alias(src), F.col(src).alias(dst)))


# Sources persisted to feed a LAZY reliable checkpoint (see _checkpoint):
# (persisted df, its internal checkpoint-target RDD) pairs, kept so a later
# drain can unpersist each once its checkpoint has actually materialized.
_RELIABLE_PERSISTS: list[tuple[DataFrame, object]] = []


def release_reliable_persists(only_materialized: bool = False) -> None:
    """Unpersist the helper caches behind lazy reliable checkpoints.

    With ``only_materialized=True`` an entry is released only when its
    underlying RDD reports ``isCheckpointed()`` — entries whose lazy
    checkpoint has not run any action yet stay registered, so the cache
    still deduplicates the upstream computation when the checkpoint finally
    writes (r10 advice: draining unconditionally at the NEXT lazy-checkpoint
    creation re-introduced the double-compute the persist existed to
    prevent). The default releases everything: callers use it after their
    actions have run, when every checkpoint has materialized."""
    keep: list[tuple[DataFrame, object]] = []
    while _RELIABLE_PERSISTS:
        df, internal_rdd = _RELIABLE_PERSISTS.pop()
        try:
            if only_materialized and internal_rdd is not None and not internal_rdd.isCheckpointed():
                keep.append((df, internal_rdd))
                continue
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing left to free
    _RELIABLE_PERSISTS.extend(keep)


def _checkpoint(df: DataFrame, mode: str, eager: bool = True) -> DataFrame:
    """Truncate loop lineage. ``local`` = localCheckpoint (fast default; pins
    blocks to executors — an executor loss mid-loop kills the job). At 100×
    scale with preemptible executors use ``reliable``: DataFrame.checkpoint()
    to the SparkContext checkpoint dir survives executor loss.

    ``eager=False`` defers materialization to the first action while still
    deduplicating multi-consumer reads at execution time — the right setting
    for pins taken during single-DataFrame CONSTRUCTION (jaccard, directed
    census), where an eager barrier would make merely building the frame
    (e.g. for .explain) execute the upstream derivation (round-7 advice).
    Driver-loop supersteps keep eager=True: the fixpoint count() follows
    immediately, and an eager cut keeps the loop's lineage flat.

    The multi-consumer-dedup claim holds for localCheckpoint (which persists
    the RDD immediately) but NOT for a lazy reliable checkpoint — there the
    first action would recompute the lineage once per differently-keyed
    consumer plus once more to write the checkpoint files (round-8 advice).
    Reliable mode therefore persists explicitly before the lazy checkpoint so
    the first action computes the upstream exactly once."""
    if mode == "local":
        return df.localCheckpoint(eager=eager)
    if mode == "reliable":
        if not eager:
            # drain persists registered by EARLIER lazy reliable checkpoints
            # whose checkpoints have MATERIALIZED (round-9 advice: without a
            # drain the cached RDDs accumulated for the session's lifetime;
            # round-10 advice: draining ones still pending would recompute
            # the full lineage at checkpoint-write time — the double-compute
            # the persist exists to prevent). release_reliable_persists()
            # frees everything explicitly once actions have run.
            release_reliable_persists(only_materialized=True)
            df = df.persist()
        sc = df.sparkSession.sparkContext
        if not sc.getCheckpointDir():
            if not sc.master.startswith("local"):
                # a driver-local temp dir is unreadable from executors on a
                # real cluster — the exact environment reliable mode exists
                # for; silent fallback would die mid-loop with a confusing
                # FileNotFoundException instead (review finding)
                raise ValueError(
                    "checkpoint_mode='reliable' on a cluster needs a shared "
                    "checkpoint dir: call spark.sparkContext.setCheckpointDir"
                    "('hdfs://... or s3://...') first"
                )
            import tempfile

            from flink_1_6_0_spark.session import scratch_root

            sc.setCheckpointDir(tempfile.mkdtemp(prefix="graph_ckpt_", dir=scratch_root()))
        ck = df.checkpoint(eager=eager)
        if not eager:
            # Dataset.checkpoint() wraps the marked-for-checkpoint RDD in a
            # LogicalRDD — that RDD's isCheckpointed() flips exactly when the
            # checkpoint files exist, which is when the helper persist
            # becomes releasable. Internal handle; on failure fall back to
            # None = releasable at the next drain (pre-r11 behavior).
            try:
                internal = ck._jdf.queryExecution().analyzed().rdd()
            except Exception:
                internal = None
            _RELIABLE_PERSISTS.append((df, internal))
        return ck
    raise ValueError(f"unknown checkpoint_mode {mode!r}; choose 'local' or 'reliable'")


def run_vertex_centric(
    vertices: DataFrame,
    edges: DataFrame,
    message_fn,
    update_fn,
    max_iterations: int,
    convergence_fn=None,
    checkpoint_interval: int = 3,
    checkpoint_mode: str = "local",
) -> DataFrame:
    """Generic vertex-centric (Pregel) iteration — the entry point a user
    porting a CUSTOM Gelly algorithm targets.

    Reference: flink-gelly pregel/VertexCentricIteration.java (ComputeFunction
    = message production + vertex update per superstep) and
    gsa/GatherSumApplyIteration.java (gather/sum ≈ ``message_fn``'s own
    aggregation, apply ≈ ``update_fn``).

    Per superstep:
      1. ``msgs = message_fn(state, edges)`` — produce/aggregate messages
         keyed by vertex ``id`` (one shuffle: the edge join + groupBy is
         Pregel's cost model);
      2. ``state' = update_fn(state, msgs)`` — new vertex state, SAME schema;
      3. lineage checkpoint every ``checkpoint_interval`` supersteps
         (``checkpoint_mode``: 'local' fast default / 'reliable' survives
         executor loss — the Flink-analog choice between pipelined feedback
         and checkpointed iterations);
      4. optional ``convergence_fn(old, new) -> bool`` ends the loop early
         (Gelly's aggregator-based convergence; a ``.count()`` on the changed
         set is the idiomatic form).

    The library algorithms below (label_propagation is re-expressed through
    this API as proof) show the intended usage."""
    state = vertices
    for i in range(max_iterations):
        msgs = message_fn(state, edges)
        new_state = update_fn(state, msgs)
        if i % checkpoint_interval == checkpoint_interval - 1:
            new_state = _checkpoint(new_state, checkpoint_mode)
        if convergence_fn is not None and convergence_fn(state, new_state):
            return new_state
        state = new_state
    return state


def _neighbor_view(state: DataFrame, edges: DataFrame, direction: str = "out") -> DataFrame:
    """GSA neighbor set: one row per (gathering vertex, neighbor) pair with
    the neighbor's CURRENT state and the edge's payload columns.

    Mirrors GatherSumApplyIteration.java:165-191 — ``out`` joins state on the
    edge source and keys by the target (ProjectKeyWithNeighborOUT:415 emits
    ``(edge.target, Neighbor(srcValue, edgeValue))``); ``in`` is the mirror;
    ``all`` is the union. Columns: ``id`` (the gathering vertex), ``nb_<c>``
    for every non-id state column, plus the edge columns minus src/dst."""
    others = [c for c in state.columns if c != "id"]
    edge_payload = [c for c in edges.columns if c not in ("src", "dst")]
    nb = state.select(
        F.col("id").alias("_nbid"), *[F.col(c).alias(f"nb_{c}") for c in others]
    )

    def side(join_on: str, key: str) -> DataFrame:
        return edges.join(nb, F.col(join_on) == F.col("_nbid")).select(
            F.col(key).alias("id"), *[f"nb_{c}" for c in others], *edge_payload
        )

    if direction == "out":
        return side("src", "dst")
    if direction == "in":
        return side("dst", "src")
    if direction == "all":
        return side("src", "dst").unionByName(side("dst", "src"))
    raise ValueError(f"unknown direction {direction!r}; choose 'out', 'in' or 'all'")


def run_gather_sum_apply(
    vertices: DataFrame,
    edges: DataFrame,
    gather_fn,
    sum_fn,
    apply_fn,
    max_iterations: int,
    direction: str = "out",
    convergence_fn=None,
    checkpoint_interval: int = 3,
    checkpoint_mode: str = "local",
    require_convergence: bool = False,
) -> DataFrame:
    """Generic gather-sum-apply iteration — Gelly's second iteration model
    (gsa/GatherSumApplyIteration.java; GatherFunction/SumFunction/
    ApplyFunction contracts in the same package).

    Per superstep (exactly the reference's three operators):
      1. gather — ``gather_fn(neighbors)`` maps the per-edge neighbor view
         (see ``_neighbor_view``: ``id`` + ``nb_*`` state + edge payload) to
         partials ``(id, m)`` (GatherUdf, a pure map — no shuffle);
      2. sum — ``sum_fn(gathered)`` reduces partials per vertex, e.g.
         ``g.groupBy("id").agg(...)`` (SumUdf; Spark's groupBy gives the
         map-side combine the reference gets from ``reduce``);
      3. apply — ``apply_fn(state, summed)`` joins the summed messages back
         onto the state and emits the new state, SAME schema (ApplyUdf; the
         reference's DeltaIteration only keeps changed vertices — express
         that by having ``convergence_fn`` count changes).

    Cost model: one shuffle for the neighbor join + one for the sum — same
    as ``run_vertex_centric`` when ``message_fn`` joins then aggregates; GSA
    just names the map/reduce split so combiners apply. ``direction`` follows
    GSAConfiguration.setDirection (default OUT).

    ``single_source_shortest_paths`` below runs through this API (the
    reference ships the same algorithm as GSASingleSourceShortestPaths.java).

    ``require_convergence``: raise instead of returning a PARTIAL result
    when max_iterations is exhausted before ``convergence_fn`` fires — a
    non-converged fixpoint is indistinguishable from the real one
    downstream (same contract as transitive_closure; review finding)."""
    state = vertices
    for i in range(max_iterations):
        gathered = gather_fn(_neighbor_view(state, edges, direction))
        summed = sum_fn(gathered)
        new_state = apply_fn(state, summed)
        if i % checkpoint_interval == checkpoint_interval - 1:
            new_state = _checkpoint(new_state, checkpoint_mode)
        if convergence_fn is not None and convergence_fn(state, new_state):
            return new_state
        state = new_state
    if require_convergence and convergence_fn is not None:
        raise RuntimeError(
            f"gather-sum-apply did not converge within {max_iterations} "
            "iterations — raise max_iterations (a partial result is "
            "indistinguishable from a converged one downstream)"
        )
    return state


def run_scatter_gather(
    vertices: DataFrame,
    edges: DataFrame,
    scatter_fn,
    gather_fn,
    max_iterations: int,
    convergence_fn=None,
    checkpoint_interval: int = 3,
    checkpoint_mode: str = "local",
) -> DataFrame:
    """Generic scatter-gather ("spargel") iteration — Gelly's third model
    (spargel/ScatterGatherIteration.java: ScatterFunction sends messages
    along edges, spargel GatherFunction folds the message iterator into a
    new vertex value).

    The dataflow is identical to ``run_vertex_centric`` with the roles
    named per the spargel contracts: ``scatter_fn(state, edges) -> msgs``
    (ScatterFunction.sendMessageTo — produce messages keyed by receiver
    ``id``) and ``gather_fn(state, msgs) -> state'`` (GatherFunction.
    updateVertex — combine messages and update). Kept as a distinct entry
    point so each reference iteration API has a same-shaped target."""
    return run_vertex_centric(
        vertices,
        edges,
        scatter_fn,
        gather_fn,
        max_iterations,
        convergence_fn=convergence_fn,
        checkpoint_interval=checkpoint_interval,
        checkpoint_mode=checkpoint_mode,
    )


def bipartite_projection(
    edges: DataFrame,
    side: str = "top",
    full: bool = False,
    top_col: str = "top",
    bottom_col: str = "bottom",
    value_col: str | None = None,
) -> DataFrame:
    """Bipartite graph projections — bipartite/BipartiteGraph.java:127
    (projectionTopSimple), :171 (projectionBottomSimple), :215/:281 (full
    forms). An edge (src, dst) exists in the projection iff both are
    connected to the same vertex of the OTHER side; like the reference's
    FlatJoin, each shared neighbor emits one edge per orientation
    (src != dst guard = BipartiteGraph.java:148).

    Columns out: (src, dst) + ``ev_src``/``ev_dst`` when ``value_col`` is
    given (the Tuple2<EV,EV> of the simple projection) + ``via`` (the shared
    other-side vertex) when ``full=True`` (the Projection payload's link
    vertex).

    Scale: ONE self equi-join shuffled on the shared-side key — no
    enumeration of the quadratic pair space outside skewed hubs, which AQE
    skew-join splits; at extreme hub degrees pre-cap the per-hub neighbor
    list (the standard co-occurrence mitigation)."""
    key, other = (top_col, bottom_col) if side == "top" else (bottom_col, top_col)
    if side not in ("top", "bottom"):
        raise ValueError(f"side must be 'top' or 'bottom', got {side!r}")
    ev = [F.col(value_col)] if value_col else []
    a = edges.select(F.col(key).alias("src"), F.col(other).alias("via"), *[e.alias("ev_src") for e in ev])
    b = edges.select(F.col(key).alias("dst"), F.col(other).alias("via"), *[e.alias("ev_dst") for e in ev])
    out = a.join(b, "via").filter(F.col("src") != F.col("dst"))
    cols = ["src", "dst"] + (["ev_src", "ev_dst"] if value_col else []) + (["via"] if full else [])
    return out.select(*cols)


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    max_iterations: int = 20,
    checkpoint_interval: int = 3,
    checkpoint_mode: str = "local",
    require_convergence: bool = True,
) -> DataFrame:
    """Gelly ConnectedComponents (library/ConnectedComponents.java): iterative
    min-label propagation to a fixpoint. Returns (id, component)."""
    # loop-invariant: materialize the symmetrized/deduped edge frame ONCE —
    # recomputing its shuffle every superstep multiplied the dominant cost
    # by the iteration count (review finding)
    sym = _checkpoint(undirect(edges).distinct(), checkpoint_mode)
    labels = vertices.select(F.col(id_col).alias("id"), F.col(id_col).alias("component"))
    for i in range(max_iterations):
        # neighbor-minimum per vertex, one shuffle
        msgs = (
            sym.join(labels, sym.dst == labels.id)
            .groupBy(sym.src.alias("id"))
            .agg(F.min("component").alias("nbr_min"))
        )
        updated = (
            labels.join(msgs, "id", "left")
            .select("id", F.least("component", F.coalesce("nbr_min", "component")).alias("component"))
        )
        changed = (
            updated.alias("u")
            .join(labels.alias("l"), "id")
            .filter(F.col("u.component") != F.col("l.component"))
            .count()
        )
        labels = updated
        if i % checkpoint_interval == checkpoint_interval - 1:
            labels = _checkpoint(labels, checkpoint_mode)
        if changed == 0:
            break
    else:
        if require_convergence:
            raise RuntimeError(
                f"connected_components did not reach a fixpoint within "
                f"{max_iterations} iterations — partial components are "
                "indistinguishable from final ones (review finding)"
            )
    return labels


def pagerank(
    vertices: DataFrame,
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    checkpoint_interval: int = 3,
    checkpoint_mode: str = "local",
) -> DataFrame:
    """Gelly PageRank (library/linkanalysis/PageRank.java): fixed-iteration
    power method, rank' = (1-d)/N + d·Σ rank/out_degree over in-edges.
    (No dangling-mass redistribution — matches the unrolled SQL oracle.)
    Returns (id, rank)."""
    n = vertices.count()
    # loop-invariant: the out-degree table is aggregated once, not re-shuffled
    # per power-method round (review finding)
    out_deg = _checkpoint(
        edges.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("deg")),
        checkpoint_mode,
    )
    ranks = vertices.select(F.col("id"), F.lit(1.0 / n).alias("rank"))
    for i in range(iterations):
        contribs = (
            edges.join(ranks, edges.src == ranks.id)
            .join(out_deg, edges.src == out_deg.id)
            .select(F.col("dst").alias("id"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = vertices.select("id").join(contribs, "id", "left").select(
            "id",
            (F.lit((1 - damping) / n) + damping * F.coalesce("inflow", F.lit(0.0))).alias("rank"),
        )
        if i % checkpoint_interval == checkpoint_interval - 1:
            ranks = _checkpoint(ranks, checkpoint_mode)
    return ranks


def _oriented_edges(edges: DataFrame) -> DataFrame:
    """Deduped small→large-oriented undirected edge list — the shared prep
    for triangle enumeration (src < dst implies src != dst, so no separate
    self-loop filter). One spelling, used by all four triangle/clustering
    entry points, so the symmetrize/dedup semantics cannot drift."""
    return undirect(edges).filter(F.col("src") < F.col("dst")).distinct()


def _sym_simple_edges(edges: DataFrame) -> DataFrame:
    """Symmetrized simple (self-loop-free, deduped) edge list — the degree
    side of the clustering coefficients."""
    return undirect(edges).filter(F.col("src") != F.col("dst")).distinct()


def _enumerate_triangles(edges: DataFrame) -> DataFrame:
    """Each triangle exactly once as (a, b, c) with a < b < c (ordered
    two-hop join over the oriented edge list)."""
    e = _oriented_edges(edges)
    ab = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    ac = e.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    return ab.join(bc, "b").join(ac, ["a", "c"])


def triangle_count(edges: DataFrame) -> DataFrame:
    """Gelly TriangleEnumerator: count triangles via ordered two-hop join —
    edges oriented small→large id so each triangle is found exactly once.
    Returns a 1-row frame (n_triangles)."""
    return _enumerate_triangles(edges).agg(F.count("*").alias("n_triangles"))


def triangles_per_vertex(edges: DataFrame) -> DataFrame:
    """Triangles incident to each vertex: enumerate each triangle once on the
    small→large-oriented edge list, then credit all three corners.
    Returns (id, n_tri)."""
    tris = _enumerate_triangles(edges)
    corners = (
        tris.select(F.col("a").alias("id"))
        .union(tris.select(F.col("b").alias("id")))
        .union(tris.select(F.col("c").alias("id")))
    )
    return corners.groupBy("id").agg(F.count("*").alias("n_tri"))


def local_clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Gelly LocalClusteringCoefficient (library/clustering/undirected/
    LocalClusteringCoefficient.java): per vertex, triangles / possible
    neighbor pairs deg·(deg-1)/2 (0 when deg < 2). Returns (id, degree,
    n_tri, coeff)."""
    sym = _sym_simple_edges(edges)
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("degree"))
    tri = triangles_per_vertex(edges)
    return deg.join(tri, "id", "left").select(
        "id",
        "degree",
        F.coalesce("n_tri", F.lit(0)).alias("n_tri"),
        F.when(
            F.col("degree") >= 2,
            F.round(
                2.0 * F.coalesce("n_tri", F.lit(0)) / (F.col("degree") * (F.col("degree") - 1)),
                6,
            ),
        )
        .otherwise(0.0)
        .alias("coeff"),
    )


def global_clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Gelly GlobalClusteringCoefficient: 3·triangles / wedges, where wedges
    = Σ_v deg·(deg-1)/2 (open+closed length-2 paths). One row
    (n_triangles, n_wedges, coeff)."""
    sym = _sym_simple_edges(edges)
    deg = sym.groupBy("src").agg(F.count("*").alias("d"))
    wedges = deg.agg((F.sum(F.col("d") * (F.col("d") - 1)) / 2).cast("long").alias("n_wedges"))
    tris = triangle_count(edges)
    return tris.crossJoin(wedges).select(
        "n_triangles",
        "n_wedges",
        F.when(
            F.col("n_wedges") > 0, F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6)
        )
        .otherwise(0.0)
        .alias("coeff"),
    )


def single_source_shortest_paths(
    vertices: DataFrame,
    edges: DataFrame,
    source_id,
    max_iterations: int = 10,
    checkpoint_interval: int = 3,
    checkpoint_mode: str = "local",
    require_convergence: bool = True,
) -> DataFrame:
    """Gelly SingleSourceShortestPaths: Bellman-Ford supersteps over a
    weighted edge list (columns src, dst, weight). Returns (id, distance),
    unreachable vertices omitted.

    Expressed through ``run_gather_sum_apply`` — the exact decomposition of
    GSASingleSourceShortestPaths.java: gather = neighbor distance + edge
    weight (CalculateDistances:112), sum = min (ChooseMinDistance:120),
    apply = keep the smaller of old and relaxed (UpdateDistance:128)."""
    init = (
        vertices.select(F.col("id"))
        .withColumn("distance", F.when(F.col("id") == source_id, F.lit(0.0)))
        .filter(F.col("distance").isNotNull())
    )

    def gather(nbrs: DataFrame) -> DataFrame:
        return nbrs.select("id", (F.col("nb_distance") + F.col("weight")).alias("m"))

    def sum_fn(gathered: DataFrame) -> DataFrame:
        return gathered.groupBy("id").agg(F.min("m").alias("m"))

    def apply_fn(dist: DataFrame, summed: DataFrame) -> DataFrame:
        return dist.join(summed, "id", "full").select(
            "id",
            F.least(
                F.coalesce("distance", F.lit(float("inf"))),
                F.coalesce("m", F.lit(float("inf"))),
            ).alias("distance"),
        )

    def converged(old: DataFrame, new: DataFrame) -> bool:
        return (
            new.alias("u")
            .join(old.alias("l"), "id", "left")
            .filter(F.col("l.distance").isNull() | (F.col("u.distance") < F.col("l.distance")))
            .count()
            == 0
        )

    return run_gather_sum_apply(
        init,
        edges,
        gather,
        sum_fn,
        apply_fn,
        max_iterations,
        convergence_fn=converged,
        checkpoint_interval=checkpoint_interval,
        checkpoint_mode=checkpoint_mode,
        # partial Bellman-Ford distances look exactly like final ones —
        # surface non-convergence instead of returning them (review
        # finding; same contract as transitive_closure)
        require_convergence=require_convergence,
    )


def hits(
    vertices: DataFrame,
    edges: DataFrame,
    iterations: int = 5,
    checkpoint_mode: str = "local",
) -> DataFrame:
    """Gelly HITS (library/linkanalysis/HITS.java): alternating hub/authority
    power iteration. Each round: authority(v) = Σ hub(u) over in-edges,
    L2-normalized; then hub(u) = Σ authority(v) over out-edges,
    L2-normalized. Fixed iteration count (the reference also supports a
    convergence threshold; we expose the iteration form).

    Returns (id, hub, authority). Each half-step is one shuffle on the edge
    key plus a scalar normalization (a 1-row agg broadcast back — no
    driver-side data movement beyond the norm). ``scores`` is checkpointed
    every iteration: the normalization crossJoin references the frame twice
    (once through the norm aggregate), so without truncation the lineage
    doubles per half-step — exponential plan growth."""
    # the static edge pin honors checkpoint_mode too — a localCheckpoint
    # here voided 'reliable' mode's executor-loss guarantee (review finding)
    e = _checkpoint(edges.select("src", "dst").distinct(), checkpoint_mode)
    scores = vertices.select("id", F.lit(1.0).alias("hub"), F.lit(1.0).alias("authority"))
    for i in range(iterations):
        auth = (
            e.join(scores.select(F.col("id").alias("src"), "hub"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("hub").alias("a"))
        )
        scores = scores.join(auth, "id", "left").select(
            "id", "hub", F.coalesce("a", F.lit(0.0)).alias("authority")
        )
        norm_a = scores.agg(F.sqrt(F.sum(F.col("authority") ** 2)).alias("n"))
        scores = scores.crossJoin(norm_a).select(
            "id", "hub", (F.col("authority") / F.when(F.col("n") > 0, F.col("n")).otherwise(1.0)).alias("authority")
        )
        hub = (
            e.join(scores.select(F.col("id").alias("dst"), "authority"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("authority").alias("h"))
        )
        scores = scores.join(hub, "id", "left").select(
            "id", F.coalesce("h", F.lit(0.0)).alias("hub"), "authority"
        )
        norm_h = scores.agg(F.sqrt(F.sum(F.col("hub") ** 2)).alias("n"))
        scores = scores.crossJoin(norm_h).select(
            "id", (F.col("hub") / F.when(F.col("n") > 0, F.col("n")).otherwise(1.0)).alias("hub"), "authority"
        )
        scores = _checkpoint(scores, checkpoint_mode)
    return scores


def community_detection(
    vertices: DataFrame,
    edges: DataFrame,
    iterations: int = 5,
    delta: float = 0.5,
    checkpoint_interval: int = 3,
    checkpoint_mode: str = "local",
) -> DataFrame:
    """Gelly CommunityDetection (library/CommunityDetection.java, Leung et
    al. hop-attenuated label propagation). Vertices start as their own
    community with score 1.0; each superstep a vertex adopts the label with
    the highest aggregate (score × edge-weight) among neighbor messages
    (ties → smallest label, deterministic) and attenuates its score by
    ``delta``. Edge weight column ``weight`` optional (defaults to 1.0).

    Returns (id, label). One shuffle per superstep (message groupBy)."""
    cols = edges.columns
    e = edges if "weight" in cols else edges.withColumn("weight", F.lit(1.0))
    e = e.select("src", "dst", "weight").union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    )
    # the label IS the vertex id (the groupBy / tie-break logic never needs a
    # numeric label): casting to long silently NULLed every label for
    # non-numeric ids (review finding)
    state = vertices.select("id", F.col("id").alias("label"), F.lit(1.0).alias("score"))
    for i in range(iterations):
        msgs = e.join(
            state.select(F.col("id").alias("src"), "label", "score"), "src"
        ).select(F.col("dst").alias("id"), "label", (F.col("score") * F.col("weight")).alias("w"))
        agg = msgs.groupBy("id", "label").agg(F.sum("w").alias("total"), F.max("w").alias("best"))
        from pyspark.sql import Window as _W

        w = _W.partitionBy("id").orderBy(F.desc("total"), F.asc("label"))
        best = (
            agg.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("id", F.col("label").alias("new_label"), F.col("best").alias("new_score"))
        )
        state = state.join(best, "id", "left").select(
            "id",
            F.coalesce("new_label", "label").alias("label"),
            F.when(
                F.col("new_label").isNotNull() & (F.col("new_label") != F.col("label")),
                F.col("new_score") - delta,
            )
            .otherwise(F.coalesce("new_score", "score"))
            .alias("score"),
        )
        if i % checkpoint_interval == checkpoint_interval - 1:
            state = _checkpoint(state, checkpoint_mode)
    return state.select("id", "label")


def summarize(
    vertices: DataFrame,
    edges: DataFrame,
    vertex_value: str = "value",
    edge_value: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Gelly Summarization (library/Summarization.java): condense a graph by
    grouping vertices on their value — one summary vertex per distinct value
    (representative = min id, with the group count), and one summary edge per
    (source group value, target group value[, edge value]) with its count.

    Pure groupBy/join composition — no iteration. Returns
    (summary_vertices(repr_id, value, cnt),
     summary_edges(src_repr, dst_repr[, edge value], cnt))."""
    groups = vertices.groupBy(F.col(vertex_value).alias("value")).agg(
        F.min("id").alias("repr_id"), F.count("*").alias("cnt")
    )
    v_sum = groups.select("repr_id", "value", "cnt")
    # eqNullSafe: NullValue is a real group (facade-default graphs carry
    # NULL vertex values) — a plain equi-join dropped every NULL-valued
    # vertex from the id→group map, silently emptying the edge summary
    # while the NULL group still appeared in the vertex summary (review
    # finding; same convention as graph_api.intersect)
    v_map = vertices.join(
        groups, vertices[vertex_value].eqNullSafe(groups.value)
    ).select(F.col("id"), F.col("repr_id"))
    e = (
        edges.join(v_map.withColumnRenamed("repr_id", "src_repr"), edges.src == v_map.id)
        .drop("id")
        .join(
            v_map.withColumnRenamed("repr_id", "dst_repr"),
            F.col("dst") == F.col("id"),
        )
        .drop("id")
    )
    keys = ["src_repr", "dst_repr"] + ([edge_value] if edge_value else [])
    e_sum = e.groupBy(*keys).agg(F.count("*").alias("cnt"))
    return v_sum, e_sum


def label_propagation(
    vertices: DataFrame,
    edges: DataFrame,
    label_col: str = "label",
    iterations: int = 5,
    checkpoint_interval: int = 3,
    checkpoint_mode: str = "local",
) -> DataFrame:
    """Gelly LabelPropagation (library/LabelPropagation.java): each superstep
    every vertex adopts the most frequent label among its neighbors (ties →
    smallest label, deterministic). Fixed iteration count like the reference.
    ``vertices`` carries (id, label); returns the same shape.

    Expressed through ``run_vertex_centric`` — the proof case that the
    generic Pregel API reproduces a library algorithm unchanged."""
    # loop-invariant symmetrize+dedup shuffle runs once, not per superstep
    # (review finding)
    sym = _checkpoint(undirect(edges).distinct(), checkpoint_mode)

    def message_fn(state: DataFrame, e: DataFrame) -> DataFrame:
        counts = (
            e.join(state, e.dst == state.id)
            .groupBy(e.src.alias("id"), "label")
            .agg(F.count("*").alias("cnt"))
        )
        # most frequent neighbor label, ties by smallest label
        from pyspark.sql import Window as _W

        w = _W.partitionBy("id").orderBy(F.desc("cnt"), F.asc("label"))
        return (
            counts.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("id", F.col("label").alias("new_label"))
        )

    def update_fn(state: DataFrame, msgs: DataFrame) -> DataFrame:
        return state.join(msgs, "id", "left").select(
            "id", F.coalesce("new_label", "label").alias("label")
        )

    return run_vertex_centric(
        vertices.select("id", F.col(label_col).alias("label")),
        sym,
        message_fn,
        update_fn,
        iterations,
        checkpoint_interval=checkpoint_interval,
        checkpoint_mode=checkpoint_mode,
    )


def jaccard_index(
    edges: DataFrame,
    min_score: float | None = None,
    checkpoint_mode: str = "local",
) -> DataFrame:
    """Gelly JaccardIndex (library/similarity/JaccardIndex.java:54): for every
    vertex pair with at least one shared neighbor, emit the shared-neighbor
    count, the distinct-neighbor count deg(u)+deg(v)-shared, and the Jaccard
    score shared/distinct (Result: JaccardIndex.java:504ff).

    Shape: degree once per vertex (one scan), two-paths via a self equi-join
    keyed on the common neighbor (ONE shuffle on z), pair-count aggregation,
    then two joins against the small degree table. The reference bounds
    high-degree-neighbor skew by splitting neighbor groups into spans
    (GenerateGroupSpans, JaccardIndex.java:257); at scale the same effect
    comes from AQE skew-join splitting on the z key — hub vertices fan out
    O(deg²) pairs either way, which is inherent to exact Jaccard.

    Returns (u, v, shared_neighbors, distinct_neighbors, score), u < v.
    """
    # pinned LAZILY: read 3× below (degree + both two-path arms) and exchange
    # reuse does not fire across the differently-keyed consumers — without
    # the pin an expensive upstream edge derivation executes three times
    # (round 7); eager=False so building the frame (explain/plan tests)
    # stays free and materialization happens at first action (round-7 advice)
    sym = _checkpoint(_sym_simple_edges(edges), checkpoint_mode, eager=False)
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("deg"))
    a = sym.select(F.col("src").alias("z"), F.col("dst").alias("u"))
    b = sym.select(F.col("src").alias("z"), F.col("dst").alias("v"))
    pairs = (
        a.join(b, "z")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("shared_neighbors"))
    )
    out = (
        pairs.join(deg.select(F.col("id").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("id").alias("v"), F.col("deg").alias("dv")), "v")
        .select(
            "u",
            "v",
            "shared_neighbors",
            (F.col("du") + F.col("dv") - F.col("shared_neighbors")).alias("distinct_neighbors"),
        )
        .withColumn("score", F.col("shared_neighbors") / F.col("distinct_neighbors"))
    )
    # threshold on the EXACT ratio (JaccardIndex.java filters the raw float);
    # rounding happens only in the output projection, so pairs within 5e-7 of
    # min_score are kept/dropped identically to the reference
    if min_score is not None:
        out = out.filter(F.col("score") >= min_score)
    return out.withColumn("score", F.round(F.col("score"), 6))


def adamic_adar(edges: DataFrame, min_score: float | None = None) -> DataFrame:
    """Gelly AdamicAdar (library/similarity/AdamicAdar.java:58): scores each
    vertex pair by Σ_z 1/ln(deg(z)) over shared neighbors z, with weight 0
    for degree-1 neighbors (AdamicAdar.java:243 — 1/log(1) would divide by
    zero, the reference emits 0.0f).

    The inverse-log weight is joined onto the edge list BEFORE the two-path
    self-join (mirroring the reference's edge-score step,
    AdamicAdar.java:160-169), so the pair-generation shuffle carries the
    weight instead of re-joining the fanned-out pairs. Returns
    (u, v, score), u < v, score rounded to 6 places for cross-engine
    float-sum stability.
    """
    sym = _sym_simple_edges(edges)
    w = (
        sym.groupBy(F.col("src").alias("z"))
        .agg(F.count("*").alias("dz"))
        .select(
            "z",
            F.when(F.col("dz") == 1, F.lit(0.0))
            .otherwise(F.lit(1.0) / F.log(F.col("dz")))
            .alias("w"),
        )
    )
    a = sym.select(F.col("src").alias("z"), F.col("dst").alias("u")).join(w, "z")
    b = sym.select(F.col("src").alias("z"), F.col("dst").alias("v"))
    out = (
        a.join(b, "z")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.sum("w").alias("score"))
    )
    # exact-sum threshold first (AdamicAdar.java filters the unrounded float),
    # round only for cross-engine output stability
    if min_score is not None:
        out = out.filter(F.col("score") >= min_score)
    return out.withColumn("score", F.round(F.col("score"), 6))


def vertex_metrics(edges: DataFrame) -> DataFrame:
    """Gelly VertexMetrics (library/metric/undirected/VertexMetrics.java:124):
    one-row graph summary — vertex count, (undirected) edge count, average
    degree, triplet count Σ deg·(deg-1)/2, maximum degree, and maximum
    per-vertex triplets. Isolated vertices never appear in an edge-derived
    graph, so counts cover vertices with degree ≥ 1 (the reference's
    vertexDegree with includeZeroDegreeVertices=false).

    One degree aggregation + one global aggregation — two shuffles total,
    the second over one row per vertex.
    """
    sym = _sym_simple_edges(edges)
    deg = sym.groupBy("src").agg(F.count("*").alias("deg"))
    triplets = (F.col("deg") * (F.col("deg") - 1) / 2).cast("long")
    return deg.agg(
        F.count("*").alias("vertex_count"),
        (F.sum("deg") / 2).cast("long").alias("edge_count"),
        F.round(F.sum("deg") / F.count("*"), 6).alias("average_degree"),
        F.sum(triplets).alias("triplet_count"),
        F.max("deg").alias("maximum_degree"),
        F.max(triplets).alias("maximum_triplets"),
    )


def average_clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Gelly AverageClusteringCoefficient (library/clustering/undirected/
    AverageClusteringCoefficient.java:37,131): mean of the per-vertex local
    clustering coefficients (degree<2 vertices contribute 0). One row
    (vertex_count, average_coeff) — aggregates the local_clustering_
    coefficient frame, so the cost is the same triangle enumeration."""
    local = local_clustering_coefficient(edges)
    return local.agg(
        F.count("*").alias("vertex_count"),
        F.round(F.sum("coeff") / F.count("*"), 6).alias("average_coeff"),
    )


def triadic_census(edges: DataFrame) -> DataFrame:
    """Gelly TriadicCensus (library/clustering/undirected/
    TriadicCensus.java:95-121): closed-form triad counts from the vertex
    metrics + the triangle count — no triple enumeration beyond the
    triangle join. Column order follows Result: triads_03 (no edges),
    triads_12 (one edge), triads_21 (open triplet), triads_30 (triangle).

    Pure integer arithmetic on two 1-row frames (a broadcast cross of
    singletons); the n-choose-3 term is computed with INTEGER division
    (n·(n-1) div 2, then ·(n-2) div 3 — each step exact), never a double
    cast whose 53-bit mantissa would silently round past ~208k vertices.
    The reference uses BigInteger; longs here are exact until the
    intermediate product overflows at ~2.6M vertices — switch the five
    scalars to DecimalType(38,0) beyond that."""
    vm = vertex_metrics(edges).select(
        F.col("vertex_count").alias("n"),
        F.col("edge_count").alias("m"),
        F.col("triplet_count").alias("trip"),
    )
    t = triangle_count(edges).select(F.col("n_triangles").alias("t"))
    n, m, trip, tt = F.col("n"), F.col("m"), F.col("trip"), F.col("t")
    t21 = trip - 3 * tt
    t12 = m * (n - 2) - 2 * t21 - 3 * tt
    t03 = F.expr("((n * (n - 1)) div 2 * (n - 2)) div 3") - t12 - t21 - tt
    return vm.crossJoin(F.broadcast(t)).select(
        t03.alias("triads_03"),
        t12.alias("triads_12"),
        t21.alias("triads_21"),
        tt.alias("triads_30"),
    )


def edge_metrics(edges: DataFrame) -> DataFrame:
    """Gelly EdgeMetrics (library/metric/undirected/EdgeMetrics.java:44,196):
    triangle/rectangle triplet counts and their per-vertex maxima. Per
    vertex, ``low`` = incident edges whose far endpoint dominates it in
    (degree, id) order (EdgeStats, :136-143); triangle triplets =
    C(low, 2), rectangle triplets = C(low, 2) + low·(deg-low) (:212-213).

    Two joins against the degree table annotate each directed edge copy,
    then one per-vertex aggregation and one global fold — no triangle
    enumeration (that is the point of the low/high split: it bounds the
    count work by degrees alone)."""
    sym = _sym_simple_edges(edges)
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("deg"))
    ann = sym.join(deg.select(F.col("id").alias("src"), F.col("deg").alias("ds")), "src").join(
        deg.select(F.col("id").alias("dst"), F.col("deg").alias("dt")), "dst"
    )
    low_flag = F.when(
        (F.col("ds") < F.col("dt"))
        | ((F.col("ds") == F.col("dt")) & (F.col("src") < F.col("dst"))),
        1,
    ).otherwise(0)
    per_v = ann.groupBy("src").agg(
        F.count("*").alias("deg"), F.sum(low_flag).alias("low")
    )
    tri = (F.col("low") * (F.col("low") - 1) / 2).cast("long")
    rect = tri + F.col("low") * (F.col("deg") - F.col("low"))
    return per_v.agg(
        F.sum(tri).alias("triangle_triplet_count"),
        F.sum(rect).alias("rectangle_triplet_count"),
        F.max(tri).alias("maximum_triangle_triplets"),
        F.max(rect).alias("maximum_rectangle_triplets"),
    )


def vertex_metrics_directed(edges: DataFrame) -> DataFrame:
    """Gelly directed VertexMetrics (library/metric/directed/
    VertexMetrics.java:115-157): per vertex degree = distinct neighbors,
    out/in degrees over the deduped directed edge set; bidirectional edges
    per vertex = out + in - degree (:152), summed globally and halved
    (:126). One row: vertex_count, unidirectional_edge_count,
    bidirectional_edge_count, triplet_count, maximum_degree,
    maximum_out_degree, maximum_in_degree, maximum_triplets. Self-loops
    are dropped.

    Three degree aggregations over one deduped edge frame + one global
    fold — the same degrees-only cost shape as the undirected form."""
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    outd = e.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("outdeg"))
    ind = e.groupBy(F.col("dst").alias("id")).agg(F.count("*").alias("indeg"))
    nbr = (
        e.select(F.col("src").alias("id"), F.col("dst").alias("nb"))
        .union(e.select(F.col("dst").alias("id"), F.col("src").alias("nb")))
        .distinct()
    )
    deg = nbr.groupBy("id").agg(F.count("*").alias("deg"))
    pv = (
        deg.join(outd, "id", "left")
        .join(ind, "id", "left")
        .select(
            "id",
            "deg",
            F.coalesce("outdeg", F.lit(0)).alias("outdeg"),
            F.coalesce("indeg", F.lit(0)).alias("indeg"),
        )
    )
    bidir = F.col("outdeg") + F.col("indeg") - F.col("deg")
    triplets = (F.col("deg") * (F.col("deg") - 1) / 2).cast("long")
    return pv.agg(
        F.count("*").alias("vertex_count"),
        (F.sum(F.col("deg") - bidir) / 2).cast("long").alias("unidirectional_edge_count"),
        (F.sum(bidir) / 2).cast("long").alias("bidirectional_edge_count"),
        F.sum(triplets).alias("triplet_count"),
        F.max("deg").alias("maximum_degree"),
        F.max("outdeg").alias("maximum_out_degree"),
        F.max("indeg").alias("maximum_in_degree"),
        F.max(triplets).alias("maximum_triplets"),
    )


def local_clustering_coefficient_directed(edges: DataFrame) -> DataFrame:
    """Gelly directed LocalClusteringCoefficient (library/clustering/
    directed/LocalClusteringCoefficient.java:50,150-179): per vertex,
    DIRECTED edges between its neighbors over the deg·(deg-1) possible —
    the reference credits each triangle corner 1 or 2 by the opposite
    edge's direction bitmask; counting directed neighbor-pair edges
    directly is the same sum without materializing bitmasks.

    Shape: neighbor pairs via two equi-joins of the directed edge list
    against the symmetric neighbor list (two-path cost, no all-pairs).
    Returns (id, degree, n_between, coeff)."""
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    nbr = (
        e.select(F.col("src").alias("id"), F.col("dst").alias("nb"))
        .union(e.select(F.col("dst").alias("id"), F.col("src").alias("nb")))
        .distinct()
    )
    deg = nbr.groupBy("id").agg(F.count("*").alias("degree"))
    # second join keys on (id, dst) TOGETHER — joining on dst alone would
    # cross the two neighbor lists before the id filter (an O(deg²) per-edge
    # blow-up the equi-join avoids)
    credit = (
        e.join(nbr.select("id", F.col("nb").alias("src")), "src")
        .join(nbr.select("id", F.col("nb").alias("dst")), ["id", "dst"], "left_semi")
        .groupBy("id")
        .agg(F.count("*").alias("n_between"))
    )
    return deg.join(credit, "id", "left").select(
        "id",
        "degree",
        F.coalesce("n_between", F.lit(0)).alias("n_between"),
        F.when(
            F.col("degree") >= 2,
            F.round(
                F.coalesce("n_between", F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
                6,
            ),
        )
        .otherwise(0.0)
        .alias("coeff"),
    )


def global_clustering_coefficient_directed(edges: DataFrame) -> DataFrame:
    """Gelly directed Global + Average ClusteringCoefficient (clustering/
    directed/): one row — global = Σ neighbor-pair directed edges / Σ
    deg·(deg-1), average = mean of the local scores, over the same local
    frame."""
    local = local_clustering_coefficient_directed(edges)
    wedges = F.sum(F.col("degree") * (F.col("degree") - 1))
    return local.agg(
        F.count("*").alias("vertex_count"),
        # zero-wedge graphs (every vertex one distinct neighbor) score 0.0,
        # matching the undirected sibling — the bare division was NULL /
        # an ANSI DIVIDE_BY_ZERO there (review finding)
        F.when(wedges > 0, F.round(F.sum("n_between") / wedges, 6))
        .otherwise(0.0)
        .alias("global_coeff"),
        F.round(F.avg("coeff"), 6).alias("average_coeff"),
    )


def transitive_closure(edges: DataFrame, max_iterations: int = 10,
                       checkpoint_interval: int = 3,
                       require_convergence: bool = True,
                       checkpoint_mode: str = "local") -> DataFrame:
    """TransitiveClosureNaive (flink-examples-batch graph/
    TransitiveClosureNaive.java — the canonical bulk-iteration program):
    all reachable (src, dst) pairs by repeated path extension
    paths ∪ (paths ⋈ edges), deduped, to fixpoint.

    Driver-side supersteps with lineage checkpoints (the DataSet bulk
    iteration substrate); the fixpoint check is a count per superstep —
    the same work the reference's termination criterion does. The closure
    itself can be O(n²) rows on dense graphs — that is the OUTPUT size,
    inherent to the problem, not a join blow-up.

    ``require_convergence=True`` (default) raises if the fixpoint is not
    reached within ``max_iterations`` — a partial closure is
    indistinguishable from the real one downstream, so silence is the
    wrong failure mode (longest-path hop count bounds the rounds needed;
    each extension adds one hop)."""
    # pin the loop-invariant edge frame ONCE (same static-edge rule as sssp
    # :516): without it every superstep's join AND fixpoint count() re-derive
    # the full upstream lineage — for the registered trade-graph query that
    # is a 4-table join re-executed per round
    e = _checkpoint(edges.select("src", "dst").distinct(), checkpoint_mode)
    paths = e
    n = paths.count()
    for i in range(max_iterations):
        ext = (
            paths.join(e.select(F.col("src").alias("dst"), F.col("dst").alias("nxt")), "dst")
            .select("src", F.col("nxt").alias("dst"))
        )
        new_paths = paths.union(ext).distinct()
        if i % checkpoint_interval == checkpoint_interval - 1:
            new_paths = _checkpoint(new_paths, checkpoint_mode)
        m = new_paths.count()
        if m == n:
            return paths
        paths, n = new_paths, m
    if require_convergence:
        raise RuntimeError(
            f"transitive_closure did not reach a fixpoint in {max_iterations} "
            "iterations — raise max_iterations (needed rounds ≈ longest path's hop count)"
        )
    return paths


def triadic_census_directed(edges: DataFrame, checkpoint_mode: str = "local") -> DataFrame:
    """Gelly directed TriadicCensus (library/clustering/directed/
    TriadicCensus.java:80-180) — all 16 Holland-Leinhardt triad types.

    The reference lists triangles with a 6-bit direction bitmask and maps
    it through the Batagelj-Mrvar type table (:205-213); here each triangle
    is classified DIRECTLY from its permutation-invariant profile (mutual
    pair count + orientation pattern), which is the same partition of the
    64 bitmasks without the bit bookkeeping. Wedge counts come from the
    per-vertex degree split (VertexDegreesHelper, :270-291) and the
    triangle counts are subtracted out in the reference's exact cascade
    (:109-180).

    Shape: one pair-state aggregation (mutual/uni code per vertex pair),
    one ordered two-hop triangle join carrying the codes, a 7-bucket
    conditional-sum histogram, one per-vertex degree aggregation — then
    closed-form integer arithmetic on two 1-row frames. Long-exact to
    ~2.6M vertices (n-choose-3 with integer div), as the undirected form.
    """
    # pin the distinct edge frame LAZILY: it is read FIVE times below (pair
    # codes, out-/in-degree, both arms of the neighbor union) and Spark's
    # exchange reuse does not canonicalize across these differently-keyed
    # consumers — without the pin an expensive upstream derivation (the
    # registered query's 4-table trade join) executes five times (round-7
    # measurement); eager=False keeps frame CONSTRUCTION free for plan-only
    # consumers, materializing at first action (round-7 advice)
    e = _checkpoint(
        edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct(),
        checkpoint_mode,
        eager=False,
    )
    # pair code on u < v: 3 = mutual, 2 = u→v only, 1 = v→u only.
    # The pin itself stands (4 consumers: 3 triangle arms + the per-vertex
    # split — without it four groupBy chains re-run over e, guide §5).
    # EAGER vs LAZY, r17 adjudication in two stages: (1) at sf0.1 the r16
    # driver bench had read eager ~26% slower calm-to-calm, but a controlled
    # interleaved same-process A/B (5 alternating rounds) measured a
    # statistical TIE (eager 2.06 s vs lazy 2.11 s; x10 tier 3.29 vs 3.27);
    # (2) the r17 power-law probe (10M-edge R-MAT, BENCH_PROBES
    # x100_graph_probe_r17) showed LAZY LOSES AT SCALE — all four consumer
    # subtrees of a not-yet-materialized lazy checkpoint race inside the one
    # consuming job and duplicate the pair aggregation (100k edges: eager
    # 2.08 s vs lazy 8.29 s; 1M: 15.71 vs 17.06) — so eager ships: tie at
    # toy scale, decisive at data scale. The construction-time
    # materialization cost the r16 ADVICE flagged is the accepted price.
    fwd = F.when(F.col("src") < F.col("dst"), 2).otherwise(1)
    pairs = _checkpoint(
        e.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v"), fwd.alias("c")
        )
        .groupBy("u", "v")
        .agg(F.when(F.count("*") == 2, F.lit(3)).otherwise(F.max("c")).alias("code")),
        checkpoint_mode,
        eager=True,
    )
    ab = pairs.select(F.col("u").alias("a"), F.col("v").alias("b"), F.col("code").alias("cab"))
    bc = pairs.select(F.col("u").alias("b"), F.col("v").alias("c"), F.col("code").alias("cbc"))
    ac = pairs.select(F.col("u").alias("a"), F.col("v").alias("c"), F.col("code").alias("cac"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])

    cab, cbc, cac = F.col("cab"), F.col("cbc"), F.col("cac")
    nmut = (cab == 3).cast("int") + (cbc == 3).cast("int") + (cac == 3).cast("int")
    cyc = ((cab == 2) & (cbc == 2) & (cac == 1)) | ((cab == 1) & (cbc == 1) & (cac == 2))
    t120 = (
        F.when(cab == 3, F.when((cac == 1) & (cbc == 1), "120d")
               .when((cac == 2) & (cbc == 2), "120u").otherwise("120c"))
        .when(cbc == 3, F.when((cab == 2) & (cac == 2), "120d")
              .when((cab == 1) & (cac == 1), "120u").otherwise("120c"))
        .otherwise(F.when((cab == 1) & (cbc == 2), "120d")
                   .when((cab == 2) & (cbc == 1), "120u").otherwise("120c"))
    )
    ttype = (
        F.when(nmut == 3, "300")
        .when(nmut == 2, "210")
        .when(nmut == 1, t120)
        .otherwise(F.when(cyc, "030c").otherwise("030t"))
    )
    kinds = ["030t", "030c", "120d", "120u", "120c", "210", "300"]
    # coalesce: F.sum over an EMPTY triangle set is NULL, which would
    # propagate through the whole subtraction cascade on triangle-free
    # graphs (chains, DAGs) — every count must default to 0
    tri_hist = tri.select(ttype.alias("t")).agg(
        *[
            F.coalesce(F.sum((F.col("t") == k).cast("long")), F.lit(0)).alias(f"tri_{k}")
            for k in kinds
        ]
    )

    # per-vertex degree split → wedge counts (VertexDegreesHelper:270-291).
    # r16 (guide §1.2/§2.4): previously three aggregations over e (out-, in-
    # degree, plus a union+distinct for the neighbor relation) stitched by
    # two left joins. The pinned pair-code table already encodes all of it —
    # for a pair (u,v,code): u has the out-edge iff code∈{2,3}, the in-edge
    # iff code∈{1,3} (v mirrored), and each pair contributes exactly one
    # distinct neighbor to both endpoints — so ONE explode+aggregate over
    # pairs yields (dg, od, idg) per vertex with identical values, and the
    # two stitch joins disappear. Plan diff: 26 Exchanges → 15.
    u_out = F.col("code").isin(2, 3).cast("long")
    u_in = F.col("code").isin(1, 3).cast("long")
    half = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("id"), u_out.alias("o"), u_in.alias("i")),
                F.struct(F.col("v").alias("id"), u_in.alias("o"), u_out.alias("i")),
            )
        ).alias("x")
    ).select("x.*")
    pv = half.groupBy("id").agg(
        F.count("*").alias("dg"), F.sum("o").alias("od"), F.sum("i").alias("idg")
    )
    us = F.col("dg") - F.col("idg")   # unidirectional as source
    ut = F.col("dg") - F.col("od")    # unidirectional as target
    bi = F.col("idg") + F.col("od") - F.col("dg")
    wedges = pv.agg(
        F.count("*").alias("vc"),
        (F.sum(us + ut) / 2).cast("long").alias("uec"),
        (F.sum(bi) / 2).cast("long").alias("bec"),
        F.sum((us * (us - 1) / 2).cast("long")).alias("w021d"),
        F.sum((ut * (ut - 1) / 2).cast("long")).alias("w021u"),
        F.sum(us * ut).alias("w021c"),
        F.sum(ut * bi).alias("w111d"),
        F.sum(us * bi).alias("w111u"),
        F.sum((bi * (bi - 1) / 2).cast("long")).alias("w201"),
    )

    r = wedges.crossJoin(F.broadcast(tri_hist))
    t030t, t030c = F.col("tri_030t"), F.col("tri_030c")
    t120d, t120u, t120c = F.col("tri_120d"), F.col("tri_120u"), F.col("tri_120c")
    t210, t300 = F.col("tri_210"), F.col("tri_300")
    # the reference's subtraction cascade (:109-134)
    w201 = F.col("w201") - 3 * t300 - t210
    w111d = F.col("w111d") - t210 - t120c - 2 * t120d
    w111u = F.col("w111u") - t210 - t120c - 2 * t120u
    w021c = F.col("w021c") - t120c - 3 * t030c - t030t
    w021u = F.col("w021u") - t120u - t030t
    w021d = F.col("w021d") - t120d - t030t
    n, uec, bec = F.col("vc"), F.col("uec"), F.col("bec")
    e102 = (
        bec * (n - 2) - w111d - w111u - 2 * w201
        - t120d - t120u - t120c - 2 * t210 - 3 * t300
    )
    e012 = (
        uec * (n - 2) - 2 * w021d - 2 * w021u - 2 * w021c - w111d - w111u
        - 3 * t030t - 3 * t030c - 2 * t120d - 2 * t120u - 2 * t120c - t210
    )
    t003 = (
        F.expr("((vc * (vc - 1)) div 2 * (vc - 2)) div 3")
        - e012 - e102 - w021d - w021u - w021c - w111d - w111u
        - t030t - t030c - w201 - t120d - t120u - t120c - t210 - t300
    )
    return r.select(
        t003.alias("t003"), e012.alias("t012"), e102.alias("t102"),
        w021d.alias("t021d"), w021u.alias("t021u"), w021c.alias("t021c"),
        w111d.alias("t111d"), w111u.alias("t111u"),
        t030t.alias("t030t"), t030c.alias("t030c"), w201.alias("t201"),
        t120d.alias("t120d"), t120u.alias("t120u"), t120c.alias("t120c"),
        t210.alias("t210"), t300.alias("t300"),
    )


def edge_metrics_directed(edges: DataFrame) -> DataFrame:
    """Gelly directed EdgeMetrics (library/metric/directed/
    EdgeMetrics.java:50,89-99,232-240): identical computation to the
    undirected form — the reference's directed variant reduces each vertex
    pair to ONE record (ReduceEdgeStats) over the distinct-neighbor
    relation with degree = distinct-neighbor count, which is exactly what
    ``edge_metrics`` already computes (its _sym_simple_edges symmetrize +
    dedup IS that relation). Kept as a named entry point for API parity."""
    return edge_metrics(edges)
