"""Graph (Gelly) + CEP queries in the graded surface — SURVEY.md §2.12, §2.13.

Graph: nations are vertices; two derived edge sets —
- the undirected "same region" clique graph (connected components, triangles),
- the directed trade graph cust_nation → supp_nation from
  lineitem⋈orders⋈customer⋈supplier (PageRank).

The PageRank oracle unrolls the power iteration as chained CTEs — identical
fixed-iteration arithmetic on both engines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from flink_1_6_0_spark.operators import graph as g
from flink_1_6_0_spark.queries import T
from flink_1_6_0_spark.registry import query
from flink_1_6_0_spark.streaming.cep import Pattern, cep_batch


def _nation_vertices(spark, sf_dir):
    return T(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("id"))


def _region_edges(spark, sf_dir):
    n = T(spark, sf_dir, "nation")
    a = n.select(F.col("n_nationkey").alias("src"), F.col("n_regionkey").alias("r"))
    b = n.select(F.col("n_nationkey").alias("dst"), F.col("n_regionkey").alias("r"))
    return a.join(b, "r").filter(F.col("src") < F.col("dst")).select("src", "dst")


@query(
    "graph_connected_components",
    oracle="""
    SELECT n.n_nationkey AS id, m.mn AS component
    FROM nation n
    JOIN (SELECT n_regionkey, min(n_nationkey) AS mn FROM nation GROUP BY n_regionkey) m
      ON n.n_regionkey = m.n_regionkey
    """,
    tags=("graph",),
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gelly ConnectedComponents via iterative min-label propagation
    (driver-loop supersteps + localCheckpoint; the oracle exploits that the
    same-region graph's components are exactly the regions)."""
    return g.connected_components(_nation_vertices(spark, sf_dir), _region_edges(spark, sf_dir))


def _pagerank_oracle(iterations: int = 5, d: float = 0.85) -> str:
    ctes = [
        """edges AS (
        SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey  = c.c_custkey
        JOIN supplier s ON l.l_suppkey  = s.s_suppkey)""",
        "verts AS (SELECT n_nationkey AS id FROM nation)",
        "nn AS (SELECT count(*)::DOUBLE AS n FROM verts)",
        "deg AS (SELECT src AS id, count(*)::DOUBLE AS deg FROM edges GROUP BY src)",
        "r0 AS (SELECT id, (SELECT 1.0/n FROM nn) AS rank FROM verts)",
    ]
    for k in range(1, iterations + 1):
        ctes.append(
            f"""r{k} AS (
            SELECT v.id,
                   (SELECT {1 - d}/n FROM nn) + {d} * coalesce(m.inflow, 0) AS rank
            FROM verts v LEFT JOIN (
              SELECT e.dst AS id, sum(p.rank / dg.deg) AS inflow
              FROM edges e JOIN r{k - 1} p ON e.src = p.id JOIN deg dg ON e.src = dg.id
              GROUP BY e.dst) m ON v.id = m.id)"""
        )
    return f"WITH {', '.join(ctes)} SELECT id, round(rank, 6) AS rank FROM r{iterations}"


@query("graph_pagerank", oracle=_pagerank_oracle(), tags=("graph",))
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gelly PageRank (5 power iterations, d=0.85) on the directed
    cust_nation→supp_nation trade graph; supersteps are edge-join shuffles."""
    l, o = T(spark, sf_dir, "lineitem"), T(spark, sf_dir, "orders")
    c, s = T(spark, sf_dir, "customer"), T(spark, sf_dir, "supplier")
    edges = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .select(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
        .distinct()
    )
    ranks = g.pagerank(_nation_vertices(spark, sf_dir), edges, iterations=5, damping=0.85)
    return ranks.select("id", F.round("rank", 6).alias("rank"))


@query(
    "graph_triangle_count",
    oracle="""
    SELECT (sum(cnt * (cnt - 1) * (cnt - 2) / 6))::BIGINT AS n_triangles
    FROM (SELECT count(*) AS cnt FROM nation GROUP BY n_regionkey)
    """,
    tags=("graph",),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gelly TriangleEnumerator via ordered two-hop join (each triangle
    counted once; the clique graph's count is Σ C(region_size, 3))."""
    return g.triangle_count(_region_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# CEP (§2.12) — funnel pattern on events
# ---------------------------------------------------------------------------

_TUPLE_AFTER = "({b}.ts > {a}.ts OR ({b}.ts = {a}.ts AND {b}.event_id > {a}.event_id))"


@query(
    "cep_funnel",
    oracle=f"""
    SELECT a.user_id, a.event_id AS view_id, b.event_id AS click_id, c.event_id AS purchase_id
    FROM events a
    JOIN events b ON a.user_id = b.user_id AND {_TUPLE_AFTER.format(a='a', b='b')}
    JOIN events c ON b.user_id = c.user_id AND {_TUPLE_AFTER.format(a='b', b='c')}
    WHERE a.event_type = 'view' AND b.event_type = 'click' AND c.event_type = 'purchase'
      AND c.ts - a.ts < INTERVAL 24 HOUR
    """,
    tags=("cep",),
    bench=True,
)
def cep_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP pattern view ⟶ click ⟶ purchase within 24 hours per user
    (Pattern.begin/followedByAny/within — Pattern.java:123,316,239;
    allowCombinations semantics = every qualifying triple, which is exactly
    the oracle's ordered 3-way join)."""
    pattern = (
        Pattern.begin("view", lambda e: e["event_type"] == "view")
        .followed_by_any("click", lambda e: e["event_type"] == "click")
        .followed_by_any("purchase", lambda e: e["event_type"] == "purchase")
        .within(24 * 3600)
    )
    # r16 (guide §4.1): the NFA scan touches only (key, ts, id, event_type);
    # project before the opaque applyInPandas so the scan prunes `props`/
    # `value` and the shuffle+Arrow boundary ships 4 narrow columns, not 6.
    ev = T(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    return cep_batch(ev, pattern, ["user_id"], "ts", "event_id")

@query(
    "cep_double_click",
    oracle=f"""
    WITH clicks AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
    ), nxt AS (
      SELECT user_id, event_id AS c1, ts AS t1,
             lead(event_id) OVER w AS c2, lead(ts) OVER w AS t2
      FROM clicks
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT n.user_id, n.c1::VARCHAR || ',' || n.c2::VARCHAR AS clicks_ids,
           p.event_id AS purchase_id
    FROM nxt n
    JOIN events p ON p.user_id = n.user_id AND p.event_type = 'purchase'
     AND (p.ts > n.t2 OR (p.ts = n.t2 AND p.event_id > n.c2))
     AND p.ts - n.t1 < INTERVAL 24 HOUR
    WHERE n.c2 IS NOT NULL
    """,
    tags=("cep",),
)
def cep_double_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified CEP: two clicks (times(2), relaxed repeats = each click
    pairs with its NEXT click) followedByAny purchase, within 24h of the
    first click (Pattern.times Pattern.java:376). The oracle replays the
    deterministic repeat-chain with a lead() window."""
    pattern = (
        Pattern.begin("clicks", lambda e: e["event_type"] == "click")
        .times(2)
        .followed_by_any("purchase", lambda e: e["event_type"] == "purchase")
        .within(24 * 3600)
    )
    # r16 (guide §4.1): project to the 4 columns the NFA scan touches
    ev = T(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    out = cep_batch(ev, pattern, ["user_id"], "ts", "event_id")
    # string-render the match array: the driver canonicalizer can't sort lists
    return out.withColumn(
        "clicks_ids", F.concat_ws(",", F.transform("clicks_ids", lambda x: x.cast("string")))
    )


def _funnel_select_fn(m: dict) -> dict:
    """PatternSelectFunction for the value funnel: works on both executors
    (batch match maps carry full rows; streaming ones the skeleton +
    attr_cols — both expose event_id, __ts (epoch µs) and value)."""
    v, p = m["view"][0], m["purchase"][0]
    return {
        "view_id": int(v["event_id"]),
        "purchase_id": int(p["event_id"]),
        "value_delta": round(float(p["value"]) - float(v["value"]), 2),
        "dwell_sec": int((p["__ts"] - v["__ts"]) // 1_000_000),
    }


def _funnel_timeout_fn(partial: dict, timeout_ts: int) -> dict:
    """PatternTimeoutFunction for the value funnel (PatternTimeoutFunction.
    java:59): receives the reached stages only and the epoch-µs instant the
    window closed on the partial; works on both executors like
    :func:`_funnel_select_fn`."""
    v = partial["view"][0]
    return {
        "view_id": int(v["event_id"]),
        "deadline_sec": int(timeout_ts // 1_000_000),
    }


_CEP_SELECT_ORACLE = """
    WITH v AS (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'view')
    SELECT v.user_id, v.event_id AS view_id, bp.event_id AS purchase_id,
           round(bp.value - v.value, 2) AS value_delta,
           CAST(floor(epoch(bp.ts - v.ts)) AS BIGINT) AS dwell_sec
    FROM v, LATERAL (
      SELECT p.event_id, p.value, p.ts FROM events p
      WHERE p.event_type = 'purchase' AND p.user_id = v.user_id
        AND (p.ts > v.ts OR (p.ts = v.ts AND p.event_id > v.event_id))
        AND p.ts - v.ts < INTERVAL 24 HOUR
      ORDER BY p.ts, p.event_id LIMIT 1) bp
"""


@query(
    "cep_select_function",
    oracle=_CEP_SELECT_ORACLE,
    tags=("cep",),
)
def cep_select_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PatternSelectFunction (PatternStream.java:98): the user function maps
    the reference's Map<String, List<event>> straight to the output row —
    computed columns (value delta, dwell seconds) derived from the matched
    events inside the same worker pass that scanned the key, no join-back.
    First-match view→purchase funnel; the oracle computes the identical
    derivation with a LATERAL first-row join."""
    pattern = (
        Pattern.begin("view", lambda e: e["event_type"] == "view")
        .followed_by("purchase", lambda e: e["event_type"] == "purchase")
        .within(24 * 3600)
    )
    return cep_batch(
        T(spark, sf_dir, "events"), pattern, ["user_id"], "ts", "event_id",
        select_fn=_funnel_select_fn,
        output_schema="view_id long, purchase_id long, value_delta double, dwell_sec long",
    )


_CEP_SELECT_TIMEOUT_ORACLE = """
    WITH v AS (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'view'),
    m AS (
      SELECT v.user_id, v.event_id AS view_id, v.ts AS v_ts, v.value AS v_value,
             bp.event_id AS purchase_id, bp.value AS p_value, bp.ts AS p_ts
      FROM v LEFT JOIN LATERAL (
        SELECT p.event_id, p.value, p.ts FROM events p
        WHERE p.event_type = 'purchase' AND p.user_id = v.user_id
          AND (p.ts > v.ts OR (p.ts = v.ts AND p.event_id > v.event_id))
          AND p.ts - v.ts < INTERVAL 24 HOUR
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
"""


@query(
    "cep_select_timeout_function",
    oracle=_CEP_SELECT_TIMEOUT_ORACLE,
    tags=("cep",),
)
def cep_select_timeout_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The timeout-handler select overload ``select(timeoutFn, selectFn)``
    (PatternStream.java:182, returning ``Either<L, R>``): one DataFrame
    tagged by ``timed_out`` — completed view→purchase funnels carry the
    PatternSelectFunction payload (value delta, dwell), dead views the
    PatternTimeoutFunction payload (the epoch-second deadline the window
    closed at, ``start + within``), each side NULL-filled on the other's
    columns. The oracle derives both sides from one LEFT LATERAL first-row
    join, so the hash match certifies payload AND timeout-instant
    semantics."""
    pattern = (
        Pattern.begin("view", lambda e: e["event_type"] == "view")
        .followed_by("purchase", lambda e: e["event_type"] == "purchase")
        .within(24 * 3600)
    )
    return cep_batch(
        T(spark, sf_dir, "events"), pattern, ["user_id"], "ts", "event_id",
        select_fn=_funnel_select_fn,
        output_schema="view_id long, purchase_id long, value_delta double, dwell_sec long",
        with_timeouts=True,
        timeout_fn=_funnel_timeout_fn,
        timeout_schema="view_id long, deadline_sec long",
    )


@query(
    "cep_iterative_funnel",
    oracle="""
    WITH v AS (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'view')
    SELECT v.user_id, v.event_id AS view_id, bp.event_id AS purchase_id
    FROM v, LATERAL (
      SELECT p.event_id FROM events p
      WHERE p.event_type = 'purchase' AND p.user_id = v.user_id
        AND (p.ts > v.ts OR (p.ts = v.ts AND p.event_id > v.event_id))
        AND p.ts - v.ts < INTERVAL 24 HOUR
        AND p.value > v.value
      ORDER BY p.ts, p.event_id LIMIT 1) bp
    """,
    tags=("cep",),
)
def cep_iterative_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITERATIVE CONDITION (IterativeCondition.java:96 getEventsForPattern,
    DSL usage :48): the purchase stage's predicate compares the candidate
    against the PRIOR matched stage — ``purchase.value > view.value`` — via
    the two-arg ``where(lambda e, ctx: ...)`` form; ``ctx.first('view')``
    is the reference's ``ctx.getEventsForPattern("view")`` head. First-match
    semantics (followed_by): per view anchor, the first later purchase that
    clears the value bar — exactly the oracle's LATERAL first-row join."""
    pattern = (
        Pattern.begin("view", lambda e: e["event_type"] == "view")
        .followed_by(
            "purchase",
            lambda e, ctx: e["event_type"] == "purchase"
            and e["value"] > ctx.first("view")["value"],
        )
        .within(24 * 3600)
    )
    # r16 (guide §4.1): this pattern additionally reads `value`; props stays pruned
    ev = T(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type", "value")
    return cep_batch(ev, pattern, ["user_id"], "ts", "event_id")


@query(
    "cep_greedy_click_run",
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
    tags=("cep",),
)
def cep_greedy_click_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GREEDY loop (Pattern.java:361 via the r11 NFACompiler:851-exact
    guard): view · click+(greedy) · purchase. The greedy guard forbids the
    handoff while another click sits between the run's end and the
    purchase, so a match exists exactly per (view, purchase) pair whose
    click run is ALL clicks in between — never a sub-prefix — and the
    purchase is the first one after the last click. Oracle derives that
    closed form per purchase: the (ts, event_id)-ordered click interval
    aggregate plus a no-earlier-purchase guard. Scalar projections of the
    run (count/first/last) keep the driver compare hashable."""
    pattern = (
        Pattern.begin("view", lambda e: e["event_type"] == "view")
        .followed_by("clicks", lambda e: e["event_type"] == "click").one_or_more().greedy()
        .followed_by("purchase", lambda e: e["event_type"] == "purchase")
        .within(24 * 3600)
    )
    # r16 (guide §4.1): project to the 4 columns the NFA scan touches
    ev = T(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    out = cep_batch(ev, pattern, ["user_id"], "ts", "event_id")
    return out.select(
        "user_id",
        "view_id",
        F.size("clicks_ids").cast("long").alias("n_clicks"),
        F.element_at("clicks_ids", 1).alias("first_click"),
        F.element_at("clicks_ids", -1).alias("last_click"),
        "purchase_id",
    )


@query(
    "graph_summarize",
    oracle="""
    WITH groups AS (
      SELECT n_regionkey, min(n_nationkey) AS repr FROM nation GROUP BY n_regionkey),
    vmap AS (
      SELECT n.n_nationkey AS id, m.repr FROM nation n JOIN groups m USING (n_regionkey)),
    edges AS (
      SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey  = c.c_custkey
      JOIN supplier s ON l.l_suppkey  = s.s_suppkey)
    SELECT a.repr AS src_repr, b.repr AS dst_repr, count(*) AS cnt
    FROM edges e JOIN vmap a ON e.src = a.id JOIN vmap b ON e.dst = b.id
    GROUP BY 1, 2
    ORDER BY src_repr, dst_repr
    """,
    tags=("graph",),
)
def graph_summarize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gelly Summarization (library/Summarization.java): condense the
    cust_nation→supp_nation trade graph by region — one summary vertex per
    region, one summary edge per region pair with its multiplicity. Pure
    groupBy/join composition (no iteration)."""
    n = T(spark, sf_dir, "nation")
    verts = n.select(F.col("n_nationkey").alias("id"), F.col("n_regionkey").alias("value"))
    l = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    s = T(spark, sf_dir, "supplier")
    edges = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .select(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
        .distinct()
    )
    _, e_sum = g.summarize(verts, edges)
    return e_sum.orderBy("src_repr", "dst_repr")


@query(
    "graph_clustering_coeff",
    oracle="""
    WITH raw AS (
      SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey  = c.c_custkey
      JOIN supplier s ON l.l_suppkey  = s.s_suppkey),
    sym AS (
      SELECT src, dst FROM raw WHERE src <> dst
      UNION
      SELECT dst, src FROM raw WHERE src <> dst),
    e AS (SELECT src, dst FROM sym WHERE src < dst),
    deg AS (SELECT src AS id, count(*) AS d FROM sym GROUP BY src),
    wedges AS (SELECT CAST(sum(d * (d - 1)) / 2 AS BIGINT) AS n_wedges FROM deg),
    tri AS (
      SELECT count(*) AS n_triangles
      FROM e ab JOIN e bc ON ab.dst = bc.src
                JOIN e ac ON ac.src = ab.src AND ac.dst = bc.dst)
    SELECT n_triangles, n_wedges, round(3.0 * n_triangles / n_wedges, 6) AS coeff
    FROM tri, wedges
    """,
    tags=("graph",),
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gelly GlobalClusteringCoefficient (library/clustering) on the
    undirected trade graph: 3·triangles / wedges. Triangles via the ordered
    two-hop join (each counted once); wedges from the degree aggregate —
    two shuffles total, both on vertex id."""
    l = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    s = T(spark, sf_dir, "supplier")
    edges = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .select(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
        .distinct()
    )
    return g.global_clustering_coefficient(edges)


def _hits_oracle(iterations: int = 3) -> str:
    ctes = [
        """edges AS MATERIALIZED (
        SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey  = c.c_custkey
        JOIN supplier s ON l.l_suppkey  = s.s_suppkey)""",
        "verts AS (SELECT n_nationkey AS id FROM nation)",
        "hs0 AS (SELECT id, 1.0::DOUBLE AS hub, 1.0::DOUBLE AS authority FROM verts)",
    ]
    for k in range(1, iterations + 1):
        p = k - 1
        ctes.append(
            f"""a{k} AS MATERIALIZED (
            SELECT v.id, s.hub,
                   coalesce(m.a, 0) AS authority
            FROM (SELECT id, hub FROM hs{p}) s JOIN verts v USING (id)
            LEFT JOIN (SELECT e.dst AS id, sum(s2.hub) AS a
                       FROM edges e JOIN hs{p} s2 ON e.src = s2.id
                       GROUP BY e.dst) m ON v.id = m.id)"""
        )
        ctes.append(
            f"""an{k} AS MATERIALIZED (
            SELECT id, hub,
                   authority / (CASE WHEN n.nrm > 0 THEN n.nrm ELSE 1 END) AS authority
            FROM a{k} CROSS JOIN (SELECT sqrt(sum(authority * authority)) AS nrm FROM a{k}) n)"""
        )
        ctes.append(
            f"""h{k} AS MATERIALIZED (
            SELECT v.id, coalesce(m.h, 0) AS hub, s.authority
            FROM (SELECT id, authority FROM an{k}) s JOIN verts v USING (id)
            LEFT JOIN (SELECT e.src AS id, sum(s2.authority) AS h
                       FROM edges e JOIN an{k} s2 ON e.dst = s2.id
                       GROUP BY e.src) m ON v.id = m.id)"""
        )
        ctes.append(
            f"""hs{k} AS MATERIALIZED (
            SELECT id, hub / (CASE WHEN n.nrm > 0 THEN n.nrm ELSE 1 END) AS hub, authority
            FROM h{k} CROSS JOIN (SELECT sqrt(sum(hub * hub)) AS nrm FROM h{k}) n)"""
        )
    return (
        f"WITH {', '.join(ctes)} "
        f"SELECT id, round(hub, 6) AS hub, round(authority, 6) AS authority "
        f"FROM hs{iterations} ORDER BY id"
    )


@query("graph_hits", oracle=_hits_oracle(), tags=("graph",))
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gelly HITS (library/linkanalysis/HITS.java): 3 hub/authority power
    iterations with L2 normalization per half-step, on the directed trade
    graph; the oracle unrolls the identical arithmetic as chained CTEs."""
    l = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    s = T(spark, sf_dir, "supplier")
    edges = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .select(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
        .distinct()
    )
    verts = _nation_vertices(spark, sf_dir)
    out = g.hits(verts, edges, iterations=3)
    return out.select(
        "id", F.round("hub", 6).alias("hub"), F.round("authority", 6).alias("authority")
    ).orderBy("id")


_TRADE_EDGES_CTE = """
    SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey  = c.c_custkey
    JOIN supplier s ON l.l_suppkey  = s.s_suppkey"""


def _label_prop_oracle(iterations: int = 3) -> str:
    ctes = [
        f"raw AS MATERIALIZED ({_TRADE_EDGES_CTE})",
        """sym AS MATERIALIZED (
        SELECT src, dst FROM raw WHERE src <> dst
        UNION
        SELECT dst, src FROM raw WHERE src <> dst)""",
        "l0 AS MATERIALIZED (SELECT n_nationkey AS id, CAST(n_nationkey AS BIGINT) AS label FROM nation)",
    ]
    for k in range(1, iterations + 1):
        p = k - 1
        ctes.append(
            f"""l{k} AS MATERIALIZED (
            SELECT v.id, coalesce(b.new_label, v.label) AS label
            FROM l{p} v LEFT JOIN (
              SELECT id, label AS new_label FROM (
                SELECT e.src AS id, x.label, count(*) AS cnt,
                       row_number() OVER (PARTITION BY e.src
                                          ORDER BY count(*) DESC, x.label ASC) AS rn
                FROM sym e JOIN l{p} x ON e.dst = x.id
                GROUP BY e.src, x.label)
              WHERE rn = 1) b ON v.id = b.id)"""
        )
    return f"WITH {', '.join(ctes)} SELECT id, label FROM l{iterations} ORDER BY id"


@query("graph_label_propagation", oracle=_label_prop_oracle(), tags=("graph",))
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gelly LabelPropagation (library/LabelPropagation.java): 3 synchronous
    supersteps of most-frequent-neighbor-label adoption (ties → smallest
    label) on the undirected trade graph; oracle unrolls the identical
    argmax per superstep."""
    n = T(spark, sf_dir, "nation")
    verts = n.select(
        F.col("n_nationkey").alias("id"), F.col("n_nationkey").cast("long").alias("label")
    )
    l = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    s = T(spark, sf_dir, "supplier")
    edges = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .select(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return g.label_propagation(verts, edges, iterations=3).orderBy("id")


def _sssp_oracle(iterations: int = 6) -> str:
    ctes = [
        f"edges AS MATERIALIZED ({_TRADE_EDGES_CTE})",
        "d0 AS MATERIALIZED (SELECT 0 AS id, 0.0::DOUBLE AS distance)",
    ]
    for k in range(1, iterations + 1):
        p = k - 1
        ctes.append(
            f"""d{k} AS MATERIALIZED (
            SELECT id, min(dist) AS distance FROM (
              SELECT id, distance AS dist FROM d{p}
              UNION ALL
              SELECT e.dst AS id, d.distance + 1.0 AS dist
              FROM edges e JOIN d{p} d ON e.src = d.id)
            GROUP BY id)"""
        )
    return f"WITH {', '.join(ctes)} SELECT id, distance FROM d{iterations} ORDER BY id"


@query("graph_sssp", oracle=_sssp_oracle(), tags=("graph",))
def graph_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gelly SingleSourceShortestPaths: Bellman-Ford hop distances from
    nation 0 over the directed trade graph (unit weights). Both engines run
    past convergence (6 supersteps > graph diameter), so the fixpoints
    agree; unreachable vertices are absent on both sides."""
    n = T(spark, sf_dir, "nation")
    verts = n.select(F.col("n_nationkey").alias("id"))
    l = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    s = T(spark, sf_dir, "supplier")
    edges = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .select(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
        .distinct()
        .withColumn("weight", F.lit(1.0))
    )
    return g.single_source_shortest_paths(verts, edges, 0, max_iterations=6).orderBy("id")


def _community_oracle(iterations: int = 3, delta: float = 0.5) -> str:
    ctes = [
        f"raw AS MATERIALIZED ({_TRADE_EDGES_CTE})",
        # both directions, UNION ALL: a bidirectional pair sends two messages,
        # exactly like the operator's edge-list union (no dedup)
        """sym AS MATERIALIZED (
        SELECT src, dst, 1.0::DOUBLE AS weight FROM raw
        UNION ALL
        SELECT dst, src, 1.0::DOUBLE AS weight FROM raw)""",
        "s0 AS MATERIALIZED (SELECT n_nationkey AS id, CAST(n_nationkey AS BIGINT) AS label, 1.0::DOUBLE AS score FROM nation)",
    ]
    for k in range(1, iterations + 1):
        p = k - 1
        ctes.append(
            f"""s{k} AS MATERIALIZED (
            SELECT v.id,
                   coalesce(b.new_label, v.label) AS label,
                   CASE WHEN b.new_label IS NOT NULL AND b.new_label <> v.label
                        THEN b.new_score - {delta}
                        ELSE coalesce(b.new_score, v.score) END AS score
            FROM s{p} v LEFT JOIN (
              SELECT id, label AS new_label, best AS new_score FROM (
                SELECT e.dst AS id, x.label,
                       sum(x.score * e.weight) AS total,
                       max(x.score * e.weight) AS best,
                       row_number() OVER (PARTITION BY e.dst
                                          ORDER BY sum(x.score * e.weight) DESC,
                                                   x.label ASC) AS rn
                FROM sym e JOIN s{p} x ON e.src = x.id
                GROUP BY e.dst, x.label)
              WHERE rn = 1) b ON v.id = b.id)"""
        )
    return f"WITH {', '.join(ctes)} SELECT id, label FROM s{iterations} ORDER BY id"


@query("graph_community_detection", oracle=_community_oracle(), tags=("graph",))
def graph_community_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gelly CommunityDetection (library/CommunityDetection.java, Leung
    hop-attenuated label propagation): 3 supersteps on the trade graph, unit
    weights, delta=0.5 — every score lives on the exact dyadic 0.5 grid, so
    the float argmax is deterministic across engines and the unrolled-CTE
    oracle hash-matches."""
    n = T(spark, sf_dir, "nation")
    verts = n.select(F.col("n_nationkey").alias("id"))
    l = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    s = T(spark, sf_dir, "supplier")
    edges = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .select(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
        .distinct()
    )
    return g.community_detection(verts, edges, iterations=3, delta=0.5).orderBy("id")


_BIPARTITE_ORACLE = """
WITH e AS (SELECT DISTINCT l_partkey AS top, l_orderkey AS bottom
           FROM lineitem WHERE l_orderkey % 50 = 0)
SELECT a.top AS src, b.top AS dst, a.bottom AS via
FROM e a JOIN e b ON a.bottom = b.bottom AND a.top <> b.top
ORDER BY src, dst, via
"""


@query("graph_bipartite_projection", oracle=_BIPARTITE_ORACLE, tags=("graph",))
def graph_bipartite_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gelly BipartiteGraph.projectionTopFull analog (bipartite/
    BipartiteGraph.java:215; simple form :127): parts (top) linked when the
    same order (bottom) contains both — the co-purchase graph. One self
    equi-join on the order key; edges carry the shared order as ``via``
    (the full projection's link payload)."""
    l = T(spark, sf_dir, "lineitem")
    edges = (
        l.filter(F.col("l_orderkey") % 50 == 0)
        .select(F.col("l_partkey").alias("top"), F.col("l_orderkey").alias("bottom"))
        .distinct()
    )
    return g.bipartite_projection(edges, side="top", full=True).orderBy("src", "dst", "via")


def _trade_edges(spark, sf_dir):
    """Directed distinct cust_nation→supp_nation trade edges (the PageRank
    graph) — the similarity queries symmetrize it inside the operator."""
    l, o = T(spark, sf_dir, "lineitem"), T(spark, sf_dir, "orders")
    c, s = T(spark, sf_dir, "customer"), T(spark, sf_dir, "supplier")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .select(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
        .distinct()
    )


_TRADE_SYM_CTES = """
edges AS (
    SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey  = c.c_custkey
    JOIN supplier s ON l.l_suppkey  = s.s_suppkey),
sym AS (SELECT src, dst FROM edges WHERE src <> dst
        UNION
        SELECT dst, src FROM edges WHERE src <> dst)
"""


@query(
    "graph_jaccard_index",
    oracle=f"""
    WITH {_TRADE_SYM_CTES},
    deg AS (SELECT src AS id, count(*) AS deg FROM sym GROUP BY src),
    pairs AS (SELECT a.dst AS u, b.dst AS v, count(*) AS shared_neighbors
              FROM sym a JOIN sym b ON a.src = b.src AND a.dst < b.dst
              GROUP BY a.dst, b.dst)
    SELECT p.u, p.v, p.shared_neighbors,
           du.deg + dv.deg - p.shared_neighbors AS distinct_neighbors,
           round(p.shared_neighbors / (du.deg + dv.deg - p.shared_neighbors), 6) AS score
    FROM pairs p JOIN deg du ON p.u = du.id JOIN deg dv ON p.v = dv.id
    """,
    tags=("graph",),
    bench=True,
)
def graph_jaccard_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gelly JaccardIndex (similarity/JaccardIndex.java:54) on the undirected
    nation trade graph: shared/distinct neighbor counts and the Jaccard score
    per distance-2 vertex pair — two-path self-join keyed on the common
    neighbor, no all-pairs cartesian."""
    return g.jaccard_index(_trade_edges(spark, sf_dir))


@query(
    "graph_adamic_adar",
    oracle=f"""
    WITH {_TRADE_SYM_CTES},
    w AS (SELECT src AS z,
                 CASE WHEN count(*) = 1 THEN 0.0 ELSE 1.0 / ln(count(*)) END AS w
          FROM sym GROUP BY src)
    SELECT a.dst AS u, b.dst AS v, round(sum(w.w), 6) AS score
    FROM sym a JOIN sym b ON a.src = b.src AND a.dst < b.dst
    JOIN w ON w.z = a.src
    GROUP BY a.dst, b.dst
    """,
    tags=("graph",),
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gelly AdamicAdar (similarity/AdamicAdar.java:58): Σ 1/ln(deg(z)) over
    shared neighbors z (degree-1 neighbors contribute 0, matching
    AdamicAdar.java:243); the inverse-log weight rides the edge list through
    the two-path join."""
    return g.adamic_adar(_trade_edges(spark, sf_dir))


@query(
    "graph_vertex_metrics",
    oracle=f"""
    WITH {_TRADE_SYM_CTES},
    deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY src)
    SELECT count(*) AS vertex_count,
           (sum(deg) / 2)::BIGINT AS edge_count,
           round(sum(deg)::DOUBLE / count(*), 6) AS average_degree,
           (sum(deg * (deg - 1) / 2))::BIGINT AS triplet_count,
           max(deg) AS maximum_degree,
           (max(deg * (deg - 1) / 2))::BIGINT AS maximum_triplets
    FROM deg
    """,
    tags=("graph",),
)
def graph_vertex_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gelly VertexMetrics (metric/undirected/VertexMetrics.java:124): one-row
    degree-profile summary of the undirected trade graph."""
    return g.vertex_metrics(_trade_edges(spark, sf_dir))


_TRADE_TRI_CTES = f"""
{_TRADE_SYM_CTES},
ori AS (SELECT src, dst FROM sym WHERE src < dst),
deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY src),
tri AS (SELECT a.src AS a, a.dst AS b, b.dst AS c
        FROM ori a JOIN ori b ON a.dst = b.src
        JOIN ori e3 ON e3.src = a.src AND e3.dst = b.dst)
"""


@query(
    "graph_avg_clustering",
    oracle=f"""
    WITH {_TRADE_TRI_CTES},
    corners AS (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri),
    ntri AS (SELECT id, count(*) AS n_tri FROM corners GROUP BY id),
    coeffs AS (
        SELECT CASE WHEN d.deg >= 2
                    THEN round(2.0 * coalesce(t.n_tri, 0) / (d.deg * (d.deg - 1)), 6)
                    ELSE 0.0 END AS coeff
        FROM deg d LEFT JOIN ntri t ON d.src = t.id)
    SELECT count(*) AS vertex_count, round(sum(coeff) / count(*), 6) AS average_coeff
    FROM coeffs
    """,
    tags=("graph",),
)
def graph_avg_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gelly AverageClusteringCoefficient (clustering/undirected/
    AverageClusteringCoefficient.java:37) over the undirected trade graph —
    mean of the per-vertex local coefficients."""
    return g.average_clustering_coefficient(_trade_edges(spark, sf_dir))


@query(
    "graph_triadic_census",
    oracle=f"""
    WITH {_TRADE_TRI_CTES},
    vm AS (SELECT count(*) AS n, (sum(deg) / 2)::BIGINT AS m,
                  (sum(deg * (deg - 1) / 2))::BIGINT AS trip
           FROM deg),
    tc AS (SELECT count(*) AS t FROM tri)
    SELECT (n * (n - 1) * (n - 2) / 6)::BIGINT
             - (m * (n - 2) - 2 * (trip - 3 * t) - 3 * t)
             - (trip - 3 * t) - t                          AS triads_03,
           m * (n - 2) - 2 * (trip - 3 * t) - 3 * t        AS triads_12,
           trip - 3 * t                                    AS triads_21,
           t                                               AS triads_30
    FROM vm, tc
    """,
    tags=("graph",),
)
def graph_triadic_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gelly TriadicCensus (clustering/undirected/TriadicCensus.java:95):
    exact triad-type counts of the undirected trade graph from the closed
    form over vertex metrics + triangle count."""
    return g.triadic_census(_trade_edges(spark, sf_dir))


@query(
    "graph_edge_metrics",
    oracle=f"""
    WITH {_TRADE_SYM_CTES},
    deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY src),
    ann AS (SELECT e.src, e.dst,
                   CASE WHEN d1.deg < d2.deg
                          OR (d1.deg = d2.deg AND e.src < e.dst)
                        THEN 1 ELSE 0 END AS lowf
            FROM sym e JOIN deg d1 ON e.src = d1.src JOIN deg d2 ON e.dst = d2.src),
    pv AS (SELECT src, count(*) AS deg, sum(lowf) AS low FROM ann GROUP BY src)
    SELECT (sum(low * (low - 1) / 2))::BIGINT AS triangle_triplet_count,
           (sum(low * (low - 1) / 2 + low * (deg - low)))::BIGINT AS rectangle_triplet_count,
           (max(low * (low - 1) / 2))::BIGINT AS maximum_triangle_triplets,
           (max(low * (low - 1) / 2 + low * (deg - low)))::BIGINT AS maximum_rectangle_triplets
    FROM pv
    """,
    tags=("graph",),
)
def graph_edge_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gelly EdgeMetrics (metric/undirected/EdgeMetrics.java:44): degree-only
    triangle/rectangle triplet profile of the undirected trade graph."""
    return g.edge_metrics(_trade_edges(spark, sf_dir))


_GEN_ORACLE = """
SELECT 'cycle' AS gen, i AS src, (i + 1) % 10 AS dst FROM range(10) t(i)
UNION ALL SELECT 'cycle', i, (i + 9) % 10 FROM range(10) t(i)
UNION ALL SELECT 'path', i, i + 1 FROM range(7) t(i) WHERE i < 6
UNION ALL SELECT 'path', i, i - 1 FROM range(7) t(i) WHERE i > 0
UNION ALL SELECT 'star', 0, i FROM range(1, 6) t(i)
UNION ALL SELECT 'star', i, 0 FROM range(1, 6) t(i)
UNION ALL SELECT 'complete', a.i, b.j FROM range(5) a(i), range(5) b(j) WHERE a.i <> b.j
UNION ALL SELECT 'singleton', 2 * i, 2 * i + 1 FROM range(4) t(i)
UNION ALL SELECT 'singleton', 2 * i + 1, 2 * i FROM range(4) t(i)
UNION ALL SELECT 'echo', i, (i + 3) % 8 FROM range(8) t(i)
UNION ALL SELECT 'echo', i, (i + 4) % 8 FROM range(8) t(i)
UNION ALL SELECT 'echo', i, (i + 5) % 8 FROM range(8) t(i)
UNION ALL SELECT 'hypercube', i, CASE WHEN (i // 4) % 2 = 0 THEN i + 4 ELSE i - 4 END FROM range(8) t(i)
UNION ALL SELECT 'hypercube', i, CASE WHEN (i // 2) % 2 = 0 THEN i + 2 ELSE i - 2 END FROM range(8) t(i)
UNION ALL SELECT 'hypercube', i, CASE WHEN i % 2 = 0 THEN i + 1 ELSE i - 1 END FROM range(8) t(i)
UNION ALL SELECT 'grid', i, i - 4 FROM range(12) t(i) WHERE i // 4 > 0
UNION ALL SELECT 'grid', i, i + 4 FROM range(12) t(i) WHERE i // 4 < 2
UNION ALL SELECT 'grid', i, CASE WHEN i % 4 > 0 THEN i - 1 ELSE i + 3 END FROM range(12) t(i)
UNION ALL SELECT 'grid', i, CASE WHEN i % 4 < 3 THEN i + 1 ELSE i - 3 END FROM range(12) t(i)
UNION ALL SELECT 'circulant', i, (i + 3) % 9 FROM range(9) t(i)
UNION ALL SELECT 'circulant', i, (i + 4) % 9 FROM range(9) t(i)
UNION ALL SELECT 'circulant', i, (i + 5) % 9 FROM range(9) t(i)
UNION ALL SELECT 'circulant', i, (i + 6) % 9 FROM range(9) t(i)
"""


@query("graph_generators", oracle=_GEN_ORACLE, tags=("graph",))
def graph_generators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gelly graph generators (flink-gelly generator/): cycle, path, star,
    complete, singleton-edge, echo, hypercube, grid, and circulant — each
    produced by spark.range + Column arithmetic (no driver materialization)
    and checked against its closed form. Both edge directions, as the
    reference emits."""
    from flink_1_6_0_spark.operators import graph_gen as gg

    sets = [
        ("cycle", gg.cycle_graph(spark, 10)),
        ("path", gg.path_graph(spark, 7)),
        ("star", gg.star_graph(spark, 6)),
        ("complete", gg.complete_graph(spark, 5)),
        ("singleton", gg.singleton_edge_graph(spark, 4)),
        ("echo", gg.echo_graph(spark, 8, 3)),
        ("hypercube", gg.hypercube_graph(spark, 3)),
        ("grid", gg.grid_graph(spark, [(3, False), (4, True)])),
        ("circulant", gg.circulant_graph(spark, 9, [(3, 4)])),
    ]
    out = None
    for name, edges in sets:
        tagged = edges.select(F.lit(name).alias("gen"), "src", "dst")
        out = tagged if out is None else out.union(tagged)
    return out


def _rmat_oracle(scale: int = 6, edges: int = 256, seed: int = 42,
                 a: float = 0.57, b: float = 0.19, c: float = 0.19) -> str:
    bits = 60
    t1, t2, t3 = (int(x * (1 << bits)) for x in (a, a + b, a + b + c))
    return f"""
    WITH draws AS (
        SELECT e.k, l.l,
               ('0x' || substr(md5('{seed}:' || e.k || ':' || l.l), 1, 15))::BIGINT AS h
        FROM range({edges}) e(k), range({scale}) l(l)),
    bits AS (
        SELECT k, l,
               CASE WHEN h < {t2} THEN 0 ELSE 1 END AS sbit,
               CASE WHEN h < {t1} OR (h >= {t2} AND h < {t3}) THEN 0 ELSE 1 END AS dbit
        FROM draws)
    SELECT sum(sbit * (1 << ({scale} - 1 - l)))::BIGINT AS src,
           sum(dbit * (1 << ({scale} - 1 - l)))::BIGINT AS dst
    FROM bits GROUP BY k
    """


@query("graph_gen_rmat", oracle=_rmat_oracle(), tags=("graph",))
def graph_gen_rmat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gelly RMatGraph (generator/RMatGraph.java:49, Graph500 defaults):
    2⁶ vertices, 256 edges by recursive quadrant descent. The quadrant draw
    is the portable counter-based hash against exact integer thresholds, so
    the oracle replays the identical bit stream — a deterministic RMat that
    needs no RNG state (the scale-correct choice; see module docstring)."""
    from flink_1_6_0_spark.operators import graph_gen as gg

    return gg.rmat_graph(spark, scale=6, edge_count=256, seed=42)


@query(
    "graph_api_pipeline",
    oracle=f"""
    WITH {_TRADE_SYM_CTES},
    ids AS (SELECT DISTINCT src AS id FROM sym),
    v AS (SELECT i.id, n.n_name AS value FROM ids i
          JOIN nation n ON n.n_nationkey = i.id WHERE i.id < 20),
    e AS (SELECT e.src, e.dst FROM edges e
          WHERE e.src < 20 AND e.dst < 20
            AND EXISTS (SELECT 1 FROM ids x WHERE x.id = e.src)
            AND EXISTS (SELECT 1 FROM ids x WHERE x.id = e.dst)),
    deg AS (SELECT id, count(*) AS degree
            FROM (SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)
            GROUP BY id)
    SELECT v.id, v.value, coalesce(d.degree, 0) AS degree
    FROM v LEFT JOIN deg d ON v.id = d.id
    """,
    tags=("graph",),
)
def graph_api_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gelly Graph API end-to-end (Graph.java): fromDataSet over the trade
    edges → joinWithVertices (nation names onto the vertex values) →
    filterOnVertices (subgraph re-validates edge endpoints) → getDegrees
    (zero-degree vertices kept) — the fluent surface a Gelly user composes,
    checked as one chain."""
    from flink_1_6_0_spark.graph_api import Graph

    n = T(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("id"), F.col("n_name").alias("name")
    )
    g = Graph.from_dataset(_trade_edges(spark, sf_dir))
    g = g.map_vertices(F.col("id").cast("string"))
    g = g.join_with_vertices(n, lambda old, new: new)
    g = g.filter_on_vertices(F.col("id") < 20)
    return g.get_degrees().join(g.get_vertices(), "id").select("id", "value", "degree")


@query(
    "graph_vertex_metrics_directed",
    oracle="""
    WITH edges AS (
        SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey  = c.c_custkey
        JOIN supplier s ON l.l_suppkey  = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey),
    outd AS (SELECT src AS id, count(*) AS outdeg FROM edges GROUP BY src),
    ind  AS (SELECT dst AS id, count(*) AS indeg  FROM edges GROUP BY dst),
    nbr  AS (SELECT src AS id, dst AS nb FROM edges
             UNION SELECT dst, src FROM edges),
    deg  AS (SELECT id, count(*) AS deg FROM nbr GROUP BY id),
    pv   AS (SELECT d.id, d.deg, coalesce(o.outdeg, 0) AS outdeg,
                    coalesce(i.indeg, 0) AS indeg
             FROM deg d LEFT JOIN outd o ON d.id = o.id
                        LEFT JOIN ind  i ON d.id = i.id)
    SELECT count(*) AS vertex_count,
           (sum(deg - (outdeg + indeg - deg)) / 2)::BIGINT AS unidirectional_edge_count,
           (sum(outdeg + indeg - deg) / 2)::BIGINT AS bidirectional_edge_count,
           (sum(deg * (deg - 1) / 2))::BIGINT AS triplet_count,
           max(deg) AS maximum_degree,
           max(outdeg) AS maximum_out_degree,
           max(indeg) AS maximum_in_degree,
           (max(deg * (deg - 1) / 2))::BIGINT AS maximum_triplets
    FROM pv
    """,
    tags=("graph",),
)
def graph_vertex_metrics_directed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gelly directed VertexMetrics (metric/directed/VertexMetrics.java):
    uni/bidirectional edge split + degree profile of the DIRECTED trade
    graph (the undirected form is graph_vertex_metrics)."""
    return g.vertex_metrics_directed(_trade_edges(spark, sf_dir))


_TRADE_DIRECTED_LCC_CTES = """
edges AS (
    SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey  = c.c_custkey
    JOIN supplier s ON l.l_suppkey  = s.s_suppkey
    WHERE c.c_nationkey <> s.s_nationkey),
nbr AS (SELECT src AS id, dst AS nb FROM edges UNION SELECT dst, src FROM edges),
deg AS (SELECT id, count(*) AS degree FROM nbr GROUP BY id),
cr AS (SELECT n1.id, count(*) AS n_between
       FROM edges e
       JOIN nbr n1 ON n1.nb = e.src
       JOIN nbr n2 ON n2.id = n1.id AND n2.nb = e.dst
       GROUP BY n1.id),
lcc AS (SELECT d.id, d.degree, coalesce(c.n_between, 0) AS n_between,
               CASE WHEN d.degree >= 2
                    THEN round(coalesce(c.n_between, 0) / (d.degree * (d.degree - 1)), 6)
                    ELSE 0.0 END AS coeff
        FROM deg d LEFT JOIN cr c ON d.id = c.id)
"""


@query(
    "graph_lcc_directed",
    oracle=f"WITH {_TRADE_DIRECTED_LCC_CTES} SELECT * FROM lcc",
    tags=("graph",),
)
def graph_lcc_directed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gelly directed LocalClusteringCoefficient (clustering/directed/
    LocalClusteringCoefficient.java): directed neighbor-pair edges over
    deg·(deg-1), per vertex of the directed trade graph."""
    return g.local_clustering_coefficient_directed(_trade_edges(spark, sf_dir))


@query(
    "graph_gcc_directed",
    oracle=f"""
    WITH {_TRADE_DIRECTED_LCC_CTES}
    SELECT count(*) AS vertex_count,
           round(sum(n_between)::DOUBLE / sum(degree * (degree - 1)), 6) AS global_coeff,
           round(avg(coeff), 6) AS average_coeff
    FROM lcc
    """,
    tags=("graph",),
)
def graph_gcc_directed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gelly directed Global/Average ClusteringCoefficient (clustering/
    directed/) — one-row fold of the directed local frame."""
    return g.global_clustering_coefficient_directed(_trade_edges(spark, sf_dir))


@query(
    "graph_transitive_closure",
    oracle="""
    WITH RECURSIVE edges AS (
        SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey  = c.c_custkey
        JOIN supplier s ON l.l_suppkey  = s.s_suppkey),
    tc AS (
        SELECT src, dst FROM edges
        UNION
        SELECT tc.src, e.dst FROM tc JOIN edges e ON tc.dst = e.src)
    SELECT src, dst FROM tc
    """,
    tags=("graph",),
    bench=True,
)
def graph_transitive_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TransitiveClosureNaive (the reference's canonical bulk-iteration
    example) over the directed trade graph — iterative path extension to
    fixpoint, checked against DuckDB's recursive CTE."""
    return g.transitive_closure(_trade_edges(spark, sf_dir), max_iterations=8)


_DIRECTED_CENSUS_ORACLE = """
WITH edges AS (
    SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey  = c.c_custkey
    JOIN supplier s ON l.l_suppkey  = s.s_suppkey
    WHERE c.c_nationkey <> s.s_nationkey),
ids AS (SELECT DISTINCT src AS id FROM edges UNION SELECT dst FROM edges),
ps AS (SELECT least(src, dst) AS u, greatest(src, dst) AS v,
              CASE WHEN count(*) = 2 THEN 3
                   ELSE max(CASE WHEN src < dst THEN 2 ELSE 1 END) END AS code
       FROM edges GROUP BY least(src, dst), greatest(src, dst)),
tr AS (
    SELECT a.id AS a, b.id AS b, c.id AS c,
           coalesce(ab.code, 0) AS sab, coalesce(bc.code, 0) AS sbc,
           coalesce(ac.code, 0) AS sac
    FROM ids a JOIN ids b ON a.id < b.id JOIN ids c ON b.id < c.id
    LEFT JOIN ps ab ON ab.u = a.id AND ab.v = b.id
    LEFT JOIN ps bc ON bc.u = b.id AND bc.v = c.id
    LEFT JOIN ps ac ON ac.u = a.id AND ac.v = c.id),
cl AS (
    SELECT *,
           (sab = 3)::INT + (sbc = 3)::INT + (sac = 3)::INT AS nm,
           (sab = 0)::INT + (sbc = 0)::INT + (sac = 0)::INT AS nn,
           -- asym-out / asym-in counts per triple vertex (mutual excluded)
           (sab = 2)::INT + (sac = 2)::INT AS oa,
           (sab = 1)::INT + (sbc = 2)::INT AS ob,
           (sbc = 1)::INT + (sac = 1)::INT AS oc,
           (sab = 1)::INT + (sac = 1)::INT AS ia,
           (sab = 2)::INT + (sbc = 1)::INT AS ib,
           (sbc = 2)::INT + (sac = 2)::INT AS ic
    FROM tr),
typed AS (
    SELECT CASE
        WHEN nm = 3 THEN 't300'
        WHEN nm = 2 AND nn = 0 THEN 't210'
        WHEN nm = 2 THEN 't201'
        WHEN nm = 1 AND nn = 2 THEN 't102'
        WHEN nm = 1 AND nn = 1 THEN
            CASE WHEN (CASE WHEN sbc = 3 THEN oa WHEN sac = 3 THEN ob ELSE oc END) = 1
                 THEN 't111d' ELSE 't111u' END
        WHEN nm = 1 THEN
            CASE (CASE WHEN sbc = 3 THEN oa WHEN sac = 3 THEN ob ELSE oc END)
                 WHEN 2 THEN 't120d' WHEN 0 THEN 't120u' ELSE 't120c' END
        WHEN nn = 3 THEN 't003'
        WHEN nn = 2 THEN 't012'
        WHEN nn = 1 THEN
            CASE WHEN greatest(oa, ob, oc) = 2 THEN 't021d'
                 WHEN greatest(ia, ib, ic) = 2 THEN 't021u'
                 ELSE 't021c' END
        ELSE CASE WHEN oa = 1 AND ob = 1 AND oc = 1 THEN 't030c' ELSE 't030t' END
    END AS t
    FROM cl)
SELECT {cols}
FROM typed
""".format(
    cols=", ".join(
        f"sum((t = '{k}')::INT)::BIGINT AS {k}"
        for k in ["t003", "t012", "t102", "t021d", "t021u", "t021c", "t111d", "t111u",
                  "t030t", "t030c", "t201", "t120d", "t120u", "t120c", "t210", "t300"]
    )
)


@query("graph_triadic_census_directed", oracle=_DIRECTED_CENSUS_ORACLE, tags=("graph",), bench=True)
def graph_triadic_census_directed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gelly directed TriadicCensus (clustering/directed/TriadicCensus.java)
    — all 16 Holland-Leinhardt triad types of the directed trade graph.
    Engine side: triangle direction profiles + degree-split wedges + the
    reference's subtraction cascade; oracle side: an INDEPENDENT direct
    classification of all vertex triples — the two derivations must agree
    on every class."""
    return g.triadic_census_directed(_trade_edges(spark, sf_dir))
