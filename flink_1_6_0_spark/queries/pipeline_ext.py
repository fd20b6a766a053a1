"""Training-data pipeline extensions, round 2: indexing, reproducible
sampling, TF-IDF, n-gram stats, shard assignment, filter funnels, and
near-dup clustering (LSH pairs → connected components → canonical doc).

Reference parity anchors: DataSetUtils.zipWithIndex/sample (flink-java
utils/DataSetUtils.java:54,179); Gelly ConnectedComponents
(flink-gelly library/ConnectedComponents.java) reused for dedup clustering.

All hashes are the engine-portable md5→bigint form so every query here is
value-hash-checked against DuckDB (the clustering oracle is a recursive-CTE
transitive closure — exact, viable because candidate pairs are sparse).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from flink_1_6_0_spark.operators import utils as U
from flink_1_6_0_spark.operators.graph import connected_components
from flink_1_6_0_spark.pipeline import dedup as dd
from flink_1_6_0_spark.pipeline import text as tx
from flink_1_6_0_spark.queries import T
from flink_1_6_0_spark.queries.pipeline import (
    _duck_buckets_cte,
    _duck_lsh_oracle,
    _TH,
    _TOKS,
)
from flink_1_6_0_spark.registry import query

# ---------------------------------------------------------------------------
# zipWithIndex — dense global index without a global sort.
# ---------------------------------------------------------------------------

_ZIP_ORACLE = """
SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS idx
FROM documents
ORDER BY doc_id
"""


@query("zip_with_index", oracle=_ZIP_ORACLE, tags=("pipeline", "utils"))
def zip_with_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataSetUtils.zipWithIndex:54 semantics — two-phase (range partition,
    per-partition counts, offset + local row_number); the oracle's global
    row_number is the semantic spec, not the physical plan."""
    docs = T(spark, sf_dir, "documents").select("doc_id")
    return U.zip_with_index(docs, "doc_id", "idx").orderBy("doc_id")


# ---------------------------------------------------------------------------
# Stratified deterministic sampling — reproducible train subsets.
# ---------------------------------------------------------------------------

_SAMPLE_ORACLE = f"""
SELECT doc_id, lang
FROM documents
WHERE {_TH.format(s="(CAST(doc_id AS VARCHAR) || 's1')")} % 1000 <
      CASE lang WHEN 'en' THEN 500 WHEN 'zh' THEN 100 ELSE 200 END
ORDER BY doc_id
"""


@query("sample_stratified", oracle=_SAMPLE_ORACLE, tags=("pipeline", "utils"))
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-gated Bernoulli sampling with per-language rates (en 50%,
    zh 10%, rest 20%). Pure function of the data — identical subset on any
    cluster size, any engine; this is what makes train-data subsets
    reproducible (df.sample's partition-seeded RNG is not)."""
    rate = (
        F.when(F.col("lang") == "en", 500)
        .when(F.col("lang") == "zh", 100)
        .otherwise(200)
    )
    docs = T(spark, sf_dir, "documents")
    return (
        U.deterministic_sample(docs, F.col("doc_id"), rate, salt="s1")
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms per document.
# ---------------------------------------------------------------------------

_TFIDF_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS.format(c='lower(text)')}) AS term
  FROM documents WHERE lang = 'en'
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
), dfreq AS (
  SELECT term, count(DISTINCT doc_id) AS dfreq FROM toks GROUP BY 1
), n AS (SELECT count(DISTINCT doc_id) AS nd FROM toks)
SELECT doc_id, term,
       round(tf * ln((nd + 1.0) / (dfreq + 1.0)), 4) AS score,
       CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT doc_id, term, tf, dfreq, nd,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tf DESC, dfreq ASC, term ASC) AS rnk
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
) ranked
WHERE rnk <= 3
ORDER BY doc_id, rnk
"""


@query("tfidf_top_terms", oracle=_TFIDF_ORACLE, tags=("pipeline", "text"))
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per English document. Ranking is on integer keys
    (tf desc, doc-frequency asc, term) so cross-engine float ulps cannot
    reorder ties; the float score is display-only (rounded). Explode + two
    hash aggregates + broadcast of the tiny doc-frequency side."""
    toks = (
        T(spark, sf_dir, "documents")
        .filter(F.col("lang") == "en")
        .select("doc_id", F.explode(tx.tokenize(F.lower(F.col("text")))).alias("term"))
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("dfreq"))
    nd = toks.agg(F.countDistinct("doc_id").alias("nd"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("tf"), F.asc("dfreq"), F.asc("term"))
    return (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(nd))
        .withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log((F.col("nd") + 1.0) / (F.col("dfreq") + 1.0)), 4
            ).alias("score"),
            "rnk",
        )
        .orderBy("doc_id", "rnk")
    )


# ---------------------------------------------------------------------------
# Top bigrams corpus-wide.
# ---------------------------------------------------------------------------

_BIGRAM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS.format(c='lower(text)')} AS tt FROM documents
), grams AS (
  SELECT unnest([tt[i] || ' ' || tt[i+1] FOR i IN range(1, len(tt))]) AS bigram
  FROM toks
)
SELECT bigram, count(*) AS n
FROM grams
GROUP BY bigram
ORDER BY n DESC, bigram
LIMIT 20
"""


@query("ngram_bigram_top20", oracle=_BIGRAM_ORACLE, tags=("pipeline", "text"))
def ngram_bigram_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram counts via posexplode + LEAD over (doc, pos) — the
    window-lead shingling trick: one shuffle keyed by doc, then a global
    count with map-side partial aggregation."""
    docs = T(spark, sf_dir, "documents").select(
        "doc_id", F.posexplode(tx.tokenize(F.lower(F.col("text")))).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    grams = (
        docs.withColumn("nxt", F.lead("tok").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(F.concat_ws(" ", "tok", "nxt").alias("bigram"))
    )
    return (
        grams.groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Output shard assignment — balanced deterministic write-sharding.
# ---------------------------------------------------------------------------

_SHARD_ORACLE = f"""
SELECT {_TH.format(s='CAST(doc_id AS VARCHAR)')} % 16 AS shard,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY shard
ORDER BY shard
"""


@query("doc_shard_assign", oracle=_SHARD_ORACLE, tags=("pipeline", "utils"))
def doc_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 16-way shard assignment for output repacking (the
    pre-step to ``df.repartition(shard).write`` with bounded file sizes);
    content-hash sharding keeps shards balanced regardless of input order."""
    docs = T(spark, sf_dir, "documents")
    return (
        docs.withColumn("shard", F.pmod(U.portable_hash(F.col("doc_id")), F.lit(16)))
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# Quality-filter funnel — stage-by-stage survival counts.
# ---------------------------------------------------------------------------

_FUNNEL_ORACLE = f"""
SELECT count(*) AS n_total,
       CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
       CAST(sum(CASE WHEN lang = 'en' AND n_chars BETWEEN 100 AND 400
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_len,
       CAST(sum(CASE WHEN lang = 'en' AND n_chars BETWEEN 100 AND 400
                          AND len({_TOKS.format(c='lower(text)')}) >= 20
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_tok
FROM documents
"""


@query("quality_filter_funnel", oracle=_FUNNEL_ORACLE, tags=("pipeline", "text"))
def quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan funnel: conditional sums give per-stage survival (language →
    length band → token floor) without running the pipeline N times."""
    docs = T(spark, sf_dir, "documents")
    is_lang = F.col("lang") == "en"
    is_len = is_lang & F.col("n_chars").between(100, 400)
    is_tok = is_len & (F.size(tx.tokenize(F.lower(F.col("text")))) >= 20)
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")  # noqa: E731
    return docs.agg(
        F.count("*").alias("n_total"),
        cnt(is_lang).alias("n_lang"),
        cnt(is_len).alias("n_len"),
        cnt(is_tok).alias("n_tok"),
    )


# ---------------------------------------------------------------------------
# Near-dup clustering: LSH candidate pairs → connected components →
# canonical (min) doc per cluster.
# ---------------------------------------------------------------------------


def _cluster_oracle() -> str:
    return f"""
    WITH RECURSIVE lshpairs AS ({_duck_lsh_oracle()}),
    edges AS (SELECT a, b FROM lshpairs UNION SELECT b, a FROM lshpairs),
    nodes AS (SELECT DISTINCT a AS doc FROM edges),
    reach(doc, r) AS (
      SELECT doc, doc FROM nodes
      UNION
      SELECT e.a, reach.r FROM reach JOIN edges e ON e.b = reach.doc
    )
    SELECT doc, min(r) AS canonical FROM reach GROUP BY doc ORDER BY doc
    """


@query("dedup_cluster_canonical", oracle=_cluster_oracle(), tags=("pipeline", "dedup", "graph"))
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS, not just pairs: MinHash-LSH candidate pairs feed
    Gelly-style min-label propagation (operators/graph.connected_components);
    each doc maps to its cluster's canonical (minimum) doc_id — the keep-list
    is then `WHERE doc = canonical`. Transitive closure matters: A~B, B~C
    must collapse to ONE canonical even if A,C never share a bucket. The
    oracle is an exact recursive-CTE closure over the same pairs."""
    # r16 (guide §2.4/§5): the pair frame is consumed THREE times (edges +
    # both arms of the vertex union) — without the pin the whole
    # shingle→signature→bucket-join pipeline re-runs per consumer. The
    # frame is tiny (candidate pairs only); localCheckpoint materializes it
    # once and the ContextCleaner reclaims it. r17: LAZY is safe HERE —
    # unlike the triadic pairs pin (where all four consumer subtrees sit in
    # ONE job and a lazy pin's duplicates race, see operators/graph.py and
    # BENCH_PROBES x100_graph_probe_r17), connected_components eagerly
    # checkpoints the symmetrized edge frame FIRST, so the lazy pin
    # materializes through that single consumer before the two vertex arms
    # ever read it: one fewer blocking job, no duplicate compute.
    pairs = dd.minhash_lsh_pairs(
        T(spark, sf_dir, "documents"), "doc_id", "text", shingle_k=3, num_hashes=16, bands=4
    ).localCheckpoint(eager=False)
    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    vertices = (
        pairs.select(F.col("a").alias("doc"))
        .union(pairs.select("b"))
        .distinct()
    )
    comp = connected_components(vertices, edges, id_col="doc")
    return comp.select(F.col("id").alias("doc"), F.col("component").alias("canonical")).orderBy(
        "doc"
    )


# ---------------------------------------------------------------------------
# kNN join — FlinkML nn.KNN parity (flink-ml/.../nn/KNN.scala).
# ---------------------------------------------------------------------------

@query(
    "ml_knn_join",
    oracle="""
    WITH t AS (SELECT vec_id AS train_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 3),
         q AS (SELECT vec_id AS test_id,  embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 3),
         pairs AS (
           SELECT q.test_id, t.train_id,
                  sqrt(list_sum(list_transform(range(1, 65),
                       i -> (q.v[i] - t.v[i]) * (q.v[i] - t.v[i])))) AS d
           FROM q, t)
    SELECT test_id, train_id, round(d, 4) AS dist
    FROM (SELECT *, row_number() OVER (PARTITION BY test_id ORDER BY d, train_id) AS rn FROM pairs)
    WHERE rn <= 5
    ORDER BY test_id, dist, train_id
    """,
    tags=("pipeline", "ml"),
)
def ml_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FlinkML nn.KNN analog: exact brute-force kNN join, 3 query points
    against the rest of the embeddings table, top-5 each by euclidean
    distance (JVM-side zip_with/aggregate arithmetic; per-query top-k is a
    partitioned window, never a global sort)."""
    from flink_1_6_0_spark.operators.ml import knn_join

    emb = T(spark, sf_dir, "embeddings")
    train = emb.filter(F.col("vec_id") >= 3).select(F.col("vec_id").alias("id"), F.col("embedding").cast("array<double>").alias("vec"))
    test = emb.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("id"), F.col("embedding").cast("array<double>").alias("vec"))
    out = knn_join(train, test, k=5)
    return out.select("test_id", "train_id", F.round("dist", 4).alias("dist")).orderBy(
        "test_id", "dist", "train_id"
    )


def _sos_oracle() -> str:
    from flink_1_6_0_spark.operators.ml import duck_sos_oracle
    from flink_1_6_0_spark.queries import emb_cap_pred_sql

    return duck_sos_oracle(perplexity=10.0, dim=64, where=emb_cap_pred_sql("soscap"))


@query("ml_sos_outlier", oracle=_sos_oracle(), tags=("pipeline", "ml"))
def ml_sos_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FlinkML outlier.StochasticOutlierSelection analog over the embeddings
    table (distributed: O(n²) cross-join pairs partitioned by point,
    per-point perplexity bandwidth search in a grouped pandas UDF, log-sum
    product). HASH-CHECKED since r13: the deterministic fixed-depth variant
    (operators/ml.sos_outlier_fixed — quantized exact distances, 50 search
    rounds, shared float-op sequence) replays as an unrolled DuckDB CTE;
    the early-stopping sos_outlier stays as the production path.

    r15 (r14 verdict task 6): the input rides the deterministic EMB_CAP md5
    gate — an exact no-op at every tier gated so far (n <= 2000), but above
    it both engines keep the same ~2000-row slice, so the O(n²) algorithm
    carries at-scale evidence at the x10 tier instead of a declared skip
    (the SCALE BOUNDARY docstring on the operator stands: sample or
    pre-cluster first at 100 TB — this gate IS that sample)."""
    from flink_1_6_0_spark.operators.ml import sos_outlier_fixed
    from flink_1_6_0_spark.catalog import table_rows
    from flink_1_6_0_spark.queries import emb_capped

    e = T(spark, sf_dir, "embeddings")
    emb = emb_capped(e, "soscap", n=table_rows(spark, sf_dir, "embeddings")).select(
        F.col("vec_id").alias("id"), F.col("embedding").cast("array<double>").alias("vec")
    )
    return sos_outlier_fixed(emb, perplexity=10.0)


# ---------------------------------------------------------------------------
# Repetition filter + cross-doc segment dedup (round-2 additions).
# ---------------------------------------------------------------------------

_REP_ORACLE = f"""
WITH t AS (SELECT doc_id, {_TOKS.format(c='lower(text)')} AS toks FROM documents),
b AS (SELECT doc_id,
        list_transform(generate_series(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1]) AS bg
      FROM t WHERE len(toks) >= 2)
SELECT doc_id,
       CAST(len(bg) AS BIGINT) AS n_bigrams,
       CAST(len(list_distinct(bg)) AS BIGINT) AS n_distinct,
       CAST(CASE WHEN (len(bg) - len(list_distinct(bg))) * 5 > len(bg)
                 THEN 1 ELSE 0 END AS INT) AS is_repetitive
FROM b ORDER BY doc_id
"""


@query("text_repetition_filter", oracle=_REP_ORACLE, tags=("pipeline", "text"))
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signal (Rae et al. 2021 §A.1.1: duplicate
    n-gram fraction): per-doc duplicate-bigram counts and a >20% flag. The
    threshold compare stays in integers ((n-d)*5 > n) so the oracle hash is
    float-free. One scan, pure Column expressions — no UDF, no shuffle
    beyond the final sort."""
    docs = T(spark, sf_dir, "documents")
    out = docs.select(
        "doc_id", tx.bigrams(F.lower(F.col("text"))).alias("bg")
    ).filter(F.size("bg") >= 1)
    n, d = F.size("bg"), F.size(F.array_distinct("bg"))
    return out.select(
        "doc_id",
        n.cast("bigint").alias("n_bigrams"),
        d.cast("bigint").alias("n_distinct"),
        ((n - d) * 5 > n).cast("int").alias("is_repetitive"),
    ).orderBy("doc_id")


_SEG_ORACLE = f"""
WITH t AS (SELECT doc_id, {_TOKS.format(c='lower(text)')} AS toks FROM documents),
s AS (SELECT doc_id, unnest(list_transform(generate_series(0, len(toks)//10 - 1),
         i -> array_to_string(toks[i*10+1 : i*10+10], ' '))) AS seg
      FROM t WHERE len(toks) >= 10)
SELECT seg, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occ
FROM s GROUP BY seg HAVING count(DISTINCT doc_id) >= 2
ORDER BY n_docs DESC, n_occ DESC, seg LIMIT 50
"""


@query("text_segment_dedup", oracle=_SEG_ORACLE, tags=("pipeline", "text", "dedup"))
def text_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection — the CCNet/RefinedWeb
    line-level dedup step, with non-overlapping 10-token segments standing
    in for lines on this newline-free corpus: segments appearing in ≥2
    distinct documents, most-shared first.

    Scale: explode → one groupBy on the segment string (map-side partial
    agg); at 100 TB hash the segment to 64 bits before the shuffle and
    carry an example string via `first()` — here the raw string keys the
    oracle comparison. Deterministic total order + LIMIT for the driver
    contract."""
    docs = T(spark, sf_dir, "documents")
    segs = docs.select(
        "doc_id",
        F.explode(tx.word_segments(F.lower(F.col("text")), 10)).alias("seg"),
    )
    return (
        segs.groupBy("seg")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_occ"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.desc("n_occ"), "seg")
        .limit(50)
    )


def _logreg_oracle_sql() -> str:
    """Unroll quality_classifier_gd's ENTIRE training run as DuckDB SQL —
    one CTE pair (gradient aggregate, weight update) per GD iteration.

    This works because the Spark trainer (operators/ml.py
    quality_classifier_gd) keeps every weight bit-identical across
    engines: fixed-point features, exact long/HUGEINT sums for the
    standardization stats and per-iteration gradients, and scalar IEEE
    update expressions written in the SAME association order here and
    there. The constants (1e6 feature quant, 1e4 gradient quant, lr,
    iteration count) are the shared contract — imported, not repeated."""
    from flink_1_6_0_spark.operators import ml as _ml

    fq = int(_ml.LOGREG_FEATURE_QUANT)
    gq = int(_ml.LOGREG_GRAD_QUANT)
    lr = _ml.LOGREG_LR
    iters = _ml.LOGREG_ITERS
    toks = _TOKS.format(c="text")
    sw = repr(list(tx.LANG_PROFILES["en"]))
    qual = (
        f"round((least(len({toks}) / 64.0, 1.0)"
        f" + least(5.0 * len(list_filter({toks}, t -> list_contains({sw}, t)))"
        f" / len({toks}), 1.0)"
        f" + CASE WHEN list_sum(list_transform({toks}, t -> length(t)))"
        f" / len({toks}) BETWEEN 3.0 AND 8.0 THEN 1.0 ELSE 0.5 END) / 3.0, 6)"
    )
    punct = "length(regexp_replace(text, '[^.,;:!?''\"()-]', '', 'g'))"
    ctes = [
        f"""feats AS (
  SELECT doc_id,
         len({toks}) / 64.0 AS f1,
         COALESCE(len(list_filter({toks}, t -> list_contains({sw}, t))) / len({toks}), 0.0) AS f2,
         COALESCE(list_sum(list_transform({toks}, t -> length(t))) / len({toks}), 0.0) AS f3,
         COALESCE({punct} / NULLIF(length(text), 0), 0.0) AS f4,
         CASE WHEN {qual} >= 0.5 THEN 1.0 ELSE 0.0 END AS y
  FROM documents)""",
        "qfeats AS (SELECT doc_id, "
        + ", ".join(f"CAST(floor(f{j} * {fq}.0 + 0.5) AS BIGINT) AS q{j}" for j in range(1, 5))
        + ", y FROM feats)",
        "stats AS (SELECT count(*) AS n, "
        + ", ".join(f"sum(q{j}) AS s{j}" for j in range(1, 5))
        + ", "
        + ", ".join(f"sum(q{j} * q{j}) AS ss{j}" for j in range(1, 5))
        + ", CAST(sum(CAST(y AS BIGINT)) AS BIGINT) AS npos FROM qfeats)",
        "statm AS (SELECT *, "
        + ", ".join(f"(s{j} / {fq}.0) / n AS m{j}" for j in range(1, 5))
        + " FROM stats)",
        "statv AS (SELECT *, "
        + ", ".join(f"(ss{j} / {fq * fq}.0) / n - m{j} * m{j} AS v{j}" for j in range(1, 5))
        + " FROM statm)",
        "statd AS (SELECT *, "
        + ", ".join(f"CASE WHEN v{j} > 0 THEN sqrt(v{j}) ELSE 1.0 END AS d{j}" for j in range(1, 5))
        + ", npos / (n - npos) AS ratio FROM statv)",
        # MATERIALIZED: sfeats is referenced once per GD iteration — without
        # the hint DuckDB may inline it into every reference and re-tokenize
        "sfeats AS MATERIALIZED (SELECT doc_id, "
        + ", ".join(f"(q{j} / {fq}.0 - m{j}) / d{j} AS fs{j}" for j in range(1, 5))
        + ", y, ratio FROM qfeats, statd)",
        "it0 AS (SELECT 0.0 AS w1, 0.0 AS w2, 0.0 AS w3, 0.0 AS w4, 0.0 AS b)",
    ]
    z = "(w1 * fs1 + w2 * fs2 + w3 * fs3 + w4 * fs4 + b)"
    err = (
        f"(1.0 / (1.0 + exp(-{z})) - y)"
        f" * (CASE WHEN y = 1.0 THEN 1.0 ELSE ratio END)"
    )
    for i in range(1, iters + 1):
        gsums = ", ".join(
            f"sum(CAST(floor({err} * fs{j} * {gq}.0 + 0.5) AS BIGINT)) AS g{j}"
            for j in range(1, 5)
        )
        # each gradient CTE re-emits the (constant) weights so the update CTE
        # reads ONLY g{i} — a strictly linear CTE chain; referencing it{i-1}
        # from both g{i} and it{i} doubles the expansion per level (2^iters)
        wcarry = ", ".join(f"min(w{j}) AS w{j}" for j in range(1, 5)) + ", min(b) AS b"
        ctes.append(
            f"g{i} AS (SELECT count(*) AS n, {wcarry}, {gsums}, "
            f"sum(CAST(floor({err} * {gq}.0 + 0.5) AS BIGINT)) AS gb "
            f"FROM sfeats, it{i - 1})"
        )
        upd = ", ".join(
            f"w{j} - {lr!r} * ((g{j} / {gq}.0) / n) AS w{j}" for j in range(1, 5)
        )
        ctes.append(
            f"it{i} AS (SELECT {upd}, b - {lr!r} * ((gb / {gq}.0) / n) AS b "
            f"FROM g{i})"
        )
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT doc_id, y AS label,
       CASE WHEN {z} > 0.0 THEN 1.0 ELSE 0.0 END AS prediction
FROM sfeats, it{iters}
"""
    )


@query(
    "ml_quality_classifier",
    oracle=_logreg_oracle_sql(),
    tags=("pipeline", "ml", "quality"),
)
def ml_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality classifier trained on the weak heuristic label and
    scored over the whole corpus — the classifier-based quality-filter tier
    of a pretraining pipeline (GPT-3 appendix-A shape). Trained by
    operators/ml.quality_classifier_gd: exact-deterministic class-weighted
    full-batch GD whose weights are bit-identical cross-engine, so the whole
    TRAINING RUN (25 distributed gradient passes), not just the scoring, is
    value-hash-checked against the unrolled DuckDB oracle. The pyspark.ml
    LBFGS production path stays available as operators/ml.quality_classifier
    (pytest-covered); it trades oracle-checkability for a faster optimizer."""
    from flink_1_6_0_spark.operators.ml import quality_classifier_gd

    return quality_classifier_gd(T(spark, sf_dir, "documents"))


@query(
    "ml_poly_features",
    oracle="""
    SELECT vec_id,
           embedding[1]::DOUBLE * embedding[1]::DOUBLE AS p1,
           embedding[1]::DOUBLE * embedding[2]::DOUBLE AS p2,
           embedding[1]::DOUBLE * embedding[3]::DOUBLE AS p3,
           embedding[2]::DOUBLE * embedding[2]::DOUBLE AS p4,
           embedding[2]::DOUBLE * embedding[3]::DOUBLE AS p5,
           embedding[3]::DOUBLE * embedding[3]::DOUBLE AS p6,
           embedding[1]::DOUBLE AS p7,
           embedding[2]::DOUBLE AS p8,
           embedding[3]::DOUBLE AS p9
    FROM embeddings
    """,
    tags=("pipeline", "ml"),
)
def ml_poly_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FlinkML PolynomialFeatures (preprocessing/PolynomialFeatures.scala:32):
    degree-2 polynomial base over the first 3 embedding dims, in the
    reference's monomial order (x², xy, xz, y², yz, z², x, y, z). Monomials
    are explicit double products (no pow), so Spark and the oracle agree
    bit-for-bit — no rounding needed."""
    from flink_1_6_0_spark.operators.ml import polynomial_features

    emb = T(spark, sf_dir, "embeddings").select(
        "vec_id", F.slice("embedding", 1, 3).alias("v3")
    )
    out = polynomial_features(emb, "v3", dim=3, degree=2)
    return out.select(
        "vec_id", *[F.element_at("poly", i + 1).alias(f"p{i + 1}") for i in range(9)]
    )


def _duck_incremental_oracle(bands: int = 4, rows: int = 4) -> str:
    return f"""
    WITH {_duck_buckets_cte(bands, rows)},
    nb AS (SELECT doc, band, bh FROM buckets WHERE doc % 5 = 0),
    cb AS (SELECT DISTINCT band, bh FROM buckets WHERE doc % 5 <> 0)
    SELECT n.doc_id AS doc,
           EXISTS (SELECT 1 FROM documents c
                   WHERE c.doc_id % 5 <> 0 AND c.text = n.text) AS exact_dup,
           EXISTS (SELECT 1 FROM nb JOIN cb USING (band, bh)
                   WHERE nb.doc = n.doc_id) AS near_dup
    FROM documents n WHERE n.doc_id % 5 = 0
    """


@query(
    "dedup_incremental",
    oracle=_duck_incremental_oracle(),
    tags=("pipeline", "dedup"),
    bench=True,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: the doc_id%5==0 slice plays the incoming
    batch, the rest the standing corpus — each new doc flagged exact-dup
    (content-key probe) and near-dup (MinHash band-bucket probe) WITHOUT
    re-deduplicating the corpus (at scale both probe tables are persisted
    between ingests). r16: both slices come from ONE table, so the sliced
    form computes the signature pipeline once and splits the bucket frame
    (dedup.incremental_dedup_sliced) — results identical to the two-frame
    ``incremental_dedup``, which remains the cross-table API."""
    d = T(spark, sf_dir, "documents")
    return dd.incremental_dedup_sliced(
        d, "doc_id", "text", lambda c: c % 5 == 0
    )


@query(
    "dataset_summarize",
    oracle="""
    SELECT 'l_quantity' AS column, count(l_quantity) AS non_missing,
           count(*) - count(l_quantity) AS missing,
           min(l_quantity)::DOUBLE AS min, max(l_quantity)::DOUBLE AS max,
           round(sum(l_quantity)::DOUBLE, 6) AS sum, round(avg(l_quantity), 6) AS mean,
           round(var_samp(l_quantity), 6) AS variance, round(stddev_samp(l_quantity), 6) AS std_dev
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', count(l_discount), count(*) - count(l_discount),
           min(l_discount)::DOUBLE, max(l_discount)::DOUBLE,
           round(sum(l_discount)::DOUBLE, 6), round(avg(l_discount), 6),
           round(var_samp(l_discount), 6), round(stddev_samp(l_discount), 6)
    FROM lineitem
    UNION ALL
    SELECT 'l_tax', count(l_tax), count(*) - count(l_tax),
           min(l_tax)::DOUBLE, max(l_tax)::DOUBLE,
           round(sum(l_tax)::DOUBLE, 6), round(avg(l_tax), 6),
           round(var_samp(l_tax), 6), round(stddev_samp(l_tax), 6)
    FROM lineitem
    """,
    tags=("pipeline", "utils"),
)
def dataset_summarize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataSetUtils.summarize over lineitem's bounded-magnitude numeric
    columns (quantity/discount/tax — variance magnitudes where round(6) is
    cross-engine safe): one scan, schema-sized struct explode
    (operators/utils.summarize)."""
    from flink_1_6_0_spark.operators.utils import summarize

    out = summarize(
        T(spark, sf_dir, "lineitem").select("l_quantity", "l_discount", "l_tax")
    )
    return out.select(
        "column", "non_missing", "missing", "min", "max",
        F.round("sum", 6).alias("sum"), F.round("mean", 6).alias("mean"),
        F.round("variance", 6).alias("variance"), F.round("std_dev", 6).alias("std_dev"),
    )


@query(
    "pi_estimation",
    oracle="""
    SELECT round(4.0 * count(*) / 100000, 6) AS pi_estimate
    FROM range(100000) t(i)
    WHERE (('0x' || substr(md5(i || ':x'), 1, 15))::BIGINT / 1152921504606846976.0)
         * (('0x' || substr(md5(i || ':x'), 1, 15))::BIGINT / 1152921504606846976.0)
         + (('0x' || substr(md5(i || ':y'), 1, 15))::BIGINT / 1152921504606846976.0)
         * (('0x' || substr(md5(i || ':y'), 1, 15))::BIGINT / 1152921504606846976.0)
       <= 1.0
    """,
    tags=("misc",),
)
def pi_estimation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PiEstimation (flink-examples-batch misc/PiEstimation.java) with the
    engine's deterministic-RNG convention: sample points come from the
    portable counter hash instead of a seeded RNG, so the estimate is
    identical on any engine/partitioning and the oracle replays it exactly
    (long→double conversion and the square/compare are IEEE-identical)."""
    n = 100_000
    h = lambda c, tag: (
        F.conv(F.substring(F.md5(F.concat(c.cast("string"), F.lit(tag))), 1, 15), 16, 10)
        .cast("long")
        .cast("double")
        / float(1 << 60)
    )
    pts = spark.range(n).select(h(F.col("id"), ":x").alias("x"), h(F.col("id"), ":y").alias("y"))
    return pts.filter(F.col("x") * F.col("x") + F.col("y") * F.col("y") <= 1.0).agg(
        F.round(4.0 * F.count("*") / n, 6).alias("pi_estimate")
    )


def _duck_cross_lsh_oracle(bands: int = 4, rows: int = 4) -> str:
    return f"""
    WITH {_duck_buckets_cte(bands, rows)}
    SELECT DISTINCT x.doc AS a, y.doc AS b
    FROM buckets x JOIN buckets y ON x.band = y.band AND x.bh = y.bh
    WHERE x.doc % 5 = 0 AND y.doc % 5 <> 0
    """


@query(
    "dedup_cross_corpus_pairs",
    oracle=_duck_cross_lsh_oracle(),
    tags=("pipeline", "dedup"),
)
def dedup_cross_corpus_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus LSH candidate pairs: WHICH standing document each
    incoming one collides with (the provenance-level view incremental
    dedup's booleans summarize) — bucket equi-join between the two
    corpora's band tables (pipeline/dedup.cross_corpus_lsh_pairs)."""
    d = T(spark, sf_dir, "documents")
    return dd.cross_corpus_lsh_pairs(
        d.filter(F.col("doc_id") % 5 == 0), d.filter(F.col("doc_id") % 5 != 0),
        "doc_id", "text",
    )


@query(
    "skew_report_events",
    oracle="""
    WITH c AS (SELECT user_id, count(*)::BIGINT AS n FROM events GROUP BY user_id),
    s AS (SELECT sum(n) AS total, avg(n) AS mean FROM c)
    SELECT user_id, n,
           round(n / s.total, 6) AS share,
           round(n / s.mean, 3) AS skew_factor,
           ceil(n / s.mean)::INT AS suggested_salts
    FROM c, s
    ORDER BY n DESC, user_id ASC NULLS LAST
    LIMIT 20
    """,
    tags=("pipeline", "utils", "joins"),
)
def skew_report_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew pre-flight on events.user_id: the 20 heaviest keys
    with count, share, skew factor and the salt fan-out that would level
    them (operators/utils.skew_report) — run this BEFORE committing a
    100 TB shuffle to a key; feed suggested_salts to joins.skew_salted_join
    or trust AQE past it. One map-side-combined groupBy + broadcast 1-row
    stats + TakeOrdered."""
    from flink_1_6_0_spark.operators.utils import skew_report

    return skew_report(T(spark, sf_dir, "events"), "user_id", top_n=20)
