"""UDF registration surface (§2.10) + ML façade (§2.13) smoke tests."""

from __future__ import annotations

import pyspark.sql.functions as F

from flink_1_6_0_spark.functions.udf import register_scalar_function, table_function
from flink_1_6_0_spark.operators.correlate import join_lateral


def test_register_scalar_function_vectorized(spark):
    register_scalar_function(spark, "double_it_v", lambda x: x * 2, "long")
    got = spark.sql("SELECT double_it_v(id) AS d FROM range(3)").collect()
    assert [r["d"] for r in got] == [0, 2, 4]


def test_table_function_lateral(spark):
    dup = table_function(lambda s: [(w, len(w)) for w in s.split()], "word string, wlen int")
    df = spark.createDataFrame([(1, "a bb ccc")], "id long, s string")
    out = join_lateral(df, dup(F.col("s")), ["word", "wlen"], keep=["id"])
    assert {(r.id, r.word, r.wlen) for r in out.collect()} == {(1, "a", 1), (1, "bb", 2), (1, "ccc", 3)}


def test_table_function_outer_keeps_empty(spark):
    dup = table_function(lambda s: [(w,) for w in s.split()], "word string")
    df = spark.createDataFrame([(1, "x"), (2, "")], "id long, s string")
    out = join_lateral(df, dup(F.col("s")), ["word"], keep=["id"], outer=True)
    assert {(r.id, r.word) for r in out.collect()} == {(1, "x"), (2, None)}


def test_table_function_parameterized_type_keeps_field_names(spark):
    """A ``decimal(10,2)`` field's inner comma must not split the row schema:
    the field after it keeps its own name and value on the vectorized path."""
    from decimal import Decimal

    split = table_function(
        lambda s: [(Decimal(w.split(":")[1]), w.split(":")[0]) for w in s.split()],
        "amount decimal(10,2), tag string",
    )
    df = spark.createDataFrame([(1, "a:1.25 b:20.50")], "id long, s string")
    out = join_lateral(df, split(F.col("s")), ["amount", "tag"], keep=["id"])
    assert {(r.id, r.amount, r.tag) for r in out.collect()} == {
        (1, Decimal("1.25"), "a"),
        (1, Decimal("20.50"), "b"),
    }


def test_ml_facade_scaler_and_split(spark):
    from pyspark.ml.linalg import Vectors

    from flink_1_6_0_spark.operators.ml import splitter, standard_scaler

    df = spark.createDataFrame(
        [(Vectors.dense([1.0]),), (Vectors.dense([3.0]),), (Vectors.dense([5.0]),)], ["features"]
    )
    scaled = standard_scaler(df, "features")
    assert "scaled" in scaled.columns and scaled.count() == 3
    a, b = splitter(spark.range(100), [0.5, 0.5])
    assert a.count() + b.count() == 100


def test_knn_join_exact(spark):
    from flink_1_6_0_spark.operators.ml import knn_join

    train = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [5.0, 5.0])], "id long, vec array<double>"
    )
    test = spark.createDataFrame([(10, [0.1, 0.0])], "id long, vec array<double>")
    got = [(r.train_id, round(r.dist, 3)) for r in
           knn_join(train, test, k=2).orderBy("dist").collect()]
    assert got == [(1, 0.1), (2, 0.9)]


def test_sos_outlier_flags_isolated_point(spark):
    from flink_1_6_0_spark.operators.ml import sos_outlier

    # tight cluster at origin + one far point: far point gets the top score
    pts = [(i, [float(i) * 0.01, 0.0]) for i in range(5)] + [(99, [10.0, 10.0])]
    df = spark.createDataFrame(pts, "id long, vec array<double>")
    got = {r.id: r.outlier_prob for r in sos_outlier(df, perplexity=2.0).collect()}
    assert max(got, key=got.get) == 99
    assert got[99] > 0.8


def test_knn_join_matches_numpy_bruteforce(spark):
    import numpy as np

    from flink_1_6_0_spark.operators.ml import knn_join

    rng = np.random.default_rng(7)
    train = rng.standard_normal((30, 4)).round(3)
    test = rng.standard_normal((5, 4)).round(3)
    train_df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(train)], "id long, vec array<double>"
    )
    test_df = spark.createDataFrame(
        [(100 + i, [float(x) for x in row]) for i, row in enumerate(test)], "id long, vec array<double>"
    )
    got = {
        (r.test_id, r.train_id)
        for r in knn_join(train_df, test_df, k=3).collect()
    }
    want = set()
    for i, q in enumerate(test):
        d = np.sqrt(((train - q) ** 2).sum(axis=1))
        order = np.lexsort((np.arange(len(train)), d))  # ties by train id
        want |= {(100 + i, int(j)) for j in order[:3]}
    assert got == want


def test_ann_recall_matches_numpy_reference(spark):
    """ann_recall_at_k vs a brute-force numpy replication of both the exact
    and LSH sides (same hyperplanes, same rounding, same tie-breaks)."""
    import numpy as np

    from flink_1_6_0_spark.pipeline import similarity as sim

    rng = np.random.default_rng(7)
    dim, n, k, bits = 8, 40, 5, 3
    vecs = rng.standard_normal((n, dim))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter("vec_id % 10 = 0")  # 4 query points

    got = {
        r["qid"]: (r["n_exact"], r["n_hit"], r["recall"])
        for r in sim.ann_recall_at_k(
            df, queries, "vec_id", "embedding", "vec_id", "embedding",
            k=k, dim=dim, bits=bits, seed=42,
        ).collect()
    }

    planes = sim.hyperplanes(dim, bits, seed=42)
    sigs = [sum(1 << j for j in range(bits) if float(planes[j] @ v) > 0) for v in vecs]

    def topk(qi, candidates):
        qv = vecs[qi]
        scored = [
            (round(float(vecs[i] @ qv / (np.linalg.norm(vecs[i]) * np.linalg.norm(qv))), 4), i)
            for i in candidates
        ]
        scored.sort(key=lambda t: (-t[0], t[1]))
        return [i for _, i in scored[:k]]

    for qi in range(0, n, 10):
        exact = topk(qi, range(n))
        approx = topk(qi, [i for i in range(n) if sigs[i] == sigs[qi]])
        n_hit = len(set(exact) & set(approx))
        assert got[qi] == (k, n_hit, round(n_hit / k, 4)), qi
    # sanity: the query point itself is always its own nearest neighbor
    assert all(g[0] == k for g in got.values())


def test_pca_matches_numpy_reference(spark):
    """Distributed Gram + driver eigh must reproduce plain numpy PCA
    (same centering, same sign convention) to float tolerance."""
    import numpy as np

    from flink_1_6_0_spark.pipeline import similarity as sim

    rng = np.random.default_rng(11)
    n, dim, k = 60, 6, 2
    base = rng.standard_normal((n, 2)) @ rng.standard_normal((2, dim))  # rank-2 + noise
    X = base + 0.01 * rng.standard_normal((n, dim)) + rng.standard_normal(dim)
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)], "vec_id long, embedding array<double>"
    )

    got = {r["vec_id"]: (r["pc1"], r["pc2"]) for r in
           sim.pca_project(df, "vec_id", "embedding", dim=dim, k=k).collect()}

    mu = X.mean(axis=0)
    cov = np.cov(X - mu, rowvar=False, ddof=1)
    w, v = np.linalg.eigh(cov)
    comps = v[:, np.argsort(w)[::-1][:k]].T
    for i in range(k):  # same sign fix as the operator
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i][j] < 0:
            comps[i] = -comps[i]
    proj = (X - mu) @ comps.T
    for i in range(n):
        assert abs(got[i][0] - round(proj[i, 0], 4)) <= 1e-3, i
        assert abs(got[i][1] - round(proj[i, 1], 4)) <= 1e-3, i


def test_multitable_lsh_candidates_superset(spark, sf_dir):
    """OR-ing more hash tables only ADDS candidates: table-0's bucket matches
    are a subset of the 3-table candidate set, and every returned score
    agrees with the exact kernel."""
    import pyspark.sql.functions as F

    from flink_1_6_0_spark.pipeline import similarity as sim
    from flink_1_6_0_spark.queries import T

    emb = T(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    one = {r["vec_id"] for r in
           sim.lsh_ann_topk(emb, "vec_id", "embedding", qv, 1000, bits=8, seed=42).collect()}
    multi = {r["vec_id"]: r["score"] for r in
             sim.lsh_multitable_topk(emb, "vec_id", "embedding", qv, 1000, bits=8,
                                     tables=3, seed=42).collect()}
    assert one <= set(multi)
    exact = {r["vec_id"]: r["score"] for r in
             sim.cosine_topk(emb, "vec_id", "embedding", qv, 1000).collect()}
    for vid, s in multi.items():
        assert exact[vid] == s


def test_topk_per_query_salt_invariant(spark):
    """The two-phase salted top-k must return IDENTICAL (qid, id, score,
    rank) rows for any salt — the salting exists for parallelism only."""
    import numpy as np

    from flink_1_6_0_spark.pipeline import similarity as sim

    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((50, 5))
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    q = df.filter("vec_id < 3")
    outs = []
    for salt in (1, 7, 64):
        rows = sim.topk_per_query(
            df, q, "vec_id", "embedding", "vec_id", "embedding", k=5, salt=salt
        ).collect()
        outs.append(sorted((r["qid"], r["rank"], r["id"], r["score"]) for r in rows))
    assert outs[0] == outs[1] == outs[2]
    assert len(outs[0]) == 15  # 3 qids x k


def test_quality_classifier_separates_weak_labels(spark, sf_dir):
    """The trained linear model must reproduce its (linearly-generated) weak
    labels almost perfectly on the training corpus — a sanity floor, not a
    generalization claim."""
    from flink_1_6_0_spark.operators.ml import quality_classifier
    from flink_1_6_0_spark.queries import T

    out = quality_classifier(T(spark, sf_dir, "documents")).collect()
    assert len(out) == 500
    acc = sum(1 for r in out if r["label"] == r["prediction"]) / len(out)
    assert acc >= 0.9, acc


def test_quality_classifier_gd_learns_a_real_boundary(spark, sf_dir):
    """The exact-GD twin must not collapse to the base rate: class weighting
    is there so the 8%-minority negatives are all caught (TNR 1.0 measured
    at every SF) while keeping TPR high. Assert both classes predicted and
    accuracy beats always-positive."""
    from flink_1_6_0_spark.operators.ml import quality_classifier_gd
    from flink_1_6_0_spark.queries import T

    out = quality_classifier_gd(T(spark, sf_dir, "documents")).collect()
    assert len(out) == 500
    npos = sum(1 for r in out if r["label"] == 1.0)
    nneg = len(out) - npos
    tn = sum(1 for r in out if r["label"] == 0.0 and r["prediction"] == 0.0)
    tp = sum(1 for r in out if r["label"] == 1.0 and r["prediction"] == 1.0)
    assert nneg > 0  # corpus really is imbalanced, not degenerate
    assert tn / nneg == 1.0  # every weak-label negative caught
    assert tp / npos >= 0.85
    # balanced accuracy is the honest score under class weighting (raw
    # accuracy can legitimately dip under the 95% base rate here)
    assert (tn / nneg + tp / npos) / 2 >= 0.9


def test_ivf_kmeans_scores_agree_with_exact(spark, sf_dir):
    """Every candidate the trained-centroid IVF returns must carry the exact
    kernel's cosine for that id (probing only prunes; it never rescores)."""
    from flink_1_6_0_spark.pipeline import similarity as sim
    from flink_1_6_0_spark.queries import T

    emb = T(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    exact = {r["vec_id"]: r["score"] for r in
             sim.cosine_topk(emb, "vec_id", "embedding", qv, 1000).collect()}
    got = sim.ivf_kmeans_topk(emb, "vec_id", "embedding", qv, 10).collect()
    assert 0 < len(got) <= 10
    for r in got:
        assert exact[r["vec_id"]] == r["score"]
    # the query point itself lives in the probed cell (its nearest centroid
    # is by definition among the closest to it)
    assert got[0]["vec_id"] == 0 and got[0]["score"] == 1.0


def test_ivf_kmeans_exact_lloyd_properties(spark, sf_dir):
    """The exact-deterministic Lloyd IVF: (a) candidates carry true exact
    cosines (probing prunes, never rescores), (b) the query point's own cell
    is probed, (c) two runs are identical row-for-row (the determinism the
    oracle check relies on)."""
    from flink_1_6_0_spark.pipeline import similarity as sim
    from flink_1_6_0_spark.queries import T

    emb = T(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    exact = {r["vec_id"]: r["score"] for r in
             sim.cosine_topk(emb, "vec_id", "embedding", qv, 1000).collect()}
    a = sim.ivf_kmeans_exact_topk(emb, "vec_id", "embedding", qv, 10).collect()
    b = sim.ivf_kmeans_exact_topk(emb, "vec_id", "embedding", qv, 10).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert 0 < len(a) <= 10
    for r in a:
        assert exact[r["vec_id"]] == r["score"]
    assert a[0]["vec_id"] == 0 and a[0]["score"] == 1.0


def test_polynomial_features_reference_order(spark):
    # PolynomialFeatures.scala:32 — (x, y) at degree 3 → (x³, x²y, xy², y³,
    # x², xy, y², x, y); exercised with (2, 3).
    from flink_1_6_0_spark.operators.ml import polynomial_features

    df = spark.createDataFrame([(1, [2.0, 3.0])], "id long, v array<double>")
    out = polynomial_features(df, "v", dim=2, degree=3).collect()[0]["poly"]
    assert out == [8.0, 12.0, 18.0, 27.0, 4.0, 6.0, 9.0, 2.0, 3.0]


def test_cosine_zero_norm_null_not_crash(spark):
    """A zero-norm embedding yields a NULL score instead of an ANSI
    DIVIDE_BY_ZERO that sinks the whole job (review finding)."""
    from flink_1_6_0_spark.pipeline import similarity as sim

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    rows = sim.cosine_topk(df, "vec_id", "embedding", [1.0, 0.0], 5).collect()
    got = {r["vec_id"]: r["score"] for r in rows}
    assert got[1] == 1.0
    assert got.get(2) is None  # NULL score, ordered last — never a crash


def test_lsh_query_signature_matches_engine_for_identical_vector(spark):
    """The query's own vector must land in the query's bucket: driver-side
    and engine-side signatures accumulate in the same order (review
    finding — np.dot's pairwise summation could flip a near-zero sign)."""
    import numpy as np

    from flink_1_6_0_spark.pipeline.similarity import (
        _query_signature,
        hyperplanes,
        lsh_signature,
    )

    rng = np.random.default_rng(7)
    qv = [float(x) for x in rng.standard_normal(16)]
    planes = hyperplanes(16, 8, seed=3)
    df = spark.createDataFrame([(1, qv)], "id long, v array<double>")
    engine_sig = df.select(lsh_signature(F.col("v"), planes).alias("s")).first()["s"]
    assert _query_signature(planes, qv) == engine_sig


def test_pca_power_matches_eigh_on_gapped_spectrum(spark):
    """pca_project_power (r12 hash-checkable path): on a spectrum with a
    REAL eigengap the 16-step fixed-point deflated power iteration must
    agree with numpy eigh PCA to quantization tolerance; on any data its
    two directions must be near-orthogonal with near-top Rayleigh
    quotients (the declared semantics for degenerate spectra)."""
    import numpy as np

    from flink_1_6_0_spark.pipeline import similarity as sim

    rng = np.random.default_rng(7)
    n, dim = 80, 6
    # strong rank-2 structure => large gaps lambda1 >> lambda2 >> rest
    a = rng.standard_normal(dim); a /= np.linalg.norm(a)
    b = rng.standard_normal(dim); b -= (b @ a) * a; b /= np.linalg.norm(b)
    X = (
        np.outer(3.0 * rng.standard_normal(n), a)
        + np.outer(1.5 * rng.standard_normal(n), b)
        + 0.05 * rng.standard_normal((n, dim))
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    got = {r["vec_id"]: (r["pc1"], r["pc2"]) for r in
           sim.pca_project_power(df, "vec_id", "embedding", dim=dim, k=2).collect()}

    mu = X.mean(axis=0)
    cov = np.cov(X - mu, rowvar=False, ddof=1)
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1]
    comps = v[:, order[:2]].T
    for i in range(2):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i][j] < 0:
            comps[i] = -comps[i]
    proj = (X - mu) @ comps.T
    for i in range(n):
        assert abs(got[i][0] - proj[i, 0]) <= 5e-3, i
        assert abs(got[i][1] - proj[i, 1]) <= 5e-3, i

    # degenerate-spectrum contract: orthogonal, near-top Rayleigh quotients
    n2, S, G = sim._int_moments(df, "embedding", dim, sim.PCA_QX)
    M = [[n2 * G[i][j] - S[i] * S[j] for j in range(dim)] for i in range(dim)]
    w1 = np.array(sim._power_iterate(M, sim.PCA_QW, sim.PCA_ITERS), dtype=float)
    w2 = np.array(
        sim._power_iterate(M, sim.PCA_QW, sim.PCA_ITERS,
                           deflate=sim._power_iterate(M, sim.PCA_QW, sim.PCA_ITERS)),
        dtype=float,
    )
    w1 /= np.linalg.norm(w1); w2 /= np.linalg.norm(w2)
    assert abs(w1 @ w2) < 1e-4
    lam = np.sort(w)[::-1]
    assert w1 @ cov @ w1 >= 0.95 * lam[0]
    assert w2 @ cov @ w2 >= 0.95 * lam[1]


def test_ml_transform_survives_observation(spark, sf_dir):
    """Spark 4.1.2 session-poisoning pin: once any pyspark.sql.Observation
    completes in a session, collecting a plan that still carries the ml
    prediction UDF dies in closure cleaning (NotSerializableException:
    ObservationManager). quality_classifier therefore scores with the
    extracted coefficient vector as Column math — this test runs it AFTER
    an observation to keep the regression from coming back (it was the one
    red test in two full-suite runs: test_accumulator_iterative_golden runs
    first alphabetically and completes observations)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Observation

    from flink_1_6_0_spark.operators.ml import quality_classifier
    from flink_1_6_0_spark.queries import T

    obs = Observation("poison_pin")
    spark.range(10).observe(obs, F.count(F.lit(1)).alias("n")).collect()
    assert obs.get["n"] == 10

    out = quality_classifier(T(spark, sf_dir, "documents")).collect()
    assert len(out) == 500
    acc = sum(1 for r in out if r["label"] == r["prediction"]) / len(out)
    assert acc >= 0.9, acc


def test_semantic_dedup_ml_agrees_with_exact(spark):
    """The SemDeDup production assigner (pyspark.ml kmeans||) and the
    oracle-checked exact-Lloyd assigner agree on GAPPED clusters: identical
    cluster partitions (up to label renaming) and identical kept flags.
    Three well-separated unit directions in 8-dim, ids interleaved so the
    exact path's lowest-id Forgy init seeds one centroid per true cluster."""
    import random

    from flink_1_6_0_spark.pipeline.similarity import semantic_dedup

    rng = random.Random(7)
    dirs = [
        [1.0, 0, 0, 0, 0, 0, 0, 0],
        [0, 0, 0, 1.0, 0, 0, 0, 0],
        [0, 0, 0, 0, 0, 0, 1.0, 0],
    ]
    rows = []
    for i in range(30):
        base = dirs[i % 3]
        vec = [x * 10.0 + rng.uniform(-0.05, 0.05) for x in base]
        rows.append((i, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def run(assigner):
        out = semantic_dedup(
            df, "vec_id", "embedding", tau=0.995, dim=8, n_centroids=3,
            assigner=assigner,
        ).collect()
        part = {}
        kept = {}
        for r in out:
            part.setdefault(r["cid"], set()).add(r["vec_id"])
            kept[r["vec_id"]] = r["kept"]
        return set(frozenset(s) for s in part.values()), kept

    p_exact, k_exact = run("exact")
    p_ml, k_ml = run("ml")
    assert p_exact == p_ml  # same partition up to cid relabeling
    assert k_exact == k_ml
    # non-vacuous: every cluster keeps exactly its lowest-id representative
    # (jitter is tiny, so all within-cluster cosines clear tau)
    assert sorted(k_exact.values()).count(1) == 3
    for grp in p_exact:
        assert k_exact[min(grp)] == 1


def test_emb_cap_gate_spark_duckdb_identical_subset(spark, sf_dir, duck, monkeypatch):
    """r15 (r14 verdict task 6): when the EMB_CAP gate ENGAGES (n > cap),
    both engines must keep the bit-identical vec_id subset — the whole
    premise of slice-gating the two O(n²) queries at the x10 tier. Forced
    here by shrinking the cap below the tier's row count (the registered
    oracles embed the real cap; this pins the gate SPELLING equivalence)."""
    import flink_1_6_0_spark.queries as Q
    from flink_1_6_0_spark.queries import T, emb_cap_pred_sql, emb_capped

    monkeypatch.setattr(Q, "EMB_CAP", 100)
    emb = T(spark, sf_dir, "embeddings")
    n = emb.count()
    assert n > 100  # the gate must actually engage
    got = sorted(
        r["vec_id"] for r in emb_capped(emb, "semcap").select("vec_id").collect()
    )
    want = sorted(
        r[0]
        for r in duck.sql(
            f"SELECT vec_id FROM embeddings WHERE {emb_cap_pred_sql('semcap')}"
        ).fetchall()
    )
    assert 0 < len(got) < n
    assert got == want
