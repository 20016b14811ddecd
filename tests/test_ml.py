"""Differential ML tests vs single-node numpy oracles, using the
reference's tolerances: scalar rel-err ≤ 0.005 (``Utils.scala:176``),
matrix/vector element-wise ≤ 1e-6 with |·| sign tolerance
(``Utils.scala:231-253``), exact set equality for patterns
(``PrefixSpanRunner.scala:167-174``), top-k containment for KNN
(``KNNRunner.scala:181-218``)."""

from __future__ import annotations

import numpy as np
import pytest

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def cat(spark):
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog

    return Catalog(spark, SF_SMOKE)


@pytest.fixture(scope="module")
def emb(cat):
    rows = cat.embeddings.orderBy("vec_id").collect()
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    y = np.array([r["label"] for r in rows])
    ids = np.array([r["vec_id"] for r in rows])
    return ids, X, y


def test_linreg_matches_numpy_lstsq(cat):
    from spark_ml_algo_lib_master_tongji_spark.operators.ml_estimators import (
        ml_est_linreg,
    )

    li = cat.lineitem.select(
        "l_quantity", "l_discount", "l_tax", "l_extendedprice"
    ).collect()
    A = np.array(
        [[1.0, r["l_quantity"], r["l_discount"], r["l_tax"]] for r in li]
    )
    b = np.array([r["l_extendedprice"] for r in li])
    beta = np.linalg.lstsq(A, b, rcond=None)[0]

    got = ml_est_linreg(cat).collect()[0]
    want = [beta[0], beta[1], beta[2], beta[3]]
    have = [got["intercept"], got["b_quantity"], got["b_discount"], got["b_tax"]]
    for w, h in zip(want, have):
        assert abs(w - h) <= 0.005 * max(1.0, abs(w)), (want, have)


def test_linreg_single_feature_matches_exact_ols(cat):
    """spark.ml normal-equation solver vs the closed-form ml_exact OLS."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression

    from spark_ml_algo_lib_master_tongji_spark.operators.ml_exact import (
        ml_linreg_ols,
    )

    df = VectorAssembler(
        inputCols=["l_quantity"], outputCol="features"
    ).transform(cat.lineitem.select("l_quantity", "l_extendedprice"))
    m = LinearRegression(
        solver="normal", regParam=0.0, labelCol="l_extendedprice"
    ).fit(df)
    exact = ml_linreg_ols(cat).collect()[0]
    assert abs(float(m.coefficients[0]) - exact["slope"]) <= 0.005 * abs(
        exact["slope"]
    )
    assert abs(float(m.intercept) - exact["intercept"]) <= 0.005 * abs(
        exact["intercept"]
    )


def test_pca_explained_variance_matches_numpy(cat, emb):
    from spark_ml_algo_lib_master_tongji_spark.operators.ml_estimators import (
        ml_est_pca,
    )

    _, X, _ = emb
    Xc = X - X.mean(axis=0)
    cov = (Xc.T @ Xc) / (len(X) - 1)
    eig = np.sort(np.linalg.eigvalsh(cov))[::-1]
    ratios = eig / eig.sum()

    got = {r["component"]: r["explained_variance"] for r in ml_est_pca(cat).collect()}
    for i in range(4):
        assert abs(got[i] - ratios[i]) <= 0.005 * max(1e-9, abs(ratios[i]))


def test_svd_singular_values_match_numpy(cat, emb):
    from spark_ml_algo_lib_master_tongji_spark.operators.ml_estimators import (
        ml_est_svd,
    )

    _, X, _ = emb
    s = np.linalg.svd(X, compute_uv=False)
    got = {r["component"]: r["singular_value"] for r in ml_est_svd(cat).collect()}
    for i in range(5):
        assert abs(got[i] - s[i]) <= 0.005 * abs(s[i])


def test_covariance_matches_numpy(cat):
    from spark_ml_algo_lib_master_tongji_spark.operators.ml_estimators import (
        ml_est_covariance,
    )

    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    rows = cat.lineitem.select(*cols).collect()
    M = np.array([[r[c] for c in cols] for r in rows])
    cov = np.cov(M, rowvar=False)  # sample covariance, ddof=1 like mllib
    got = {(r["i"], r["j"]): r["cov"] for r in ml_est_covariance(cat).collect()}
    # mllib computes cov via E[xy] − E[x]E[y] (cancellation-prone), so
    # tolerate relative to the column scales sqrt(var_i·var_j), not the
    # (possibly near-zero) entry itself.
    for i in range(4):
        for j in range(4):
            scale = max(1e-6, np.sqrt(cov[i][i] * cov[j][j]))
            # +5e-5: the operator rounds its output to 4 decimals.
            assert abs(got[(i, j)] - cov[i][j]) <= 0.005 * scale + 5e-5


def test_knn_classifier_matches_numpy_brute_force(cat, emb):
    from spark_ml_algo_lib_master_tongji_spark.operators.ml_exact import (
        KNN_K,
        KNN_QUERY_MOD,
        ml_knn_classifier,
    )

    ids, X, y = emb
    qmask = ids % KNN_QUERY_MOD == 0
    got = {r["qid"]: r["predicted"] for r in ml_knn_classifier(cat).collect()}
    for qi in np.where(qmask)[0]:
        d2 = ((X[~qmask] - X[qi]) ** 2).sum(axis=1)
        order = np.lexsort((ids[~qmask], d2.round(6)))[:KNN_K]
        votes = y[~qmask][order]
        vals, counts = np.unique(votes, return_counts=True)
        pred = vals[counts == counts.max()].min()
        assert got[ids[qi]] == pred, f"query {ids[qi]}"


def test_kmeans_exact_partitions_all_points(cat, emb):
    from spark_ml_algo_lib_master_tongji_spark.operators.ml_exact import (
        KMEANS_K,
        ml_kmeans_lloyd_sizes,
    )

    ids, _, _ = emb
    sizes = ml_kmeans_lloyd_sizes(cat).collect()
    assert sum(r["n"] for r in sizes) == len(ids)
    assert len(sizes) <= KMEANS_K


def test_classifier_metrics_beat_chance(cat):
    from spark_ml_algo_lib_master_tongji_spark.operators.ml_estimators import (
        ml_est_logreg,
        ml_est_rf_classifier,
    )

    # 10-class problem: chance = 0.1. Regularized LR on raw embeddings is a
    # weak learner; RF memorizes the train set.
    for fn, floor in ((ml_est_logreg, 0.2), (ml_est_rf_classifier, 0.5)):
        acc = fn(cat).collect()[0]["accuracy"]
        assert acc > floor, fn.__name__


def test_fit_overload_surface(cat):
    """The four fit variants exercised by the reference
    (``KMeansRunner.scala:147-154``): plain, ParamMap, list-of-ParamMaps."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import functions as F

    df = cat.embeddings.select(
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    est = KMeans(k=3, maxIter=2, seed=2020)
    m1 = est.fit(df)
    m2 = est.fit(df, {est.k: 4})
    m3, m4 = est.fit(df, [{est.k: 4}, {est.k: 5, est.maxIter: 3}])
    assert len(m1.clusterCenters()) == 3
    assert len(m2.clusterCenters()) == 4
    assert [len(m3.clusterCenters()), len(m4.clusterCenters())] == [4, 5]

    # Same sweep on a supervised estimator (ParamPair-style single override
    # and the multi-map batch fit).
    from pyspark.ml.classification import LogisticRegression

    sdf = df.withColumn("label", (F.rand(seed=7) > 0.5).cast("double"))
    lr = LogisticRegression(maxIter=2)
    lm1 = lr.fit(sdf)
    lm2 = lr.fit(sdf, {lr.regParam: 0.5})
    lm3, lm4 = lr.fit(sdf, [{lr.regParam: 0.5}, {lr.regParam: 0.0, lr.maxIter: 3}])
    assert lm1.getRegParam() == 0.0
    assert lm2.getRegParam() == 0.5
    assert [lm3.getRegParam(), lm4.getRegParam()] == [0.5, 0.0]


def test_spilltree_knn_containment_rule(cat, emb):
    """The reference's KNN check (``KNNRunner.scala:181-218``): the exact
    top-(k-1) brute-force neighbors must appear in the returned set, per
    query, allowing distance ties. Multi-probe spill search must reach the
    reference's bar on the fixture."""
    from spark_ml_algo_lib_master_tongji_spark.operators.knn import (
        KNN_TOPK,
        ml_knn_spilltree,
    )

    ids, X, y = emb
    qmask = ids % 20 == 0
    got: dict[int, set] = {}
    for r in ml_knn_spilltree(cat).collect():
        got.setdefault(r["qid"], set()).add(r["nid"])

    misses = 0
    total = 0
    for qi in np.where(qmask)[0]:
        d2 = ((X[~qmask] - X[qi]) ** 2).sum(axis=1)
        order = np.argsort(d2, kind="stable")[: KNN_TOPK - 1]
        true_ids = set(ids[~qmask][order])
        total += 1
        if not true_ids <= got[ids[qi]]:
            misses += 1
    assert misses == 0, f"{misses}/{total} queries missing exact top-(k-1)"


def test_rdd_api_dispatch_matches_dataframe_api(cat):
    """The reference runs each workload through BOTH the spark.ml and mllib
    APIs (``KMeansRunner.scala:96-99``, ``PearsonRunner.scala:108-113``);
    the two arms must agree — rel ≤ 0.005 scalars, 1e-6 matrix entries
    (``Utils.scala:176,238``)."""
    from spark_ml_algo_lib_master_tongji_spark.operators.ml_estimators import (
        ml_est_kmeans,
        ml_est_kmeans_rdd,
        ml_est_pearson_rdd,
    )
    from spark_ml_algo_lib_master_tongji_spark.operators.stats import (
        stat_pearson_lineitem,
    )

    df_row = ml_est_kmeans(cat).collect()[0]
    rdd_row = ml_est_kmeans_rdd(cat).collect()[0]
    assert rdd_row["n"] == df_row["n"]
    assert abs(rdd_row["wssse"] - df_row["wssse"]) <= 0.005 * df_row["wssse"]

    wide = stat_pearson_lineitem(cat).collect()[0].asDict()
    long = {(r["i"], r["j"]): r["corr"] for r in ml_est_pearson_rdd(cat).collect()}
    names = ["quantity", "extendedprice", "discount", "tax"]
    for i in range(4):
        for j in range(i + 1, 4):
            # wide side rounds to 4 decimals; rdd side to 6
            assert abs(long[(i, j)] - wide[f"corr_{names[i]}_{names[j]}"]) <= 5.1e-5


def test_mllib_rdd_arms_agree_with_dataframe_arms(cat):
    """The five round-2 mllib RDD dispatch arms (``DTRunner.scala:377-382``,
    ``GBDTRunner.scala:271-289``, ``ALSRunner.scala:252-254``,
    ``LDARunner.scala:248-254``, ``PCARunner.scala:218-223``): each must
    produce a sane metric of the same shape as its DataFrame twin. The
    tree/ALS arms train on a seeded 20% sample (API-parity, not
    throughput), so the agreement bars are behavioral, not bit-level;
    PCA trains on the full input and its spectrum must match the DF arm."""
    from spark_ml_algo_lib_master_tongji_spark.operators.ml_estimators import (
        ml_est_als_rdd,
        ml_est_dt_rdd,
        ml_est_gbdt_rdd,
        ml_est_lda_rdd,
        ml_est_pca,
        ml_est_pca_rdd,
    )

    n_total = cat.embeddings.count()
    for fn, floor in ((ml_est_dt_rdd, 0.5), (ml_est_gbdt_rdd, 0.5)):
        row = fn(cat).collect()[0]
        # binary problem, trees memorize most of their train sample
        assert row["accuracy"] > floor, fn.__name__
        assert 0 < row["n"] < n_total  # sampled input, not the full fixture

    als = ml_est_als_rdd(cat).collect()[0]
    assert als["mse"] >= 0.0 and als["users"] > 0 and als["items"] > 0

    lda = ml_est_lda_rdd(cat).collect()[0]
    assert lda["k"] == 5 and lda["vocab"] > 0 and lda["topics_ok"]

    df_spec = {r["component"]: r["explained_variance"] for r in ml_est_pca(cat).collect()}
    rdd_spec = {
        r["component"]: r["explained_variance"] for r in ml_est_pca_rdd(cat).collect()
    }
    assert set(df_spec) == set(rdd_spec)
    for c in df_spec:
        assert abs(df_spec[c] - rdd_spec[c]) <= 1e-4, (c, df_spec[c], rdd_spec[c])


def test_ivf_recall_vs_exact_search(cat):
    """IVF approximate search must reach a measured recall floor against
    the exact two-phase search on the fixture — the worst case (near-
    uniform 64-d embeddings), so the bar is modest; clustered data recalls
    far higher at the same probe count."""
    from spark_ml_algo_lib_master_tongji_spark.operators.knn import (
        ml_knn_spilltree,
        sim_ivf_topk,
    )

    exact: dict[int, set] = {}
    for r in ml_knn_spilltree(cat).collect():
        exact.setdefault(r["qid"], set()).add(r["nid"])
    approx: dict[int, set] = {}
    for r in sim_ivf_topk(cat).collect():
        approx.setdefault(r["qid"], set()).add(r["nid"])

    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    recall = hits / total
    assert recall >= 0.35, f"recall {recall:.2f}"


def test_semdedup_k_policy_and_scaled_lloyd(cat):
    """k ∝ n (SemDeDup's operating point, round-6): the cluster count must
    track corpus size with mean cluster size pinned at TARGET, collapse to
    KMEANS_K on the 500-point oracle fixture (hash stability), and the
    parameterized Lloyd loop must honor a non-default k."""
    from spark_ml_algo_lib_master_tongji_spark.operators.dedup import (
        SEMDEDUP_TARGET_CLUSTER_SIZE,
        semdedup_k,
    )
    from spark_ml_algo_lib_master_tongji_spark.operators.ml_exact import (
        KMEANS_K,
        kmeans_lloyd,
    )

    assert semdedup_k(500) == KMEANS_K  # oracle fixture → shared derivation
    assert semdedup_k(0) == 1 and semdedup_k(1) == 1
    for n in (2_000, 50_000, 10_000_000):
        k = semdedup_k(n)
        mean = n / k
        assert 0.5 * SEMDEDUP_TARGET_CLUSTER_SIZE <= mean <= 2 * SEMDEDUP_TARGET_CLUSTER_SIZE, (n, k)

    got = kmeans_lloyd(cat, k=3)
    cids = {r["cid"] for r in got.select("cid").distinct().collect()}
    assert 1 <= len(cids) <= 3
    # non-default k must NOT alias the shared KMEANS_K derivation
    default_cids = {
        r["cid"] for r in kmeans_lloyd(cat).select("cid").distinct().collect()
    }
    assert len(default_cids) > len(cids)


def test_kmeans_assign_arms_agree(cat):
    """The Arrow-batched assign kernel (centers broadcast, seq-fold d²,
    argmin) must reproduce the relational crossJoin+window arm
    bit-for-bit — same sequential-fold arithmetic, same 6-decimal half-up
    rounding, same smaller-cid tie-break. The driver's oracle row covers
    the dispatched kernel arm; this pins the past-the-ceiling fallback to
    the same answer."""
    from pyspark.sql import functions as F

    from spark_ml_algo_lib_master_tongji_spark.operators import ml_exact

    points = ml_exact._points(cat).cache()
    points.count()
    centers = (
        points.orderBy("vec_id")
        .limit(ml_exact.KMEANS_K)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("c"))
    )
    for _ in range(ml_exact.KMEANS_ITERS):
        assign = ml_exact._kmeans_assign(points, centers)
        centers = ml_exact._kmeans_update(assign)
    rel = sorted(
        (r["vec_id"], r["cid"])
        for r in ml_exact._kmeans_assign(points, centers)
        .select("vec_id", "cid")
        .collect()
    )
    kern = sorted(
        (r["vec_id"], r["cid"])
        for r in ml_exact._kmeans_lloyd_build(cat, ml_exact.KMEANS_K).collect()
    )
    points.unpersist(blocking=False)
    assert rel == kern
    assert len(kern) > 0


def test_kmeans_ivf_assign_exact_when_all_cells_probed(cat):
    """Two-level (IVF) assign with n_probes ≥ n_cells considers every
    center, so it must be bit-identical to the flat exact kernel; a full
    forced-IVF Lloyd build (gate down to 1) must equal the shared exact
    build when the default probe budget covers every coarse cell (⌈√k⌉ ≤
    LLOYD_IVF_NPROBES — true at fixture k, where the arm degenerates to
    exact)."""
    from spark_ml_algo_lib_master_tongji_spark.operators import ml_exact

    pts = ml_exact._points_shared(cat)
    exact = ml_exact.kmeans_lloyd(cat)  # builds + memoizes final centers
    from spark_ml_algo_lib_master_tongji_spark.operators.graph import (
        _OBJ_CACHE,
        _cache_key,
    )

    cids, cmat = _OBJ_CACHE[_cache_key(cat, f"kmeans_centers_k{ml_exact.KMEANS_K}")]
    flat, b1 = ml_exact._kmeans_assign_np(pts, cids, cmat)
    ivf, b2 = ml_exact._kmeans_assign_ivf(pts, cids, cmat, 10**9)
    want = sorted((r["vec_id"], r["cid"]) for r in flat.collect())
    got = sorted((r["vec_id"], r["cid"]) for r in ivf.collect())
    b1.destroy(blocking=False)
    b2.destroy(blocking=False)
    assert want == got and len(got) > 0

    forced = sorted(
        (r["vec_id"], r["cid"])
        for r in ml_exact._kmeans_lloyd_build(
            cat, ml_exact.KMEANS_K, ivf_min_centers=1
        ).collect()
    )
    shared = sorted((r["vec_id"], r["cid"]) for r in exact.collect())
    assert forced == shared

    # quality scalar: defined, in [0, 1], and 1.0 whenever every cell fits
    # the probe budget (the bench regression pin reads this value)
    agreement = ml_exact.lloyd_ivf_agreement(cat)
    assert 0.0 <= agreement <= 1.0
    assert agreement == 1.0


def test_kmeans_ivf_assign_low_probe_budget_quality(cat):
    """At a deliberately starved probe budget (1 cell) the arm stays a
    valid assignment (every point labeled with a real center id) and
    agreement with exact is bounded below — the recall-style contract of
    the approximate scale arm."""
    from spark_ml_algo_lib_master_tongji_spark.operators import ml_exact

    pts = ml_exact._points_shared(cat)
    ml_exact.kmeans_lloyd(cat)
    from spark_ml_algo_lib_master_tongji_spark.operators.graph import (
        _OBJ_CACHE,
        _cache_key,
    )

    cids, cmat = _OBJ_CACHE[_cache_key(cat, f"kmeans_centers_k{ml_exact.KMEANS_K}")]
    flat, b1 = ml_exact._kmeans_assign_np(pts, cids, cmat)
    ivf, b2 = ml_exact._kmeans_assign_ivf(pts, cids, cmat, 1)
    a = {r["vec_id"]: r["cid"] for r in flat.collect()}
    b = {r["vec_id"]: r["cid"] for r in ivf.collect()}
    b1.destroy(blocking=False)
    b2.destroy(blocking=False)
    assert set(b) == set(a)
    assert set(b.values()) <= set(cids)
    agree = sum(1 for k in a if a[k] == b[k]) / len(a)
    assert agree >= 0.5, agree  # 1-of-⌈√k⌉ cells on isotropic data


def test_anchor_fits_are_shared_with_rows_only_twins(spark):
    """Round-11 verdict item 5 (anchor-load sharing audit): the
    clf/reg anchor rows fit each estimator family ONCE per session via
    the shared derivation stores; their rows-only twins must consume the
    SAME cached fits — running the twins after the anchors may add ZERO
    new derivations (a second fit would register a new cache key and a
    second load_timer entry in bench's loads table)."""
    from spark_ml_algo_lib_master_tongji_spark.operators import graph, ml_estimators as m
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog
    from tests.conftest import SF_SMOKE

    cat = Catalog(spark, SF_SMOKE)
    m.ml_est_clf_acc_anchors(cat).collect()
    m.ml_est_reg_rmse_anchors(cat).collect()
    keys_after_anchors = set(graph._DERIV_CACHE) | set(graph._OBJ_CACHE)
    for twin in (
        m.ml_est_dt_classifier,
        m.ml_est_rf_classifier,
        m.ml_est_gbt_classifier,
        m.ml_est_gbt_pipeline,
        m.ml_est_svc,
        m.ml_est_logreg_bounded,
        m.ml_est_dt_regressor,
        m.ml_est_rf_regressor,
        m.ml_est_gbt_regressor,
    ):
        twin(cat).collect()
    keys_after_twins = set(graph._DERIV_CACHE) | set(graph._OBJ_CACHE)
    fresh = sorted(k[2] for k in keys_after_twins - keys_after_anchors)
    assert not fresh, f"rows-only twins re-derived after anchors: {fresh}"


def test_als_rdd_arm_reproducible(cat):
    """Round-14 verdict item 8: the ALS RDD arm's sampled input is a pure
    function of rating VALUES (hash filter + hash partitioning +
    in-partition sort), so with ``blocks`` pinned the whole fit must be
    reproducible — two invocations emit the identical row. (The former
    ``sample()`` input drifted with upstream partition splits: measured
    n 119419–120297 / mse 0.249–0.263 across identical-code runs.)"""
    from spark_ml_algo_lib_master_tongji_spark.operators.ml_estimators import (
        ml_est_als_rdd,
    )

    a = ml_est_als_rdd(cat).collect()[0]
    b = ml_est_als_rdd(cat).collect()[0]
    assert (a["mse"], a["users"], a["items"]) == (
        b["mse"],
        b["users"],
        b["items"],
    )
