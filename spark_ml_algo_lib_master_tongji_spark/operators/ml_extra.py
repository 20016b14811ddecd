"""Remaining §2.2 surface: sparse PCA, XGBoost (optional dep), and the
SQL/Hive entry path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spark_ml_algo_lib_master_tongji_spark.functions.text import tokens
from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog, spread

SPCA_VOCAB = 256
SPCA_K = 4


def _spca_coo(cat: Catalog) -> DataFrame:
    """Session-shared deterministic COO term-frequency matrix
    (doc_id, col, value) over the SPCA_VOCAB most frequent tokens
    (ties → lexicographic) — input of both the sparse-PCA fit and the
    ``ml_est_spca_energy`` trace anchor."""
    from spark_ml_algo_lib_master_tongji_spark.operators.graph import _derived

    return _derived(cat, "spca_coo", lambda: _spca_coo_build(cat))


def _spca_coo_build(cat: Catalog) -> DataFrame:
    docs = cat.documents.select("doc_id", F.explode(tokens("text")).alias("token"))
    # Distributed top-k (TakeOrderedAndProject) picks the SPCA_VOCAB head,
    # THEN the rank window runs over only those k rows — never a global
    # single-partition sort of the full distinct-token table (at corpus
    # scale the vocabulary is unbounded; the head is k by construction).
    head = (
        docs.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(SPCA_VOCAB)
    )
    vocab = head.withColumn(
        "col",
        F.row_number().over(
            Window.orderBy(F.col("n").desc(), F.col("token").asc())
        )
        - 1,
    ).select("token", "col")
    return (
        docs.join(F.broadcast(vocab), "token")
        .groupBy("doc_id", "col")
        .agg(F.count(F.lit(1)).cast("double").alias("value"))
    )


def _spca_ratios(cat: Catalog) -> list[float]:
    """Session-shared sparse-PCA fit → the SPCA_K explained-variance
    ratios (consumed by the spectrum row and the energy anchor)."""
    from spark_ml_algo_lib_master_tongji_spark.operators.graph import _derived_obj

    def build() -> list[float]:
        from pyspark.ml.feature import PCA
        from pyspark.ml.functions import array_to_vector

        assembled = _spca_coo(cat).groupBy("doc_id").agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("col", "value")))
            ).alias("cells")
        )
        # Vector assembly is pure JVM (round-4): densify the bounded
        # SPCA_VOCAB-wide row with builtin map/sequence expressions and
        # convert via ``array_to_vector`` — whole-stage-codegen'd, no
        # Python serialization at all (the former row-at-a-time Python
        # UDF built one SparseVector per doc through pickle; a pandas_udf
        # cannot return VectorUDT over Arrow, and at a *fixed* 256-wide
        # vocabulary the dense row is 2 KB — the sparse representation
        # only matters for unbounded vocabularies, which this head-k
        # design excludes by construction).
        vecs = spread(assembled).select(
            array_to_vector(
                F.transform(
                    F.sequence(F.lit(0), F.lit(SPCA_VOCAB - 1)),
                    lambda i: F.coalesce(
                        F.element_at(F.col("cells"), i), F.lit(0.0)
                    ),
                )
            ).alias("features")
        )
        m = PCA(k=SPCA_K, inputCol="features", outputCol="pc").fit(vecs)
        return [round(float(v), 6) for v in m.explainedVariance]

    return _derived_obj(cat, "spca_ratios", build)


def ml_est_pca_sparse(cat: Catalog) -> DataFrame:
    """Sparse PCA (SURVEY §2.2 #10): COO term-frequency input → sparse
    vectors → spark.ml PCA → (component, explained_variance).

    ``SPCARunner.scala:165-195`` runs BoostKit SPCA vs plain PCA on sparse
    COO matrices; ``PCARunner.scala:133-149`` shows the COO→sparse-vector
    assembly this mirrors. Vocabulary = the SPCA_VOCAB most frequent tokens
    (ties → lexicographic) so the matrix is deterministic."""
    rows = [(i, v) for i, v in enumerate(_spca_ratios(cat))]
    return cat.spark.createDataFrame(
        rows, "component int, explained_variance double"
    )


#: ml_est_spca_energy band: Σ of the SPCA_K explained-variance ratios —
#: the top-4 spectral mass fraction of the 256-column tf matrix
#: (measured 0.380–0.409 across sf0.001/0.01/0.1). A flat/degenerate
#: spectrum lands at k/vocab ≈ 0.016, a rank-collapsed one near 1.0 —
#: both far outside.
SPCA_MASS_BAND = (0.15, 0.7)


def ml_est_spca_energy(cat: Catalog) -> DataFrame:
    """Driver-verifiable trace anchor for the sparse-PCA family (the
    ``ml_est_pca_energy`` pattern on the COO matrix): the numeric is the
    matrix's total sample variance Σⱼ var_samp(col j) — the eigenvalue
    sum / explained-variance denominator — recomputed relationally from
    the COO aggregates (zeros contribute nothing to Σv², so the sparse
    form (Σv² − (Σv)²/n)/(n−1) needs only the stored cells; n = docs
    with ≥1 vocab token, matching the assembled row count). The seeded
    fit rides in ``est_in_band``: Σ of its SPCA_K explained-variance
    ratios within SPCA_MASS_BAND. One aggregation over the shared COO —
    no eigensolver in the oracle."""
    from spark_ml_algo_lib_master_tongji_spark.functions.rounding import (
        round_half_up,
    )

    coo = _spca_coo(cat)
    nd = coo.agg(F.count_distinct("doc_id").alias("n"))
    per = coo.groupBy("col").agg(
        F.sum(F.col("value") * F.col("value")).alias("sv2"),
        F.sum("value").alias("sv"),
    )
    row = (
        per.crossJoin(F.broadcast(nd))
        .agg(
            round_half_up(
                F.sum(
                    (F.col("sv2") - F.col("sv") * F.col("sv") / F.col("n"))
                    / (F.col("n") - 1)
                ),
                4,
            ).alias("tv")
        )
        .first()
    )
    mass = sum(_spca_ratios(cat))
    in_band = SPCA_MASS_BAND[0] <= mass <= SPCA_MASS_BAND[1]
    return cat.spark.createDataFrame(
        [(SPCA_VOCAB, float(row["tv"]), bool(in_band))],
        "vocab int, total_variance double, est_in_band boolean",
    )


def ml_est_xgboost(cat: Catalog) -> DataFrame:
    """XGBoost classification (SURVEY §2.2 #8, ``XGBTRunner.scala:163-191``)
    behind an import guard: ``xgboost.spark.SparkXGBClassifier`` when the
    optional dep is present (hist tree method like ``xgbt_x86.yml:5-17``),
    documented GBT fallback otherwise → one row (backend, accuracy, n)."""
    from spark_ml_algo_lib_master_tongji_spark.operators.ml_estimators import (
        _features,
    )

    # Shared (features, bin_label) assembly — same persisted relation the
    # rest of the estimator family trains on.
    df = _features(cat).select("features", "bin_label")
    try:
        from xgboost.spark import SparkXGBClassifier  # optional dep

        model = SparkXGBClassifier(
            features_col="features",
            label_col="bin_label",
            tree_method="hist",
            n_estimators=50,
            max_depth=5,
        ).fit(df)
        backend = "xgboost"
    except ImportError:
        from spark_ml_algo_lib_master_tongji_spark.operators.ml_estimators import (
            gbt_bin_model,
        )

        # Same seeded estimator + input as ml_est_gbt_classifier — the
        # session-shared fit serves both workloads.
        model = gbt_bin_model(cat)
        backend = "gbt-fallback"
    pred = model.transform(df)
    # accuracy + count in ONE agg job (the evaluator + separate count
    # re-scored the model twice)
    row = pred.agg(
        F.avg(
            (F.col("bin_label") == F.col("prediction")).cast("double")
        ).alias("acc"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    return cat.spark.createDataFrame(
        [(backend, round(float(row["acc"]), 4), row["n"])],
        "backend string, accuracy double, n long",
    )


def q_sql_entry_top_suppliers(cat: Catalog) -> DataFrame:
    """The SQL/Hive entry path (``PageRankHiveRunner.scala:39-40``:
    ``spark.sql(select * from $table)`` → Catalyst): fixture tables
    registered as views, the whole query expressed as a SQL string —
    top supplier per region by lineitem revenue, ranked with a window."""
    cat.register_all()
    return cat.spark.sql(
        """
        WITH rev AS (
            SELECT r.r_name AS region, s.s_name AS supplier,
                   floor(sum(l.l_extendedprice * (1 - l.l_discount)) * 1e4
                         + 0.5) / 1e4 AS revenue
            FROM lineitem l
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n   ON s.s_nationkey = n.n_nationkey
            JOIN region r   ON n.n_regionkey = r.r_regionkey
            GROUP BY r.r_name, s.s_name
        )
        SELECT region, supplier, revenue FROM (
            SELECT region, supplier, revenue,
                   row_number() OVER (PARTITION BY region
                                      ORDER BY revenue DESC, supplier) AS rn
            FROM rev
        ) WHERE rn <= 3
        """
    )


#: registry-exported query names (order derived in registry.build_registry)
QUERIES = (
    "ml_est_pca_sparse",
    "ml_est_spca_energy",
    "ml_est_xgboost",
    "q_sql_entry_top_suppliers",
)
