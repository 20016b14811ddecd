"""Similarity search over the embeddings table (beyond-reference surface).

- brute-force cosine top-k: the exactness baseline. Queries are broadcast
  (small side), so the scan side streams the corpus once — at 100 TB the
  plan is a single pass with a per-partition top-k (window) merge, the DF
  analogue of the reference's broadcast + per-partition scan + treeReduce
  merge (``KNNRunner.scala:318-332``).
- embedding near-dup pairs: cosine ≥ threshold among LSH-bucketed candidate
  pairs (random-hyperplane signs derived from md5 so the bucketing is
  engine-reproducible).

All math fp64 via builtin array ops (functions/vectors.py); no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spark_ml_algo_lib_master_tongji_spark.functions.rounding import round_half_up

from spark_ml_algo_lib_master_tongji_spark.functions import vectors as V
from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog, spread

N_QUERIES = 10
TOP_K = 5


def brute_force_topk(
    corpus: DataFrame, queries: DataFrame, k: int = TOP_K
) -> DataFrame:
    """Exact cosine top-k: broadcast the query set, one streaming pass over
    the corpus, window row_number per query. Deterministic tie-break on
    corpus id after rounding."""
    q = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"),
            V.as_double_array("embedding").alias("qv"),
        )
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        V.as_double_array("embedding").alias("cv"),
    )
    scored = c.crossJoin(q).select(
        "query_id",
        "neighbor_id",
        round_half_up(V.cosine_similarity(F.col("qv"), F.col("cv")), 4).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def sim_brute_force_topk(cat: Catalog) -> DataFrame:
    emb = cat.embeddings
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    corpus = spread(emb.where(F.col("vec_id") >= N_QUERIES))
    return brute_force_topk(corpus, queries, TOP_K)


def _hyperplane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random hyperplane from md5 — reproducible in SQL
    (DuckDB md5 is identical), unlike engine-native hash/rand."""
    import hashlib

    vals = []
    for d in range(dim):
        h = hashlib.md5(f"{plane}:{d}".encode()).hexdigest()
        vals.append((int(h[:8], 16) / 0xFFFFFFFF) * 2.0 - 1.0)
    return vals


def embedding_dim(emb: DataFrame, vec_col: str = "v") -> int:
    """Vector width read from the data (one-row action). Round-1 ADVICE:
    a hardcoded dim silently zero-padded ``zip_with`` dot products on any
    other corpus, collapsing every vector into bucket 0 — derive it."""
    row = emb.select(F.size(vec_col).alias("d")).head()
    return int(row["d"]) if row else 0


def bucket_expr(v_col, dim: int, n_planes: int = 8):
    """Sign-bit LSH bucket id (0..2^n_planes−1) for a vector column. The
    hyperplanes are literal arrays in the plan (dim×planes doubles —
    trivially shipped with the plan, no broadcast needed)."""
    bucket = F.lit(0)
    for p in range(n_planes):
        plane = F.array(*[F.lit(x) for x in _hyperplane(dim, p)])
        bit = F.when(V.dot(v_col, plane) > 0, F.lit(2**p)).otherwise(F.lit(0))
        bucket = bucket + bit
    return bucket


def lsh_candidate_pairs(
    emb: DataFrame, n_planes: int = 8, threshold: float = 0.35
) -> DataFrame:
    """(vec_a < vec_b, cosine): bucket self-join candidates with exact
    rounded cosine ≥ threshold. Shuffle volume is O(bucket collisions);
    recall < 1 by construction (pairs split across buckets are unseen) —
    callers own that contract."""
    sigs = emb.select(
        "vec_id", "v", bucket_expr(F.col("v"), embedding_dim(emb), n_planes).alias("bucket")
    )
    a, b = sigs.alias("a"), sigs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            round_half_up(
                V.cosine_similarity(F.col("a.v"), F.col("b.v")), 4
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def sim_lsh_bucket_pairs(
    cat: Catalog, n_planes: int = 8, threshold: float = 0.35
) -> DataFrame:
    """Random-hyperplane LSH near-dup pairs: sign-bit signature → bucket
    self-join → exact cosine on candidates ≥ threshold."""
    emb = spread(cat.embeddings).select(
        "vec_id", V.as_double_array("embedding").alias("v")
    )
    return lsh_candidate_pairs(emb, n_planes, threshold)


#: registry-exported query names (order derived in registry.build_registry)
QUERIES = (
    "sim_brute_force_topk",
    "sim_lsh_bucket_pairs",
)
