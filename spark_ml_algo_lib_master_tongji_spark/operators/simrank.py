"""SimRank on the bipartite nation trade graph (SURVEY §2.2 #19).

The reference's open implementation
(``org/apache/spark/ml/recommendation/SimRankOpenSource.scala:68-126``)
runs the bipartite SimRank power iteration S' = d·WᵀSW with diagonal reset
on BlockMatrix products. This engine expresses the same recurrence as
join+aggregate DataFrame ops over the *sparse nonzero* similarity pairs:

    su_{k+1}(a,b) = C/(|O(a)||O(b)|) · Σ_{(a,i)∈E,(b,j)∈E} si_k(i,j)   a≠b
    si_{k+1}(i,j) = C/(|I(i)||I(j)|) · Σ_{(a,i)∈E,(b,j)∈E} su_k(a,b)   i≠j
    diagonal ≡ 1 (the diag-reset of ``SimRankOpenSource.scala:101-113``)

Jacobi update (both sides read iteration k), SIMRANK_ITERS fixed rounds,
damp C = 0.8 — deterministic, exactly reproduced by the unrolled SQL
oracle. Zero similarities stay unmaterialized (sparse join algebra), which
is the property that lets the same plan run on a billion-edge bipartite
graph: each round shuffles only nonzero similarity pairs and the edge
table, never a dense V×V matrix — the DataFrame analogue of the
reference's block-sparse matmul chain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_ml_algo_lib_master_tongji_spark.functions.rounding import round_half_up
from spark_ml_algo_lib_master_tongji_spark.operators.graph import (
    _cached,
    nation_trade_edges,
)
from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog

SIMRANK_C = 0.8
SIMRANK_ITERS = 3


def _pair_update(
    edges_fwd: DataFrame, s_other: DataFrame, deg: DataFrame
) -> DataFrame:
    """One side of the recurrence: aggregate partner similarities through
    two edge hops, then scale by C / (deg(a)·deg(b)) and reset the diag."""
    ta = edges_fwd.toDF("a", "i")
    tb = edges_fwd.toDF("b", "j")
    s = s_other.toDF("i", "j", "s")
    agg = (
        ta.join(s, "i")
        .join(tb, "j")
        .where(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.sum("s").alias("s"))
    )
    da = deg.toDF("a", "dega")
    db = deg.toDF("b", "degb")
    offdiag = (
        agg.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            (
                F.lit(SIMRANK_C) / (F.col("dega") * F.col("degb")) * F.col("s")
            ).alias("s"),
        )
    )
    diag = deg.select(F.col("a"), F.col("a").alias("b"), F.lit(1.0).alias("s"))
    return offdiag.unionByName(diag)


def simrank(cat: Catalog, n_iter: int = SIMRANK_ITERS) -> DataFrame:
    """→ user-side similarities (a, b, sim) for a<b, sim>0: SimRank between
    customer nations through their supplier-nation neighborhoods."""
    e = _cached(nation_trade_edges(cat))
    du = _cached(e.groupBy(F.col("src").alias("a")).agg(F.count(F.lit(1)).alias("d")))
    di = _cached(e.groupBy(F.col("dst").alias("a")).agg(F.count(F.lit(1)).alias("d")))

    su = du.select(F.col("a"), F.col("a").alias("b"), F.lit(1.0).alias("s"))
    si = di.select(F.col("a"), F.col("a").alias("b"), F.lit(1.0).alias("s"))
    fwd = e.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    bwd = e.select(F.col("dst").alias("u"), F.col("src").alias("v"))

    # Jacobi update: su_{k+1} and si_{k+1} both read only iteration k, so
    # the two half-updates per round are independent jobs — submit them
    # from a thread pool (guide §2.6) so the second's stages back-fill the
    # first's tail instead of waiting for it. Each half is eagerly
    # localCheckpoint-ed exactly as before; co-scheduling changes job
    # overlap, not any task's input or reduction order.
    # Known limitation (r14 ADVICE): plain pool workers do not inherit
    # Spark thread-local properties under pinned-thread mode, so a job
    # group / scheduler pool / cancellation set by a caller will not tag
    # these two jobs. Nothing in this engine's harness uses job groups;
    # a caller that does should wrap in pyspark.InheritableThread or set
    # the properties inside the lambdas.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as ex:
        for _ in range(n_iter):
            f_su = ex.submit(
                lambda s=si: _pair_update(fwd, s, du.toDF("a", "d")).localCheckpoint(
                    eager=True
                )
            )
            f_si = ex.submit(
                lambda s=su: _pair_update(bwd, s, di.toDF("a", "d")).localCheckpoint(
                    eager=True
                )
            )
            su, si = f_su.result(), f_si.result()

    return (
        su.where(F.col("a") < F.col("b"))
        .select("a", "b", round_half_up(F.col("s"), 6).alias("sim"))
        .where(F.col("sim") > 0)
    )


def ml_simrank(cat: Catalog) -> DataFrame:
    return simrank(cat)


#: registry-exported query names (order derived in registry.build_registry)
QUERIES = (
    "ml_simrank",
)
