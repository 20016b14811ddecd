"""Graph analytics engine over DataFrames (SURVEY §2.3).

The reference runs GraphX / BoostKit graph kernels (PageRank
``graph/PageRankRunner.scala:108-113``, BFS ``graph/BFSRunner.scala:91-101``,
CC ``graph/ConnectedComponentsRunner.scala:67``, k-core Pregel
``graph/KcoreMain.scala:43-77``, triangle count
``graph/TrangleCountRunner.scala:81``, …). GraphX has no Python API, so this
engine re-expresses each algorithm as an iterative DataFrame join+aggregate
loop ("DataFrame Pregel", ``plans/iterative.iterate``) — the same message/
merge structure as Pregel's vprog/sendMsg/mergeMsg, but declared through
Catalyst so each superstep is a shuffled hash/sort-merge join+agg that AQE
can re-plan at runtime.

**Fixed-iteration semantics.** Every operator here runs at most a *fixed*
number of supersteps (matching the reference's ``numIter`` variants, e.g.
``PageRank.run(graph, numIter)``). Loops with run-to-convergence semantics
(CC, SSSP, k-core, …) exit early on an unchanged state and raise
``NotConvergedError`` when the budget ends off a fixed point, so the result
is a pure deterministic function of the input — exactly reproducible by the
unrolled-SQL DuckDB oracles in ``graph_oracles.py``.

**CSR kernel arm.** Every operator with a CSR kernel — connected
components, label propagation, k-core, triangles, subgraph matching and
sampled betweenness — runs the kernel if and only if the caller passes
``csr=`` (a ``csr_broadcast`` of the same graph), and its DataFrame arm
otherwise; no operator counts edges to pick an arm. Whether a graph fits a
driver broadcast is decided once, by ``csr_gated`` (``ADJ_BC_MAX_EDGES``);
registry rows reach it through ``copurchase_csr_gated``. The CC, LPA and
k-core kernels run the same synchronous rounds on the driver under the
same contract (``plans.iterative.iterate_local``): below the gate a
DataFrame superstep is a few Spark jobs of scheduling latency over little
data. The triangle, matching and betweenness kernels read the broadcast
inside Spark tasks; sampled betweenness has no DataFrame arm and raises
without ``csr``.

**Fixture graphs** (derivations are themselves relational operators):
- *co-purchase graph*: undirected part–part edges, weight = number of times
  the two parts co-occur in one order (lineitem self-join on l_orderkey).
- *nation trade graph*: directed nation→nation edges, customer nation →
  supplier nation per lineitem (the Hive-runner string-id graphs of
  ``PageRankHiveRunner.scala:41-45`` map to this keyed derivation).

Scale notes (100 TB): the per-superstep shuffle is on the vertex id — the
same key every round, so executors re-shuffle only the (small) vertex state,
never the raw fact table. Edges are derived once, projected to (src,dst,w),
persisted, and reused across supersteps; lineage is truncated every few
rounds (``plans/iterative``). Skewed high-degree vertices are handled by
AQE skew-join splitting. Only the gated arms collect rows to the driver:
the CSR kernels (O(|E|) edges, at most ``ADJ_BC_MAX_EDGES``) and the local
min-plus closure (at most ``TINY_CLOSURE_MAX_EDGES``); above those
ceilings every operator stays in the DataFrame loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from spark_ml_algo_lib_master_tongji_spark import benchlib
from spark_ml_algo_lib_master_tongji_spark.functions.rounding import round_half_up
from spark_ml_algo_lib_master_tongji_spark.plans.iterative import (
    iterate,
    iterate_local,
    monotone_sum_probe,
    stat_fixpoint_probe,
)
from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog

# Shared fixed-point constants — imported by graph_oracles.py so the SQL
# unroll uses bit-identical literals and iteration counts.
DAMP = 0.85
RESET = 1.0 - DAMP
PR_ITERS = 8
CC_ITERS = 10
BFS_ROUNDS = 10
SSSP_ROUNDS = 10
LPA_ITERS = 4
KCORE_K = 4
KCORE_ROUNDS = 8
CLOSURE_DOUBLINGS = 5
TRUST_SEEDS = 5
PPR_SOURCES = 3
INF = 10**15


# ---- graph derivations -----------------------------------------------------


# Session-scoped cache of the fixture-graph derivations: every graph query
# starts from the same lineitem self-join, and the registry/driver run many
# queries against one session — materializing the derivation once is the
# "load the graph, then run algorithms on it" lifecycle of the reference
# (edges loaded once per runner, ``graph/Util.scala:106-136``).
_DERIV_CACHE: dict[tuple, DataFrame] = {}

# The anchor rows submit their independent seeded fits from a thread pool
# (guide §2.6 back-fill — see ml_estimators.ml_est_clf_acc_anchors), so the
# check-then-set memoization below must be safe under concurrent callers:
# a global guard protects the cache dicts + the per-key lock table, and each
# build runs under its per-key lock so two threads asking for the same
# derivation never build it twice (double-checked locking). Builds nest
# (X's build may pull dependency Y) but the dependency graph is a DAG, so
# per-key locks cannot deadlock.
import threading as _threading

_CACHE_GUARD = _threading.Lock()
_KEY_LOCKS: dict[tuple, _threading.Lock] = {}


def _key_lock(key: tuple) -> _threading.Lock:
    with _CACHE_GUARD:
        return _KEY_LOCKS.setdefault(key, _threading.Lock())


def _evict_dead_sessions(app_id: str) -> None:
    """Drop cache entries keyed to a stopped session's applicationId.

    Multi-session processes (pytest creates/stops several sessions) would
    otherwise pin stale DataFrames, scalars, fitted models, and — worst —
    driver-side CSR broadcasts holding O(|E|) numpy arrays for the process
    lifetime (round-4 ADVICE). Eviction is lazy: triggered on the first
    cache miss under a new applicationId; releasing the Python references
    is sufficient (the dead session's JVM-side blocks died with its
    SparkContext)."""
    with _CACHE_GUARD:
        for cache in (_DERIV_CACHE, _OBJ_CACHE, _KEY_LOCKS):
            for key in [k for k in cache if k[0] != app_id]:
                cache.pop(key, None)


def _cache_key(cat: Catalog, name: str) -> tuple:
    """Key of ``name`` in the session-scoped caches. Keyed by
    applicationId, not id(spark): a stopped session's id() can be reused
    by a new session, which would hand out cached values bound to a dead
    SparkContext (round-1 ADVICE)."""
    return (cat.spark.sparkContext.applicationId, cat.sf_dir, name)


def _derived(
    cat: Catalog, name: str, build, action=DataFrame.count
) -> DataFrame:
    """Session-shared persisted ``build()``, filled by ONE Spark action:
    ``action(df)`` (default ``count``) runs right after the persist, and
    its value is memoized under the same key — ``_derived_value`` reads
    it back, so a number the fill job already produced (a row count, the
    co-purchase edge stats) costs no second job."""
    key = _cache_key(cat, name)
    if key in _DERIV_CACHE:  # lock-free fast path (CPython dict reads are atomic)
        return _DERIV_CACHE[key]
    with _key_lock(key):
        if key in _DERIV_CACHE:
            return _DERIV_CACHE[key]
        _evict_dead_sessions(key[0])
        with benchlib.load_timer(name):
            df = build().persist(StorageLevel.MEMORY_AND_DISK)
            # Eager materialization: the build IS the reference's
            # loadDataTime (``KMeansRunner.scala:132-133``); running the
            # fill action here (one cheap aggregation over rows the first
            # consumer needs anyway) makes the load/cost split in bench.py
            # real instead of attributing the whole build to whichever
            # query's first action touches the cache. If the action fails,
            # the fresh persist must be released before the exception
            # escapes, or a failed build leaves stray MEMORY_AND_DISK
            # partitions pinned for the session (round-5 ADVICE — same
            # failure-path rule as benchlib.materialize).
            try:
                value = action(df)
            except Exception:
                df.unpersist(blocking=False)
                raise
        # Insert under the guard: _evict_dead_sessions iterates these dicts
        # under _CACHE_GUARD, and a concurrent unguarded insert could raise
        # "dict changed size during iteration" in the evicting thread. Both
        # entries land in one critical section, so a reader that finds the
        # frame also finds its value.
        with _CACHE_GUARD:
            _OBJ_CACHE[key] = value
            _DERIV_CACHE[key] = df
    return _DERIV_CACHE[key]


def _derived_value(cat: Catalog, name: str, derive):
    """The memoized fill-action value of the ``_derived`` frame ``name``;
    ``derive(cat)`` is its accessor and builds it on first use."""
    derive(cat)
    return _OBJ_CACHE[_cache_key(cat, name)]


def copurchase_pairs(cat: Catalog) -> DataFrame:
    """Canonical undirected part co-purchase edges (src < dst, cnt ≥ 1).

    Maps the reference's edge-list load (``graph/Util.scala:106-136``:
    comment filter, self-loop drop) onto a relational derivation; groupBy
    dedups parallel edges into a weight (the ``groupEdges`` of
    ``KcoreMain.scala:117-120``). A plain ``src < dst`` filter over the
    session-shared symmetric list (the symmetric cnt(x→y) equals the
    canonical cnt(x,y): each unordered lineitem row pair appears exactly
    once per direction in the self-join product): no cache or job of its
    own, and it keeps the cached list's hashpartitioning(src)."""
    return sym_copurchase(cat).where(F.col("src") < F.col("dst"))


def symmetrize(pairs: DataFrame) -> DataFrame:
    """Undirected → both directions (one row per ordered edge)."""
    return pairs.unionByName(
        pairs.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "cnt"
        )
    )


def sym_copurchase(cat: Catalog) -> DataFrame:
    """Session-shared symmetrized co-purchase edge list.

    ~15 graph queries start from ``symmetrize(copurchase_pairs(cat))``;
    before round 4 each one union-scanned (and several independently
    persisted) the same 2|E| rows. One shared materialization is the
    "load the graph once, run many algorithms" lifecycle of the reference
    (``graph/Util.scala:106-136``). The canonical ``copurchase_pairs`` is
    a filter over this cache, and the one action that fills it is the
    aggregate of the canonical edge stats ``(m, w)`` that
    ``copurchase_edge_stats`` returns, so the graph load runs no separate
    count or stats job.

    Persisted hash-partitioned on ``src``: hashpartitioning(src) satisfies
    the clustered distribution of every downstream src-keyed aggregation —
    degrees, the node2vec adjacency collect_list, and Louvain's per-round
    k_v,c sum (whose input keeps this partitioning through the broadcast
    join) — so those plans are exchange-free over the dominant |E|-row
    relation.

    Built in ONE shuffle past the self-join (round-4 load-path cut): the
    repartition("src") runs BEFORE the parallel-edge aggregation, and
    hashpartitioning(src) satisfies the (src, dst) clustered distribution,
    so the groupBy is exchange-free and its output lands already
    partitioned the way consumers need. The former chain (canonical agg →
    cache → union both directions → repartition → cache) shuffled the edge
    multiset twice and materialized it twice; co-purchase weights are
    mostly 1, so the forgone map-side partial aggregation costs ~nothing."""

    def build() -> DataFrame:
        li = cat.lineitem.select("l_orderkey", "l_partkey")
        a = li.toDF("ok", "src")
        b = li.toDF("ok", "dst")
        return (
            a.join(b, "ok")
            .where(F.col("src") != F.col("dst"))
            .repartition("src")
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    def edge_stats(sym: DataFrame) -> tuple[int, float]:
        canonical = F.col("src") < F.col("dst")
        r = sym.agg(
            F.count(F.when(canonical, 1)).alias("m"),
            F.sum(F.when(canonical, F.col("cnt"))).alias("w"),
        ).first()
        return int(r["m"]), float(r["w"] or 0.0)

    return _derived(cat, "sym_copurchase", build, action=edge_stats)


def vertices(edges: DataFrame) -> DataFrame:
    """Distinct vertex ids of a symmetrized edge list → (v)."""
    return edges.select(F.col("src").alias("v")).distinct()


# Session-scoped value memo (same keying as ``_derived``) for everything
# that is not a persisted DataFrame: each ``_derived`` frame's fill-action
# value, other single numbers several queries would re-derive with a full
# job each (shared fit metrics), already-materialized frames, CSR
# broadcasts, and fitted models — when two registry queries train the
# byte-identical seeded estimator on the same input (the explicit ALS of
# the mse and recommend surfaces, the binary GBT of the classifier and
# xgboost-fallback workloads), one fit serves both, the model analogue of
# the reference's load-once-run-many lifecycle.
_OBJ_CACHE: dict[tuple, object] = {}


def _derived_obj(cat: Catalog, name: str, build):
    key = _cache_key(cat, name)
    if key in _OBJ_CACHE:
        return _OBJ_CACHE[key]
    with _key_lock(key):
        if key not in _OBJ_CACHE:
            _evict_dead_sessions(key[0])
            with benchlib.load_timer(name):
                obj = build()
            with _CACHE_GUARD:  # see the insert note in _derived
                _OBJ_CACHE[key] = obj
    return _OBJ_CACHE[key]


def copurchase_verts(cat: Catalog) -> DataFrame:
    """Session-shared distinct vertex set of the co-purchase graph."""
    return _derived(cat, "copurchase_verts", lambda: vertices(sym_copurchase(cat)))


def copurchase_n_verts(cat: Catalog) -> int:
    """Session-shared |V| of the co-purchase graph: the row count that
    materialized ``copurchase_verts``."""
    return _derived_value(cat, "copurchase_verts", copurchase_verts)


def pr_share_edges(cat: Catalog, weighted: bool) -> DataFrame:
    """Session-shared (src, dst, share) contribution edges for the PageRank
    family — five registry queries re-derived this identical edges⋈degrees
    projection before round 4."""

    def build() -> DataFrame:
        edges = sym_copurchase(cat)
        share = (
            F.col("cnt") / F.col("wdeg") if weighted else F.lit(1.0) / F.col("deg")
        )
        return (
            edges.join(degrees(edges), edges.src == F.col("v"))
            .select("src", "dst", share.alias("share"))
            # Persisted dst-partitioned: every PageRank-family round
            # aggregates contributions by dst, and the broadcast state
            # join preserves this partitioning — so the |E|-row gather
            # plans exchange-free in all ~40 loop rounds that share this
            # relation (one shuffle here at derivation instead).
            .repartition("dst")
        )

    return _derived(cat, f"pr_share_edges_{'w' if weighted else 'u'}", build)


def degrees(edges: DataFrame) -> DataFrame:
    """(v, deg, wdeg): distinct-neighbor count + weighted degree.
    ``graph.degrees`` analogue (``DegreeRunner.scala:96-99``) as one
    partial+final aggregation."""
    return edges.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).alias("deg"), F.sum("cnt").alias("wdeg")
    )


def copurchase_degrees(cat: Catalog) -> DataFrame:
    """Session-shared (v, deg, wdeg) over the co-purchase graph — the
    degree query and Louvain's loop seed / Q-gate input are the same
    exchange-free aggregation over the src-partitioned shared edge list."""
    return _derived(cat, "copurchase_degrees", lambda: degrees(sym_copurchase(cat)))


def nation_trade_weighted(cat: Catalog) -> DataFrame:
    """Directed nation→nation trade edges with lineitem multiplicity as the
    weight (src, dst, w), self-loops dropped — ONE 4-table join shared by
    every nation-graph consumer; the unweighted/distinct shape is a
    projection of this (the string-keyed Hive graph path of
    ``PageRankHiveRunner.scala:39-45`` re-expressed as joins)."""

    def build() -> DataFrame:
        li = cat.lineitem.select("l_orderkey", "l_suppkey")
        o = cat.orders.select("o_orderkey", "o_custkey")
        c = cat.customer.select("c_custkey", "c_nationkey")
        s = cat.supplier.select("s_suppkey", "s_nationkey")
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(s, li.l_suppkey == s.s_suppkey)
            .where(F.col("c_nationkey") != F.col("s_nationkey"))
            .groupBy(
                F.col("c_nationkey").cast("long").alias("src"),
                F.col("s_nationkey").cast("long").alias("dst"),
            )
            .agg(F.count(F.lit(1)).alias("w"))
        )

    return _derived(cat, "nation_trade_weighted", build)


def nation_trade_edges(cat: Catalog) -> DataFrame:
    """Directed nation→nation trade edges (src, dst), distinct, self-loops
    dropped — the weight projection of the shared weighted derivation."""
    return _derived(
        cat,
        "nation_trade_edges",
        lambda: nation_trade_weighted(cat).select("src", "dst"),
    )


def _cached(df: DataFrame) -> DataFrame:
    return df.persist(StorageLevel.MEMORY_AND_DISK)


#: Per-round vertex-state broadcast ceiling (rows). Superstep joins hint
#: ``broadcast(state)`` only while the O(|V|) state provably fits — the
#: hint is worth ~1s/round locally, but an unconditional hint re-broadcasts
#: the whole vertex state every round and *fails outright* (driver/broadcast
#: limits) once |V| outgrows it at the 100 TB design point. Above the
#: ceiling the join shuffles on v (AQE may still elect broadcast from
#: runtime stats, which is the right call to delegate).
STATE_BC_MAX_ROWS = 10_000_000


def _bc(df: DataFrame, n_verts: int) -> DataFrame:
    """Broadcast hint iff the per-vertex relation is provably small."""
    return F.broadcast(df) if n_verts <= STATE_BC_MAX_ROWS else df


# ---- PageRank family (§2.3 #1-5) ------------------------------------------


def _pagerank_loop(
    edges: DataFrame,
    verts: DataFrame,
    reset_dist: DataFrame,
    weighted: bool,
    n_iter: int = PR_ITERS,
    state0: DataFrame | None = None,
    n_verts: int = 0,
    e: DataFrame | None = None,
) -> DataFrame:
    """Shared power-iteration core: pr' = reset + DAMP · Σ_in pr/outshare.

    ``reset_dist`` is (v, reset) — uniform for plain PageRank
    (``lib.PageRank.run``), concentrated for personalized / trust variants
    (``PersonalizedPageRankRunner.scala:102-114``,
    ``TrustRankRunner.scala:100-113``). ``weighted`` divides contributions
    by total out-weight instead of out-degree
    (``WeightedPageRankRunner.scala:115-119``). Pass ``e`` (a prepared
    (src, dst, share) relation, e.g. ``pr_share_edges``) to skip the
    per-call edges⋈degrees derivation."""
    if e is None:
        share = (
            F.col("cnt") / F.col("wdeg") if weighted else F.lit(1.0) / F.col("deg")
        )
        edges = _cached(edges)
        e = _cached(
            edges.join(degrees(edges), edges.src == F.col("v"))
            .select("src", "dst", share.alias("share"))
            .repartition("dst")  # exchange-free per-round gather (see pr_share_edges)
        )
    if state0 is None:
        state0 = reset_dist.select("v", F.col("reset").alias("pr"))
    reset = _cached(reset_dist)
    n = n_verts or verts.count()

    def step(state: DataFrame, _i: int) -> DataFrame:
        contrib = (
            e.join(_bc(state, n), e.src == state.v)
            .select("dst", (F.col("pr") * F.col("share")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        return reset.join(_bc(contrib, n), reset.v == contrib.dst, "left").select(
            "v",
            (
                F.col("reset") + F.lit(DAMP) * F.coalesce(F.col("contrib"), F.lit(0.0))
            ).alias("pr"),
        )

    # Initial state uses pr0 = reset mass (standard power-iteration seed for
    # the fixed-iteration variant; identical in the SQL oracle).
    return iterate(state0, step, n_iter)


def pagerank(
    edges: DataFrame,
    n_iter: int = PR_ITERS,
    verts: DataFrame | None = None,
    n_verts: int = 0,
    e: DataFrame | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank → (v, pr). ``PageRankRunner.scala:108-113``
    (``run(graph, numIter, resetProb=0.15)``)."""
    if verts is None:
        verts = _cached(vertices(edges))
    n = n_verts or verts.count()
    if n == 0:  # empty graph: no vertices, no ranks (and no RESET/0)
        return verts.select("v", F.lit(0.0).alias("pr"))
    reset_dist = verts.select("v", F.lit(RESET / n).alias("reset"))
    pr = _pagerank_loop(
        edges, verts, reset_dist, weighted=False, n_iter=n_iter, n_verts=n, e=e
    )
    return pr.select("v", round_half_up(F.col("pr"), 6).alias("pr"))


def personalized_pagerank(
    edges: DataFrame,
    n_iter: int = PR_ITERS,
    verts: DataFrame | None = None,
    n_verts: int = 0,
    e: DataFrame | None = None,
) -> DataFrame:
    """Personalized PageRank from the minimum vertex id → (v, pr).
    ``PersonalizedPageRankRunner.scala:102-114`` (single-source
    ``runWithOptions``): reset mass concentrated on the source."""
    if verts is None:
        verts = _cached(vertices(edges))
    src = verts.agg(F.min("v")).collect()[0][0]  # scalar only
    reset_dist = verts.select(
        "v",
        F.when(F.col("v") == src, F.lit(RESET)).otherwise(F.lit(0.0)).alias("reset"),
    )
    pr = _pagerank_loop(
        edges, verts, reset_dist, weighted=False, n_iter=n_iter,
        n_verts=n_verts, e=e,
    )
    return pr.select("v", round_half_up(F.col("pr"), 6).alias("pr"))


def ppr_multi(
    edges: DataFrame,
    n_sources: int = PPR_SOURCES,
    n_iter: int = PR_ITERS,
    verts: DataFrame | None = None,
    n_verts: int = 0,
    e: DataFrame | None = None,
) -> DataFrame:
    """Parallel personalized PageRank from a source set → (v, source, pr) —
    ``PersonalizedPageRankRunner.scala:102-114`` ``fixMS`` arm
    (``PageRank.runParallelPersonalizedPageRank(graph, numIter, resetProb,
    sourcesId)``): GraphX's per-vertex pr *vector* (one entry per source)
    flattened to rows. Source set = the ``n_sources`` smallest vertex ids.

    Like ``mssp``, the loop state carries one pr column per source on a
    single row per vertex — every power-iteration round joins |E| rows
    exactly once and one hash-agg pass sums all per-source contributions,
    so k sources cost one loop, not k loops (the whole point of the
    reference's parallel variant)."""
    if verts is None:
        verts = _cached(vertices(edges))
    n = n_verts or verts.count()
    sources = [r["v"] for r in verts.orderBy("v").limit(n_sources).collect()]
    if e is None:
        edges = _cached(edges)
        e = _cached(
            edges.join(degrees(edges), edges.src == F.col("v")).select(
                "src", "dst", (F.lit(1.0) / F.col("deg")).alias("share")
            )
        )
    cols = [f"p{k}" for k in range(len(sources))]
    reset = _cached(
        verts.select(
            "v",
            *[
                F.when(F.col("v") == s, F.lit(RESET))
                .otherwise(F.lit(0.0))
                .alias(f"r{k}")
                for k, s in enumerate(sources)
            ],
        )
    )
    state0 = reset.select(
        "v", *[F.col(f"r{k}").alias(c) for k, c in enumerate(cols)]
    )

    def step(state: DataFrame, _i: int) -> DataFrame:
        contrib = (
            e.join(_bc(state, n), e.src == state.v)
            .groupBy("dst")
            .agg(
                *[
                    F.sum(F.col(c) * F.col("share")).alias(f"c{k}")
                    for k, c in enumerate(cols)
                ]
            )
        )
        return reset.join(_bc(contrib, n), reset.v == contrib.dst, "left").select(
            "v",
            *[
                (
                    F.col(f"r{k}")
                    + F.lit(DAMP) * F.coalesce(F.col(f"c{k}"), F.lit(0.0))
                ).alias(c)
                for k, c in enumerate(cols)
            ],
        )

    out = iterate(state0, step, n_iter)
    return out.select(
        "v",
        F.explode(
            F.map_from_arrays(
                F.array(*[F.lit(s).cast("long") for s in sources]),
                F.array(*[round_half_up(F.col(c), 6) for c in cols]),
            )
        ).alias("source", "pr"),
    )


def weighted_pagerank(
    edges: DataFrame,
    n_iter: int = PR_ITERS,
    verts: DataFrame | None = None,
    n_verts: int = 0,
    e: DataFrame | None = None,
) -> DataFrame:
    """Edge-weight-normalized PageRank → (v, pr).
    ``WeightedPageRankRunner.scala:115-119`` static variant."""
    if verts is None:
        verts = _cached(vertices(edges))
    n = n_verts or verts.count()
    if n == 0:  # empty graph guard (see pagerank)
        return verts.select("v", F.lit(0.0).alias("pr"))
    reset_dist = verts.select("v", F.lit(RESET / n).alias("reset"))
    pr = _pagerank_loop(
        edges, verts, reset_dist, weighted=True, n_iter=n_iter, n_verts=n, e=e
    )
    return pr.select("v", round_half_up(F.col("pr"), 6).alias("pr"))


def trustrank(
    edges: DataFrame,
    n_iter: int = PR_ITERS,
    verts: DataFrame | None = None,
    n_verts: int = 0,
    e: DataFrame | None = None,
) -> DataFrame:
    """PageRank personalized to a trusted seed set (the TRUST_SEEDS smallest
    vertex ids, uniform reset mass) → (v, pr).
    ``TrustRankRunner.scala:100-113`` (seeds RDD → reset vector)."""
    if verts is None:
        verts = _cached(vertices(edges))
    seeds = verts.orderBy("v").limit(TRUST_SEEDS).select(
        "v", F.lit(RESET / TRUST_SEEDS).alias("reset")
    )
    reset_dist = verts.join(seeds, "v", "left").select(
        "v", F.coalesce(F.col("reset"), F.lit(0.0)).alias("reset")
    )
    pr = _pagerank_loop(
        edges, verts, reset_dist, weighted=False, n_iter=n_iter,
        n_verts=n_verts, e=e,
    )
    return pr.select("v", round_half_up(F.col("pr"), 6).alias("pr"))


# ---- propagation algorithms (§2.3 #6-10,15) --------------------------------


def connected_components(
    edges: DataFrame, n_iter: int = CC_ITERS, csr=None
) -> DataFrame:
    """Min-label propagation → (v, label).
    ``ConnectedComponentsRunner.scala:67`` (min-vertex-id component labels);
    fixed rounds instead of convergence detection. Pass ``csr`` (a
    ``csr_broadcast`` of the same graph, gate-admitted) to run the rounds
    as a driver-side kernel (``_cc_csr_kernel``)."""
    if csr is not None:
        return _cc_csr_kernel(edges.sparkSession, csr, n_iter)
    e = _cached(edges.select("src", "dst"))
    verts = _cached(vertices(e))
    n = verts.count()
    state0 = verts.select("v", F.col("v").alias("label"))

    def step(state: DataFrame, _i: int) -> DataFrame:
        # Gather at src over the symmetric edge list (every caller provides
        # both directions): min over in-neighbors ≡ min over out-neighbors,
        # and keying the |E|-row aggregation on src lets it inherit the
        # shared edge cache's src-hash partitioning — exchange-free. The
        # own label folds in through the vertex-sized broadcast least-join
        # (round-4 rework of the union-then-min shape, whose union
        # destroyed the partitioning and shuffled all 2|E| rows per round).
        st = state.select(F.col("v").alias("u"), F.col("label").alias("nl"))
        nbr_min = (
            e.join(_bc(st, n), e.dst == F.col("u"))
            .groupBy(F.col("src").alias("v"))
            .agg(F.min("nl").alias("m"))
        )
        return state.join(_bc(nbr_min, n), "v", "left").select(
            "v",
            F.least(F.col("label"), F.coalesce(F.col("m"), F.col("label"))).alias(
                "label"
            ),
        )

    # CC semantics is run-to-convergence (GraphX lib.ConnectedComponents);
    # the round budget is an operational cap, so prove the fixed point.
    # Labels move monotonically down on a fixed row set ⇒ scalar-sum probe.
    return iterate(
        state0, step, n_iter, verify_fixpoint=monotone_sum_probe("label")
    )


def bfs(edges: DataFrame, rounds: int = BFS_ROUNDS) -> DataFrame:
    """Hop distance from the minimum vertex id, depth-limited to ``rounds``
    → (v, dist); unreachable vertices filtered like ``BFSRunner.scala:99``.
    Frontier expansion is the relaxation join of ``lib.BFS.run(graph,
    sourceID, isDirect, depthLimit)``."""
    e = _cached(edges.select("src", "dst"))
    verts = _cached(vertices(e))
    n = verts.count()
    src = verts.agg(F.min("v")).collect()[0][0]
    state0 = verts.select(
        "v", F.when(F.col("v") == src, F.lit(0)).otherwise(F.lit(INF)).cast("long").alias("dist")
    )

    def step(state: DataFrame, _i: int) -> DataFrame:
        # Exchange-free src-keyed gather over the symmetric list (see
        # connected_components.step).
        st = state.select(F.col("v").alias("u"), F.col("dist").alias("du"))
        relax = (
            e.join(_bc(st, n), e.dst == F.col("u"))
            .groupBy(F.col("src").alias("v"))
            .agg(F.min(F.col("du") + F.lit(1)).alias("m"))
        )
        return state.join(_bc(relax, n), "v", "left").select(
            "v", F.least(F.col("dist"), F.coalesce(F.col("m"), F.col("dist"))).alias("dist")
        )

    # ``rounds`` is the reference's explicit depthLimit (lib.BFS), not a
    # convergence budget — depth-truncated distances are the semantics, so
    # this is early_stop (converged-early is identical; truncated is valid).
    out = iterate(
        state0,
        step,
        rounds,
        early_stop=stat_fixpoint_probe(
            f"count(if(dist < {INF}, 1, null))", f"sum(if(dist < {INF}, dist, 0))"
        ),
    )
    return out.where(F.col("dist") < INF)


def sssp(edges: DataFrame, rounds: int = SSSP_ROUNDS) -> DataFrame:
    """Bounded-hop single-source shortest path with integer edge weights
    (cnt) from the minimum vertex id → (v, dist). Bellman-Ford relaxation
    rounds = the multi-source hop loop of ``MSSPRunner.scala:96-107``
    restricted to one source; ``rounds`` bounds path hop count."""
    e = _cached(edges.select("src", "dst", "cnt"))
    verts = _cached(vertices(e))
    n = verts.count()
    src = verts.agg(F.min("v")).collect()[0][0]
    state0 = verts.select(
        "v", F.when(F.col("v") == src, F.lit(0)).otherwise(F.lit(INF)).cast("long").alias("dist")
    )

    def step(state: DataFrame, _i: int) -> DataFrame:
        # Exchange-free src-keyed gather (symmetric list carries the same
        # cnt on both directions, so dist(u)+cnt gathered at src equals
        # the delivered relaxation; see connected_components.step).
        st = state.select(F.col("v").alias("u"), F.col("dist").alias("du"))
        relax = (
            e.join(_bc(st, n), e.dst == F.col("u"))
            .groupBy(F.col("src").alias("v"))
            .agg(F.min(F.col("du") + F.col("cnt")).alias("m"))
        )
        return state.join(_bc(relax, n), "v", "left").select(
            "v", F.least(F.col("dist"), F.coalesce(F.col("m"), F.col("dist"))).alias("dist")
        )

    # Bellman-Ford must relax to quiescence for the distances to be true
    # shortest paths — prove the fixed point rather than trust the budget.
    # Reached set grows, reached distances shrink ⇒ the two-stat probe.
    out = iterate(
        state0,
        step,
        rounds,
        verify_fixpoint=stat_fixpoint_probe(
            f"count(if(dist < {INF}, 1, null))", f"sum(if(dist < {INF}, dist, 0))"
        ),
    )
    return out.where(F.col("dist") < INF)


def mssp(
    edges: DataFrame, n_sources: int = TRUST_SEEDS, rounds: int = SSSP_ROUNDS
) -> DataFrame:
    """Multi-source shortest paths (hop counts) to a landmark seed set →
    (v, landmark, dist) — ``MSSPRunner.scala:96-107``
    (``ShortestPaths.run(inputGraph, source.collect.toSeq)``): GraphX's
    per-vertex (landmark → hops) map flattened to rows, unreachable
    (landmark, v) pairs absent, seed set = the ``n_sources`` smallest
    vertex ids (the same convention as the TrustRank seed whitelist).

    The loop state carries one distance *column per landmark* on a single
    row per vertex, so every relaxation round joins |E| rows exactly like
    the single-source loop — the landmark fan-out happens inside the
    aggregate expressions (one hash-agg pass computes all per-landmark
    minima), not in the join volume. A tall (v, landmark) state would
    multiply the per-round shuffle by the seed count."""
    e = _cached(edges.select("src", "dst"))
    verts = _cached(vertices(e))
    n = verts.count()
    landmarks = [
        r["v"] for r in verts.orderBy("v").limit(n_sources).collect()
    ]
    cols = [f"x{k}" for k in range(len(landmarks))]
    state0 = verts.select(
        "v",
        *[
            F.when(F.col("v") == lm, F.lit(0))
            .otherwise(F.lit(INF))
            .cast("long")
            .alias(c)
            for c, lm in zip(cols, landmarks)
        ],
    )

    def step(state: DataFrame, _i: int) -> DataFrame:
        # Exchange-free src-keyed gather (see connected_components.step).
        st = state.select(F.col("v").alias("u"), *cols)
        relax = (
            e.join(_bc(st, n), e.dst == F.col("u"))
            .groupBy(F.col("src").alias("v"))
            .agg(*[F.min(F.col(c) + F.lit(1)).alias(f"m{k}") for k, c in enumerate(cols)])
        )
        return state.join(_bc(relax, n), "v", "left").select(
            "v",
            *[
                F.least(F.col(c), F.coalesce(F.col(f"m{k}"), F.col(c))).alias(c)
                for k, c in enumerate(cols)
            ],
        )

    # ShortestPaths runs to convergence — prove the fixed point: one agg
    # job computes per-landmark reached-count + guarded dist-sum (2L tiny
    # scalars) instead of the full-state exceptAll.
    mssp_stats = [
        s
        for c in cols
        for s in (
            f"count(if({c} < {INF}, 1, null))",
            f"sum(if({c} < {INF}, {c}, 0))",
        )
    ]
    out = iterate(
        state0, step, rounds, verify_fixpoint=stat_fixpoint_probe(*mssp_stats)
    )
    stacked = out.select(
        "v",
        F.explode(
            F.map_from_arrays(
                F.array(*[F.lit(lm).cast("long") for lm in landmarks]),
                F.array(*[F.col(c) for c in cols]),
            )
        ).alias("landmark", "dist"),
    )
    return stacked.where(F.col("dist") < INF)


def label_propagation(
    edges: DataFrame, n_iter: int = LPA_ITERS, csr=None
) -> DataFrame:
    """Synchronous LPA → (v, label): each round every vertex adopts its
    neighbors' most frequent label, ties broken by smaller label (GraphX
    ``LabelPropagation.run(graph, maxSteps)``,
    ``LabelPropagationRunner.scala:71``). Pass ``csr`` to run the rounds
    as a driver-side kernel (``_lpa_csr_kernel``)."""
    if csr is not None:
        return _lpa_csr_kernel(edges.sparkSession, csr, n_iter)
    e = _cached(edges.select("src", "dst"))
    verts = _cached(vertices(e))
    n = verts.count()
    state0 = verts.select("v", F.col("v").alias("label"))

    def step(state: DataFrame, _i: int) -> DataFrame:
        # Src-keyed gather over the symmetric list (neighbor-label
        # multiset is direction-invariant): hashpartitioning(src→v) from
        # the shared edge cache satisfies BOTH the per-(v,label) count and
        # the per-v argmax clustering, so the round is shuffle-free
        # (round-4 rework of the explicit repartition("v"), which moved
        # all 2|E| rows every round). max_by over the lexicographic
        # (count, -label) struct keeps the row_number-free argmax
        # (selection order identical: count desc, label asc).
        st = state.select(F.col("v").alias("u"), "label")
        counts = (
            e.join(_bc(st, n), e.dst == F.col("u"))
            .select(F.col("src").alias("v"), "label")
            .groupBy("v", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        return counts.groupBy("v").agg(
            F.max_by(
                "label", F.struct(F.col("c"), (-F.col("label")).alias("nl"))
            ).alias("label")
        )

    return iterate(state0, step, n_iter)


def kcore(
    edges: DataFrame, k: int = KCORE_K, rounds: int = KCORE_ROUNDS, csr=None
) -> DataFrame:
    """k-core peel → (v, deg): repeatedly drop vertices with degree < k in
    the remaining subgraph; output survivors with their final subgraph
    degree. The Pregel peel loop of ``KcoreMain.scala:43-77,113-128``
    expressed as join-filter rounds. Pass ``csr`` to run the peel as a
    driver-side kernel (``_kcore_csr_kernel``)."""
    if csr is not None:
        return _kcore_csr_kernel(edges.sparkSession, csr, k, rounds)
    e = _cached(edges.select("src", "dst"))
    state0 = _cached(vertices(e))
    n = state0.count()

    def step(active: DataFrame, _i: int) -> DataFrame:
        s = active.select(F.col("v").alias("sv"))
        t = active.select(F.col("v").alias("tv"))
        return (
            e.join(_bc(s, n), e.src == F.col("sv"))
            .join(_bc(t, n), e.dst == F.col("tv"))
            .groupBy(F.col("src").alias("v"))
            .agg(F.count(F.lit(1)).alias("deg"))
            .where(F.col("deg") >= k)
            .select("v")
        )

    # The peel must reach its fixed point — a truncated peel reports
    # vertices as k-core members that one more round would evict. The
    # active set only ever shrinks ⇒ count equality is the probe.
    active = iterate(
        state0, step, rounds, verify_fixpoint=stat_fixpoint_probe("count(1)")
    )
    s = active.select(F.col("v").alias("sv"))
    t = active.select(F.col("v").alias("tv"))
    return (
        e.join(_bc(s, n), e.src == F.col("sv"))
        .join(_bc(t, n), e.dst == F.col("tv"))
        .groupBy(F.col("src").alias("v"))
        .agg(F.count(F.lit(1)).alias("deg"))
    )


# ---- CSR kernel arm of the propagation loops --------------------------------
#
# Below ``ADJ_BC_MAX_EDGES`` the driver already holds the graph as CSR arrays
# (``copurchase_csr``). At that size each DataFrame superstep is a few Spark
# jobs of scheduling latency around very little data, so the kernels below
# run the identical synchronous rounds in numpy under ``iterate_local`` (the
# same budget, early exit and convergence guard as ``iterate``) and ship one
# result frame. Only the vertices with at least one edge appear, as in the
# DataFrame arm, whose state starts from the symmetric list's src set.


def _csr_arrays(csr):
    """Driver-side (indptr, nbrs, verts) of a ``csr_broadcast`` result;
    ``verts`` = ids with at least one edge, in ascending order."""
    import numpy as np

    bc, _n = csr
    indptr, nbrs = bc.value
    return indptr, nbrs, np.flatnonzero(np.diff(indptr) > 0)


def _kernel_frame(spark, **cols) -> DataFrame:
    """One long-typed frame from equal-length numpy columns."""
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame({c: a.astype("int64") for c, a in cols.items()}),
        ", ".join(f"{c} long" for c in cols),
    )


def _cc_csr_kernel(spark, csr, n_iter: int) -> DataFrame:
    """``connected_components`` rounds over the CSR: label ← min(label,
    min neighbor label). The non-empty neighbor slices tile ``nbrs`` in
    vertex order, so one ``minimum.reduceat`` over their offsets is the
    per-vertex gather."""
    import numpy as np

    indptr, nbrs, verts = _csr_arrays(csr)
    starts = indptr[verts]

    def step(lab):
        out = lab.copy()
        out[verts] = np.minimum(lab[verts], np.minimum.reduceat(lab[nbrs], starts))
        return out

    lab0 = np.arange(len(indptr) - 1, dtype=np.int64)
    lab = iterate_local(lab0, step, n_iter, verify_fixpoint=True)
    return _kernel_frame(spark, v=verts, label=lab[verts])


def _lpa_csr_kernel(spark, csr, n_iter: int) -> DataFrame:
    """``label_propagation`` rounds over the CSR: per vertex, the most
    frequent neighbor label, ties to the smaller label. Neighbor labels
    are sorted within each vertex's slots, run-length counted, and the
    (count desc, label asc) winner taken per vertex. Like the DataFrame
    loop, no convergence guard (LPA may oscillate); the frame is
    hash-partitioned on ``v`` as the loop's output was, so consumers that
    join on ``v`` (``modularity``) keep their plan shape."""
    import numpy as np

    indptr, nbrs, verts = _csr_arrays(csr)
    owner = np.repeat(np.arange(len(indptr) - 1), np.diff(indptr))

    def step(lab):
        nl = lab[nbrs]
        order = np.lexsort((nl, owner))
        so, sl = owner[order], nl[order]
        head = np.flatnonzero(
            np.r_[True, (so[1:] != so[:-1]) | (sl[1:] != sl[:-1])]
        )
        cnt = np.diff(np.r_[head, len(so)])
        go, gl = so[head], sl[head]
        pick = np.lexsort((gl, -cnt, go))
        go, gl = go[pick], gl[pick]
        first = np.r_[True, go[1:] != go[:-1]]
        out = lab.copy()
        out[go[first]] = gl[first]
        return out

    lab0 = np.arange(len(indptr) - 1, dtype=np.int64)
    lab = iterate_local(lab0, step, n_iter)
    return _kernel_frame(spark, v=verts, label=lab[verts]).repartition("v")


def _kcore_csr_kernel(spark, csr, k: int, rounds: int) -> DataFrame:
    """``kcore`` peel over the CSR: a vertex stays active while it has at
    least ``max(k, 1)`` active neighbors (the DataFrame step's per-src
    count only has rows for vertices with an active neighbor)."""
    import numpy as np

    indptr, nbrs, verts = _csr_arrays(csr)
    starts = indptr[verts]
    floor = max(k, 1)

    def active_deg(active):
        deg = np.zeros(len(active), dtype=np.int64)
        deg[verts] = np.add.reduceat(active[nbrs].astype(np.int64), starts)
        return np.where(active, deg, 0)

    active = iterate_local(
        np.diff(indptr) > 0,
        lambda a: active_deg(a) >= floor,
        rounds,
        verify_fixpoint=True,
    )
    deg = active_deg(active)
    keep = np.flatnonzero(deg > 0)
    return _kernel_frame(spark, v=keep, deg=deg[keep])


# ---- triangle family (§2.3 #13-14) ----------------------------------------


def triangles(pairs: DataFrame, csr=None) -> DataFrame:
    """Per-vertex triangle counts → (v, triangles), zero-filled for
    triangle-free vertices (GraphX ``TriangleCount.run`` on canonical
    edges, ``TrangleCountRunner.scala:81``).

    With ``csr`` (a ``csr_broadcast`` of ``pairs``) the broadcast-CSR
    kernel runs — per vertex u one vectorized pass computes
    t(u) = Σ_{w∈N(u)} |N(u)∩N(w)| / 2, no wedge rows ever shuffle;
    without it, the canonical two-path + closing-edge join (work scales
    with the actual wedge count, AQE handles skew). Identical exact
    counts; the join arm is the 100 TB path. Whether the graph fits the
    broadcast is the caller's decision (``csr_gated``); the result is
    lazy either way."""
    if csr is not None:
        return _triangles_csr_kernel(pairs, csr)
    return _triangles_wedge_join(pairs)


def _triangles_wedge_join(pairs: DataFrame) -> DataFrame:
    """(v, triangles) by relational joins — one canonical triangle a<b<c
    per closed triple via the two-path + closing-edge join. ``pairs`` is
    scanned four times; registry callers pass the session-cached edge list
    (re-caching the projection here would pin a copy with no release
    path)."""
    p = pairs.select("src", "dst")
    e1 = p.toDF("a", "b")
    e2 = p.toDF("b", "c")
    e3 = p.toDF("a", "c")
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    per = (
        tri.select(F.col("a").alias("v"))
        .unionAll(tri.select(F.col("b").alias("v")))
        .unionAll(tri.select(F.col("c").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    verts = vertices(symmetrize(pairs.withColumn("cnt", F.lit(1))))
    return verts.join(per, "v", "left").select(
        "v", F.coalesce(F.col("t"), F.lit(0)).alias("triangles")
    )


def _triangles_csr_kernel(pairs: DataFrame, csr) -> DataFrame:
    """(v, triangles) by the broadcast-CSR counting kernel: each task owns
    a vertex range; per vertex u, every two-hop endpoint reached through
    N(u) that is itself a member of N(u) closes a triangle, so
    Σ_{w∈N(u)} common(u, w) is one vectorized binary search of the two-hop
    multiset against the sorted neighbor slice — every triangle at u is
    seen via both of its u-edges, hence the /2. Work is proportional to
    the wedges at u (O(Σ_{b∈N(u)} deg b · log deg u)); no |V|-sized buffer
    per vertex, so sparse many-vertex graphs (e.g. road networks) stay
    linear-ish rather than O(|V|²) (round-4 verdict fix). Only (v, t) rows
    for owned vertices move over the wire. Spark-side shape mirrors
    ``_match_counts_csr_kernel``; ``csr`` is the caller's
    ``csr_broadcast`` of ``pairs``, which the caller releases."""
    import numpy as np
    import pandas as pd

    spark = pairs.sparkSession
    bc, n = csr

    def kern(pdf_iter):
        ip, nb = bc.value
        for pdf in pdf_iter:
            us = pdf["u"].to_numpy()
            ts = np.zeros(len(us), dtype=np.int64)
            for i, u in enumerate(us):
                nu = nb[ip[u] : ip[u + 1]]
                if len(nu) < 2:
                    continue
                ws = np.concatenate([nb[ip[b] : ip[b + 1]] for b in nu])
                ts[i] = _sorted_membership_count(nu, ws) // 2
            yield pd.DataFrame({"v": us, "triangles": ts})

    parts = spark.sparkContext.defaultParallelism * 2
    per = (
        spark.range(0, n)
        .toDF("u")
        .repartition(parts)
        .mapInPandas(kern, "v long, triangles long")
    )
    verts = vertices(symmetrize(pairs.withColumn("cnt", F.lit(1))))
    return verts.join(per, "v").select("v", "triangles")


def clustering_coefficient(
    pairs: DataFrame,
    deg: DataFrame | None = None,
    tri: DataFrame | None = None,
) -> DataFrame:
    """Local clustering coefficient → (v, lcc): 2·tri(v) / (deg·(deg−1)),
    0.0 when deg < 2 (``ClusteringCoefficientRunner.scala:104-113``
    ``runLocalClusteringCoefficient``). Pass ``deg`` (v, deg) / ``tri``
    (v, triangles) to reuse shared relations (the degree's distinct-
    neighbor count is weight-invariant)."""
    if tri is None:
        tri = triangles(pairs)
    if deg is None:
        deg = degrees(symmetrize(pairs.withColumn("cnt", F.lit(1)))).select("v", "deg")
    return tri.join(deg, "v").select(
        "v",
        round_half_up(
            F.when(
                F.col("deg") < 2, F.lit(0.0)
            ).otherwise(
                2.0 * F.col("triangles") / (F.col("deg") * (F.col("deg") - F.lit(1.0)))
            ),
            6,
        ).alias("lcc"),
    )


def modularity(
    pairs: DataFrame,
    communities: DataFrame,
    deg: DataFrame | None = None,
    m: int | None = None,
) -> DataFrame:
    """Modularity Q of a community assignment → one row (modularity).
    ``ModularityRunner.scala:84`` (``Modularity.run``): Q = Σ_c [L_c/m −
    (D_c/2m)²] on the unweighted undirected graph. Pass ``deg``/``m`` to
    reuse session-shared degree rows and edge count."""
    if deg is None:
        # Degrees need one pass over the symmetrized list — no persist (the
        # relation is scanned exactly once here; caching only costs memory).
        deg = degrees(symmetrize(pairs.withColumn("cnt", F.lit(1)))).select("v", "deg")
    if m is None:
        m = pairs.count()
    lab = communities.select("v", "label")
    intra = (
        pairs.join(lab.toDF("v", "lsrc"), pairs.src == F.col("v"))
        .drop("v")
        .join(lab.toDF("v", "ldst"), pairs.dst == F.col("v"))
        .where(F.col("lsrc") == F.col("ldst"))
        .groupBy(F.col("lsrc").alias("label"))
        .agg(F.count(F.lit(1)).alias("lc"))
    )
    degc = (
        deg
        .join(lab, "v")
        .groupBy("label")
        .agg(F.sum("deg").alias("dc"))
    )
    per_c = degc.join(intra, "label", "left").select(
        (
            F.coalesce(F.col("lc"), F.lit(0)) / F.lit(float(m))
            - (F.col("dc") / F.lit(2.0 * m)) * (F.col("dc") / F.lit(2.0 * m))
        ).alias("q")
    )
    return per_c.agg(round_half_up(F.sum("q"), 6).alias("modularity"))


# ---- nation trade graph: SCC / closeness (§2.3 #9,18) ----------------------


def _closure(edges: DataFrame, doublings: int = CLOSURE_DOUBLINGS) -> DataFrame:
    """Transitive closure (src, dst) — the pair set of the min-plus
    closure (identical reachability; distances dropped). Delegates so both
    arms — the size-gated local Floyd-Warshall kernel and the distributed
    doubling loop with its fixed-point probe — serve standalone ``scc``
    callers too."""
    return min_plus_closure(edges, doublings).select("src", "dst")


def scc(edges: DataFrame, reach: DataFrame | None = None) -> DataFrame:
    """Strongly connected components by mutual reachability over the exact
    transitive closure → (v, label = min mutually-reachable id, self
    included). ``StronglyConnectedComponentsRunner.scala:68`` semantics;
    valid for small-diameter graphs (nation trade graph, ≤ 25 vertices —
    the closure doubles past the diameter). Pass ``reach`` (a complete
    (src, dst) reachability relation, e.g. the pair set of the shared
    min-plus closure) to skip the closure loop."""
    r = _cached(_closure(edges)) if reach is None else reach
    verts = (
        edges.select(F.col("src").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("v")))
        .distinct()
    )
    fwd = r.toDF("u", "v")
    bwd = r.toDF("v", "u")
    mutual = fwd.join(bwd, ["u", "v"])
    m = mutual.groupBy("v").agg(F.min("u").alias("mu"))
    return verts.join(m, "v", "left").select(
        "v", F.least(F.col("v"), F.coalesce(F.col("mu"), F.col("v"))).alias("label")
    )


#: Edge ceiling for the local min-plus kernel. |V| ≤ 2|E|, so 1k edges
#: bounds the dense int64 dist matrix at 2k² cells = 32 MB and the
#: Floyd-Warshall work at ~8e9 vectorized ops (seconds) worst-case —
#: trivially driver-safe, and real inputs at the gate (the 25-vertex
#: nation graph) are thousands of times smaller. The distributed squaring
#: loop remains the scale arm.
TINY_CLOSURE_MAX_EDGES = 1_000


def _min_plus_closure_local(edges: DataFrame) -> DataFrame:
    """Size-gated local arm: collect the (bounded) edge list, run the same
    min-plus repeated squaring on a dense numpy matrix to its fixed point,
    and return the closure rows as a regular DataFrame. The nation trade
    graph is ≤ 25 vertices — the distributed loop's ~8 supersteps cost
    ~5s of pure job-scheduling overhead for a 625-row result (round-4
    verdict item 6); this is the CSR-pattern local kernel for it.
    Semantics identical to the distributed arm: dist = min #edges over
    paths of length ≥ 1 (so cycles give finite src==dst entries)."""
    import numpy as np
    import pandas as pd

    e = edges.select("src", "dst").toPandas()
    ids = np.unique(np.concatenate([e["src"].to_numpy(), e["dst"].to_numpy()]))
    pos = {int(v): i for i, v in enumerate(ids)}
    n = len(ids)
    big = np.iinfo(np.int64).max // 4  # safe +: big+big never overflows
    d = np.full((n, n), big, dtype=np.int64)
    for s, t in zip(e["src"], e["dst"]):
        d[pos[int(s)], pos[int(t)]] = 1
    # Floyd-Warshall, one vectorized O(n²) relaxation per intermediate k —
    # O(n²) memory (a 3-D min-plus square would be O(n³)). In-place over k
    # also yields the finite src==dst minimum-cycle entries.
    for k in range(n):
        np.minimum(d, d[:, k : k + 1] + d[k : k + 1, :], out=d)
    src_i, dst_i = np.nonzero(d < big)
    out = pd.DataFrame(
        {
            "src": ids[src_i].astype("int64"),
            "dst": ids[dst_i].astype("int64"),
            "dist": d[src_i, dst_i],
        }
    )
    return edges.sparkSession.createDataFrame(
        out, "src long, dst long, dist long"
    )


def min_plus_closure(edges: DataFrame, doublings: int = CLOSURE_DOUBLINGS) -> DataFrame:
    """All-pairs shortest hop counts (src, dst, dist) by min-plus repeated
    squaring — exact once the doubling passes the diameter (probed).
    Strategy dispatch (the CSR-kernel pattern): graphs small enough that
    the dense dist matrix is trivially driver-safe run one local numpy
    squaring (the distributed loop is ~8 fixed-size supersteps of pure
    overhead for a 25-vertex graph); everything else runs the distributed
    doubling loop — the scale arm."""
    own = edges.storageLevel == StorageLevel.NONE
    if own:
        edges = _cached(edges)  # gate count + chosen arm share one pass
    try:
        if edges.count() <= TINY_CLOSURE_MAX_EDGES:
            return _min_plus_closure_local(edges)  # collects eagerly

        def step(d: DataFrame, _i: int) -> DataFrame:
            a = d.toDF("src", "mid", "d1")
            b = d.toDF("mid", "dst", "d2")
            both = d.unionByName(
                a.join(b, "mid").select(
                    "src", "dst", (F.col("d1") + F.col("d2")).alias("dist")
                )
            )
            return both.groupBy("src", "dst").agg(F.min("dist").alias("dist"))

        d0 = edges.select("src", "dst", F.lit(1).cast("long").alias("dist"))
        # Pair set grows; given equal counts only per-pair dist decreases
        # can remain, so (count, Σdist) equality ⟺ fixed point.
        return iterate(
            d0,
            step,
            doublings,
            verify_fixpoint=stat_fixpoint_probe("count(1)", "sum(dist)"),
        )
    finally:
        # Both arms are fully materialized before return (local collect /
        # eager localCheckpoint in ``iterate``), so an own-persisted gate
        # cache never outlives this call (round-5 review: each standalone
        # scc/closeness invocation pinned another copy for the session).
        if own:
            edges.unpersist(blocking=False)


def closeness(edges: DataFrame, d: DataFrame | None = None) -> DataFrame:
    """Out-closeness on the directed graph via exact min-plus closure →
    (v, closeness = reached / Σ dist), vertices reaching nobody omitted.
    ``ClosenessRunner.scala:108-110`` (BoostKit sampled closeness; here
    exact — the ratio param is 1.0). Pass ``d`` (a complete (src, dst,
    dist) closure, e.g. the session-shared one) to skip the loop."""
    if d is None:
        d = min_plus_closure(edges)
    return (
        d.where(F.col("src") != F.col("dst"))
        .groupBy(F.col("src").alias("v"))
        .agg(
            round_half_up(
                F.count(F.lit(1)) / F.sum("dist").cast("double"), 6
            ).alias("closeness")
        )
    )


def nation_degrees(edges: DataFrame) -> DataFrame:
    """In/out degrees of the directed nation graph → (v, out_deg, in_deg).
    ``DegreeRunner.scala:95-100`` (``inDegrees``/``outDegrees``)."""
    out_d = edges.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    in_d = edges.groupBy(F.col("dst").alias("v")).agg(
        F.count(F.lit(1)).alias("in_deg")
    )
    return (
        out_d.join(in_d, "v", "full")
        .select(
            "v",
            F.coalesce(F.col("out_deg"), F.lit(0)).alias("out_deg"),
            F.coalesce(F.col("in_deg"), F.lit(0)).alias("in_deg"),
        )
    )


# ---- subgraph matching (§2.3 #22) ------------------------------------------

#: Edge ceiling of ``csr_gated``, the one gate of every CSR kernel arm
#: (~8 bytes/edge as int32 neighbor+indptr arrays → ≤ ~200 MB broadcast at
#: the ceiling).
ADJ_BC_MAX_EDGES = 25_000_000


def csr_broadcast(pairs: DataFrame):
    """Symmetrized CSR adjacency of an undirected (src<dst) pair list,
    shipped once as a Spark broadcast → (broadcast of (indptr, nbrs),
    n_vertices). Shared by the kernel-strategy operators: in Spark tasks
    (triangles, subgraph matching, sampled betweenness) and on the driver
    (the connected-components, label-propagation and k-core kernels read
    the same arrays through ``bc.value``); callers build it through
    ``csr_gated`` — the broadcast is O(|E|).

    Each vertex's neighbor slice is SORTED ascending: the counting kernels
    binary-search it (``searchsorted``), which is what keeps their
    per-vertex work O(Σ_{b∈N(u)} deg b · log deg u) — proportional to the
    graph's actual wedge count — instead of the O(|V|) full-width bincount
    per vertex that made sparse many-vertex graphs quadratic (round-4
    verdict).

    Vertex ids index the arrays directly: ``indptr`` has max id + 2
    entries, so memory is O(max id), not O(|V|) — sparse large ids cost
    dense arrays. Neighbor ids are stored as int32, so an id outside
    [0, 2^31) raises ``ValueError`` instead of wrapping."""
    import numpy as np

    edges = pairs.select("src", "dst").toPandas()
    srcs = edges["src"].to_numpy()
    dsts = edges["dst"].to_numpy()
    all_src = np.concatenate([srcs, dsts])
    all_nbr = np.concatenate([dsts, srcs])
    lo, hi = int(all_src.min()), int(all_src.max())
    if lo < 0 or hi >= 2**31:
        raise ValueError(
            f"csr_broadcast: vertex ids must lie in [0, 2^31), got [{lo}, {hi}]"
        )
    n = hi + 1
    deg = np.bincount(srcs, minlength=n) + np.bincount(dsts, minlength=n)
    # lexsort: primary key = source vertex (slice layout), secondary =
    # neighbor id (sorted within each slice).
    order = np.lexsort((all_nbr, all_src))
    nbrs = all_nbr[order].astype(np.int32)
    indptr = np.concatenate([[0], np.cumsum(deg)]).astype(np.int64)
    return pairs.sparkSession.sparkContext.broadcast((indptr, nbrs)), n


def _sorted_membership_count(sorted_arr, values):
    """How many elements of ``values`` (with multiplicity) are members of
    ``sorted_arr`` — one vectorized binary search, no |V|-sized buffer."""
    import numpy as np

    if len(values) == 0 or len(sorted_arr) == 0:
        return 0
    idx = np.searchsorted(sorted_arr, values)
    idx[idx == len(sorted_arr)] = len(sorted_arr) - 1
    return int((sorted_arr[idx] == values).sum())


def copurchase_csr(cat: Catalog):
    """Session-shared CSR broadcast of the co-purchase adjacency →
    ((broadcast, n_vertices)). Every CSR-kernel consumer of the co-purchase
    graph ships the identical adjacency; one driver materialization +
    broadcast serves them all (callers must NOT unpersist it)."""
    return _derived_obj(
        cat, "copurchase_csr", lambda: csr_broadcast(copurchase_pairs(cat))
    )


def csr_gated(n_edges: int, build):
    """``build()`` (a ``csr_broadcast`` of a graph with ``n_edges``
    canonical edges) when ``ADJ_BC_MAX_EDGES`` admits the graph, else None
    without calling it — the one gate of every CSR kernel arm. The
    operators run their kernel iff they are handed a CSR, so past the
    ceiling nothing reaches the driver."""
    return build() if n_edges <= ADJ_BC_MAX_EDGES else None


def copurchase_csr_gated(cat: Catalog):
    """``csr_gated`` for the co-purchase graph, on the session-memoized
    edge count: the session ``copurchase_csr(cat)`` or None — what the
    registry rows pass as their kernel arms' ``csr``."""
    m, _w = copurchase_edge_stats(cat)
    return csr_gated(m, lambda: copurchase_csr(cat))


def _match_counts_wedge_join(pairs: DataFrame) -> tuple[int, int]:
    """(triangles, four_cycles) by relational joins — the sparse/large-graph
    strategy. Work is Σ C(deg,2) wedge rows; the (u,w) aggregation shuffles
    O(distinct endpoint pairs).

    An adjacency-array explode (collect_list + nested transform) was tried
    and ran 3.6× slower — the higher-order array functions fall back to
    interpreted eval; the join keeps whole-stage codegen."""
    p = _cached(pairs.select("src", "dst"))
    try:
        return _match_counts_wedge_join_on(p)
    finally:
        p.unpersist(blocking=False)  # scalar outputs — the cache is spent


def _match_counts_wedge_join_on(p: DataFrame) -> tuple[int, int]:
    e1 = p.toDF("a", "b")
    e2 = p.toDF("b", "c")
    e3 = p.toDF("a", "c")
    tri_n = e1.join(e2, "b").join(e3, ["a", "c"]).count()

    sym = symmetrize(p.withColumn("cnt", F.lit(1))).select("src", "dst")
    s1 = sym.toDF("u", "b")
    s2 = sym.toDF("b", "w")
    common = (
        s1.join(s2, "b")
        .where(F.col("u") < F.col("w"))
        .groupBy("u", "w")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    sq = common.agg(
        (F.sum(F.col("k") * (F.col("k") - 1) / 2) / 2).cast("long").alias("n")
    ).collect()[0][0]
    return int(tri_n), int(sq)


def _match_counts_csr_kernel(pairs: DataFrame, csr) -> tuple[int, int]:
    """(triangles, four_cycles) by a broadcast-CSR counting kernel — the
    fits-in-a-broadcast strategy.

    The co-purchase graph is near-regular and nearly dense (sf0.1: 20k
    vertices, 1.2M undirected edges, 148M wedges with ~101M *distinct*
    endpoint pairs), so the wedge join's partial aggregation compresses
    nothing and the plan shuffles ~100M (u,w) rows. Here the symmetric
    adjacency ships once as a CSR broadcast; each task scans a vertex range
    and, per vertex u, gathers the two-hop endpoint multiset through N(u):

    - four-cycles: Σ_{u<w} C(common(u,w), 2) counts each cycle twice
      (once per diagonal), so the grand total halves at the end — the
      per-endpoint multiplicities come from a sort + run-length encode of
      the endpoints > u, O(wedges·log wedges) per vertex;
    - triangles:   Σ_{(u,w)∈E, u<w} common(u,w) counts each triangle three
      times (once per edge) — one binary search of the endpoints > u
      against the sorted neighbor slice.

    Neither pass allocates a |V|-sized buffer (the former full-width
    bincount made sparse many-vertex graphs O(|V|²) total — round-4
    verdict fix); work is proportional to the actual wedge count, the same
    asymptotics as the join arm with broadcast-local constants. Only two
    partial-sum rows per task move over the wire — no pair shuffle at all.
    Identical counts to the join strategy (pytest pins equality on the
    fixture). ``csr`` is the caller's ``csr_broadcast`` of ``pairs``; the
    broadcast is O(|E|), so callers hand it over only below
    ``ADJ_BC_MAX_EDGES`` (``csr_gated``) and release their own."""
    import numpy as np
    import pandas as pd

    spark = pairs.sparkSession
    bc, n = csr

    def kern(pdf_iter):
        ip, nb = bc.value
        for pdf in pdf_iter:
            tot_sq = 0
            tot_tri = 0
            for u in pdf["u"].to_numpy():
                nu = nb[ip[u] : ip[u + 1]]
                if len(nu) == 0:
                    continue
                ws = np.concatenate([nb[ip[b] : ip[b + 1]] for b in nu])
                wg = ws[ws > u]
                if len(wg) == 0:
                    continue
                tot_tri += _sorted_membership_count(nu, wg)
                # multiplicity histogram of endpoints > u via sort + RLE
                wg.sort()
                edges_at = np.nonzero(np.diff(wg))[0]
                k = np.diff(
                    np.concatenate(([-1], edges_at, [len(wg) - 1]))
                ).astype(np.int64)
                tot_sq += int((k * (k - 1) // 2).sum())
            yield pd.DataFrame({"sq": [tot_sq], "tri": [tot_tri]})

    parts = spark.sparkContext.defaultParallelism * 2
    totals = (
        spark.range(0, n)
        .toDF("u")
        .repartition(parts)
        .mapInPandas(kern, "sq long, tri long")
        .groupBy()
        .agg(F.sum("sq").alias("sq"), F.sum("tri").alias("tri"))
        .collect()[0]
    )
    return int(totals["tri"]) // 3, int(totals["sq"]) // 2


def subgraph_match_counts(pairs: DataFrame, csr=None) -> DataFrame:
    """Template match counts on the co-purchase graph → rows
    (template, matches) for the triangle and 4-cycle templates —
    ``SubgraphMatchingRunner.scala:82-94`` (``run(dataGraph, queryEdgeList,
    …, resultNum)`` returns match counts for small query graphs).

    With ``csr`` (a ``csr_broadcast`` of ``pairs``) the CSR-broadcast
    counting kernel runs (no pair shuffle); without it, the
    wedge-enumeration join (work scales with actual wedge count, AQE
    handles skew — the path past ``csr_gated``'s ceiling). Both produce
    identical exact counts."""
    if csr is not None:
        tri_n, sq = _match_counts_csr_kernel(pairs, csr)
    else:
        tri_n, sq = _match_counts_wedge_join(pairs)
    spark = pairs.sparkSession
    return spark.createDataFrame(
        [("triangle", tri_n), ("four_cycle", sq)], "template string, matches long"
    )


# ---- registry entries ------------------------------------------------------


def graph_edges(cat: Catalog) -> DataFrame:
    return copurchase_pairs(cat)


def graph_degrees(cat: Catalog) -> DataFrame:
    return copurchase_degrees(cat)


def graph_pagerank(cat: Catalog) -> DataFrame:
    return pagerank(
        sym_copurchase(cat),
        verts=copurchase_verts(cat),
        n_verts=copurchase_n_verts(cat),
        e=pr_share_edges(cat, weighted=False),
    )


def graph_pagerank_personalized(cat: Catalog) -> DataFrame:
    return personalized_pagerank(
        sym_copurchase(cat),
        verts=copurchase_verts(cat),
        n_verts=copurchase_n_verts(cat),
        e=pr_share_edges(cat, weighted=False),
    )


def graph_ppr_multi(cat: Catalog) -> DataFrame:
    return ppr_multi(
        sym_copurchase(cat),
        verts=copurchase_verts(cat),
        n_verts=copurchase_n_verts(cat),
        e=pr_share_edges(cat, weighted=False),
    )


def graph_pagerank_weighted(cat: Catalog) -> DataFrame:
    return weighted_pagerank(
        sym_copurchase(cat),
        verts=copurchase_verts(cat),
        n_verts=copurchase_n_verts(cat),
        e=pr_share_edges(cat, weighted=True),
    )


def graph_trustrank(cat: Catalog) -> DataFrame:
    return trustrank(
        sym_copurchase(cat),
        verts=copurchase_verts(cat),
        n_verts=copurchase_n_verts(cat),
        e=pr_share_edges(cat, weighted=False),
    )


def graph_connected_components(cat: Catalog) -> DataFrame:
    return connected_components(sym_copurchase(cat), csr=copurchase_csr_gated(cat))


def graph_bfs(cat: Catalog) -> DataFrame:
    return bfs(sym_copurchase(cat))


def graph_sssp(cat: Catalog) -> DataFrame:
    return sssp(sym_copurchase(cat))


def graph_mssp(cat: Catalog) -> DataFrame:
    return mssp(sym_copurchase(cat))


def lpa_communities(cat: Catalog) -> DataFrame:
    """Session-shared LPA labeling — ``graph_modularity`` scores this very
    assignment, so the LPA_ITERS loop runs once per session, not twice.
    Memoized, not persisted: the result is already materialized — the
    kernel arm's is a frame over driver-built rows, the DataFrame arm's is
    ``iterate``'s eager ``localCheckpoint`` — so a cache and count of it
    would only add a job."""
    return _derived_obj(
        cat,
        "lpa_labels",
        lambda: label_propagation(
            sym_copurchase(cat), csr=copurchase_csr_gated(cat)
        ),
    )


def graph_label_propagation(cat: Catalog) -> DataFrame:
    return lpa_communities(cat)


def graph_kcore(cat: Catalog) -> DataFrame:
    return kcore(sym_copurchase(cat), csr=copurchase_csr_gated(cat))


def copurchase_triangles(cat: Catalog) -> DataFrame:
    """Session-shared per-vertex triangle counts — the triangle-count query
    and the clustering coefficient consume the identical relation; the
    kernel arm reuses the session CSR broadcast when the gate admits it."""

    def build() -> DataFrame:
        return triangles(copurchase_pairs(cat), csr=copurchase_csr_gated(cat))

    return _derived(cat, "copurchase_triangles", build)


def graph_triangle_count(cat: Catalog) -> DataFrame:
    return copurchase_triangles(cat)


def graph_clustering_coefficient(cat: Catalog) -> DataFrame:
    return clustering_coefficient(
        copurchase_pairs(cat),
        deg=copurchase_degrees(cat).select("v", "deg"),
        tri=copurchase_triangles(cat),
    )


def copurchase_edge_stats(cat: Catalog) -> tuple[int, float]:
    """Session-shared (m = canonical edge count, w = total canonical
    weight), computed by the action that materializes ``sym_copurchase``
    — no job of its own."""
    return _derived_value(cat, "sym_copurchase", sym_copurchase)


def graph_modularity(cat: Catalog) -> DataFrame:
    m, _w = copurchase_edge_stats(cat)
    return modularity(
        copurchase_pairs(cat),
        lpa_communities(cat),
        deg=copurchase_degrees(cat).select("v", "deg"),
        m=m,
    )


def _nation_closure(cat: Catalog) -> DataFrame:
    """Session-shared min-plus closure of the nation trade graph: its pair
    set IS the transitive closure, so closeness (distances) and SCC
    (mutual reachability) both read one materialized loop."""
    return _derived(
        cat,
        "nation_minplus_closure",
        lambda: min_plus_closure(nation_trade_edges(cat)),
    )


def graph_scc_nation(cat: Catalog) -> DataFrame:
    return scc(
        nation_trade_edges(cat), reach=_nation_closure(cat).select("src", "dst")
    )


def graph_closeness_nation(cat: Catalog) -> DataFrame:
    return closeness(nation_trade_edges(cat), d=_nation_closure(cat))


def graph_degrees_nation(cat: Catalog) -> DataFrame:
    return nation_degrees(nation_trade_edges(cat))


def graph_subgraph_matching(cat: Catalog) -> DataFrame:
    # the session CSR is shared with the other kernel rows
    return subgraph_match_counts(
        copurchase_pairs(cat), csr=copurchase_csr_gated(cat)
    )


#: registry-exported query names (order derived in registry.build_registry)
QUERIES = (
    "graph_edges",
    "graph_degrees",
    "graph_pagerank",
    "graph_pagerank_personalized",
    "graph_ppr_multi",
    "graph_pagerank_weighted",
    "graph_trustrank",
    "graph_connected_components",
    "graph_bfs",
    "graph_sssp",
    "graph_mssp",
    "graph_label_propagation",
    "graph_kcore",
    "graph_triangle_count",
    "graph_clustering_coefficient",
    "graph_modularity",
    "graph_degrees_nation",
    "graph_scc_nation",
    "graph_closeness_nation",
    "graph_subgraph_matching",
)
