"""Heavier graph algorithms (SURVEY §2.3 #4, 11, 17, 19-23).

Most of these are BoostKit closed-source kernels in the reference — only
call signatures and output shapes are observable (SURVEY §7 risk (4)).
Each docstring states the semantics implemented; deviations from the
unobservable reference internals are deterministic and documented.
Everything except betweenness/node2vec-embeddings is a pure function of
the input and carries an exact unrolled-SQL oracle in ``graph_oracles``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_ml_algo_lib_master_tongji_spark.functions.rounding import round_half_up
from spark_ml_algo_lib_master_tongji_spark.operators.graph import (
    CC_ITERS,
    PR_ITERS,
    RESET,
    _bc,
    _cached,
    _derived,
    _pagerank_loop,
    copurchase_degrees,
    copurchase_pairs,
    degrees,
    nation_trade_edges,
    sym_copurchase,
    vertices,
)
from spark_ml_algo_lib_master_tongji_spark.plans.iterative import (
    iterate,
    monotone_sum_probe,
)
from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog

INC_CUTOFF = "1997-07-01"
INC_ITERS = 4
RATE_MIN = 0.2
RATE_MAX = 5.0
CLIQUE_MIN_W = 2
WCE_ROUNDS = 10
LOUVAIN_ROUNDS = 3
# Coarse-level local-move rounds: on the aggregated community graph most
# moves land in round 1; two rounds measured Q-equivalent on the fixtures
# at a third less loop cost. The SQL oracle unrolls the same count.
LOUVAIN_L2_ROUNDS = 2
WALK_LEN = 4  # steps beyond the start node
WALKS_PER_NODE = 2
# Deterministic pseudo-random step selector (identical integer arithmetic
# in Spark and DuckDB — no RNG, no hash function divergence).
H_A, H_B, H_C = 1315423911, 2654435761, 97531


# ---- incremental PageRank (§2.3 #4) ---------------------------------------


def prior_copurchase_pairs(cat: Catalog) -> DataFrame:
    """SYMMETRIC co-purchase edges restricted to lineitems shipped before
    INC_CUTOFF — the 'previous snapshot' whose ranks seed the incremental
    run (``IncPageRankRunner.scala:102-114``: ORC graph with per-vertex
    status + previous pr). Both directions, ready for the PR loop."""
    li = cat.lineitem.where(
        F.col("l_shipdate") < F.lit(INC_CUTOFF).cast("timestamp")
    ).select("l_orderkey", "l_partkey")
    a = li.toDF("ok", "src")
    b = li.toDF("ok", "dst")
    # Symmetric in one shuffle chain, same shape as ``sym_copurchase``:
    # repartition(src) before the agg keeps the groupBy exchange-free.
    return (
        a.join(b, "ok")
        .where(F.col("src") != F.col("dst"))
        .repartition("src")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def incremental_pagerank(cat: Catalog) -> DataFrame:
    """Warm-start PageRank → (v, pr): run PR_ITERS rounds on the pre-cutoff
    snapshot, seed the full graph with those ranks (new vertices start at
    the uniform reset value), then run only INC_ITERS refinement rounds.
    Deviation: BoostKit recomputes just the dirty subgraph; the warm start
    is the portable DataFrame equivalent — fewer full-graph rounds instead
    of a partial-graph recompute."""
    prior_edges = _cached(prior_copurchase_pairs(cat))
    pverts = vertices(prior_edges)
    pn = pverts.count()
    if pn > 0:
        preset = pverts.select("v", F.lit(RESET / pn).alias("reset"))
        prior = _pagerank_loop(prior_edges, pverts, preset, weighted=False)
    else:
        # empty prior snapshot (cutoff before all shipments): cold start —
        # every vertex seeds at the uniform reset value below
        prior = pverts.select("v", F.lit(0.0).alias("pr"))

    from spark_ml_algo_lib_master_tongji_spark.operators.graph import (
        copurchase_n_verts,
        copurchase_verts,
        pr_share_edges,
    )

    full_edges = sym_copurchase(cat)
    fverts = copurchase_verts(cat)
    fn = copurchase_n_verts(cat)
    if fn == 0:
        return fverts.select("v", F.lit(0.0).alias("pr"))
    freset = fverts.select("v", F.lit(RESET / fn).alias("reset"))
    state0 = (
        fverts.join(prior.toDF("v", "ppr"), "v", "left")
        .select("v", F.coalesce(F.col("ppr"), F.lit(RESET / fn)).alias("pr"))
    )
    pr = _pagerank_loop(
        full_edges,
        fverts,
        freset,
        weighted=False,
        n_iter=INC_ITERS,
        state0=state0,
        n_verts=fn,
        e=pr_share_edges(cat, weighted=False),
    )
    return pr.select("v", round_half_up(F.col("pr"), 6).alias("pr"))


# ---- cycle detection with constraints (§2.3 #21) ---------------------------


def cycle_detection(cat: Catalog) -> DataFrame:
    """Bounded directed cycles (length 3-4) on the weighted nation trade
    graph with edge-weight ratio constraints → (cycle, len).

    ``CycleDetectionWithConstrainsRunner.scala:90-93``: ``run(edges,
    partitions, minLoopLen=3, maxLoopLen=4, minRate, maxRate)`` — every
    consecutive edge-weight ratio (cyclically, so rotation-invariant) must
    lie in [RATE_MIN, RATE_MAX]. Cycles canonicalized to start at their
    minimum vertex (direction fixed by the edges)."""
    from spark_ml_algo_lib_master_tongji_spark.operators.graph import (
        nation_trade_weighted,
    )

    e = nation_trade_weighted(cat)

    def ok(wa, wb):
        r = wb / wa
        return (r >= RATE_MIN) & (r <= RATE_MAX)

    e1 = e.toDF("a", "b", "w1")
    e2 = e.toDF("b", "c", "w2")
    e3 = e.toDF("c2", "a2", "w3")
    c3 = (
        e1.join(e2, "b")
        .join(e3, (F.col("c") == F.col("c2")) & (F.col("a") == F.col("a2")))
        .where((F.col("a") < F.col("b")) & (F.col("a") < F.col("c")))
        .where(
            ok(F.col("w1"), F.col("w2"))
            & ok(F.col("w2"), F.col("w3"))
            & ok(F.col("w3"), F.col("w1"))
        )
        .select(
            F.concat_ws("->", "a", "b", "c").alias("cycle"),
            F.lit(3).alias("len"),
        )
    )

    f1 = e.toDF("a", "b", "w1")
    f2 = e.toDF("b", "c", "w2")
    f3 = e.toDF("c", "d", "w3")
    f4 = e.toDF("d2", "a2", "w4")
    c4 = (
        f1.join(f2, "b")
        .join(f3, "c")
        .join(f4, (F.col("d") == F.col("d2")) & (F.col("a") == F.col("a2")))
        .where(
            (F.col("a") < F.col("b"))
            & (F.col("a") < F.col("c"))
            & (F.col("a") < F.col("d"))
            & (F.col("b") != F.col("d"))
        )
        .where(
            ok(F.col("w1"), F.col("w2"))
            & ok(F.col("w2"), F.col("w3"))
            & ok(F.col("w3"), F.col("w4"))
            & ok(F.col("w4"), F.col("w1"))
        )
        .select(
            F.concat_ws("->", "a", "b", "c", "d").alias("cycle"),
            F.lit(4).alias("len"),
        )
    )
    return c3.unionByName(c4)


# ---- maximal clique enumeration (§2.3 #20) ---------------------------------


def _strong_pairs(cat: Catalog) -> DataFrame:
    """Canonical co-purchase edges with weight ≥ CLIQUE_MIN_W — the dense
    'repeatedly co-bought' subgraph where clique structure is meaningful
    (and enumeration stays cheap as SF grows: repeated pairs thin out)."""
    return copurchase_pairs(cat).where(F.col("cnt") >= CLIQUE_MIN_W).select(
        "src", "dst"
    )


def maximal_cliques(cat: Catalog) -> DataFrame:
    """Maximal cliques of size 2-4 on the strong co-purchase subgraph →
    (clique, size). ``MaximalCliqueEnumerationRunner.scala:61-63``
    (``run(edges, minK, maxDegree, partitions)``); enumeration bounded at
    size 4 (the distributed Bron-Kerbosch cap — cliques above the bound are
    reported as their size-4 subcliques; none exist on the fixtures).
    Maximality = no vertex adjacent to every member."""
    p = _cached(_strong_pairs(cat))
    sym = _cached(
        p.unionByName(p.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    )

    e1 = p.toDF("a", "b")
    e2 = p.toDF("b", "c")
    e3 = p.toDF("a", "c")
    tri = _cached(e1.join(e2, "b").join(e3, ["a", "c"]).select("a", "b", "c"))

    # size-2: edges in no triangle
    tri_edges = (
        tri.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(tri.select(F.col("b").alias("src"), F.col("c").alias("dst")))
        .unionByName(tri.select(F.col("a").alias("src"), F.col("c").alias("dst")))
        .distinct()
    )
    max2 = p.join(tri_edges, ["src", "dst"], "left_anti").select(
        F.concat_ws("-", "src", "dst").alias("clique"), F.lit(2).alias("size")
    )

    # size-3: triangles with no common neighbor
    sa = sym.toDF("a", "d")
    sb = sym.toDF("b", "d")
    sc = sym.toDF("c", "d")
    tri_ext = tri.join(sa, "a").join(sb, ["b", "d"]).join(sc, ["c", "d"]).select(
        "a", "b", "c"
    )
    max3 = tri.join(tri_ext.distinct(), ["a", "b", "c"], "left_anti").select(
        F.concat_ws("-", "a", "b", "c").alias("clique"), F.lit(3).alias("size")
    )

    # size-4: triangle + d>c adjacent to all three; maximal if no extension
    p4c = p.toDF("c", "d")
    p4a = p.toDF("a", "d")
    p4b = p.toDF("b", "d")
    k4 = _cached(
        tri.join(p4c, "c").join(p4a, ["a", "d"]).join(p4b, ["b", "d"]).select(
            "a", "b", "c", "d"
        )
    )
    ka = sym.toDF("a", "e")
    kb = sym.toDF("b", "e")
    kc = sym.toDF("c", "e")
    kd = sym.toDF("d", "e")
    k4_ext = (
        k4.join(ka, "a").join(kb, ["b", "e"]).join(kc, ["c", "e"]).join(kd, ["d", "e"])
        .select("a", "b", "c", "d")
    )
    max4 = k4.join(k4_ext.distinct(), ["a", "b", "c", "d"], "left_anti").select(
        F.concat_ws("-", "a", "b", "c", "d").alias("clique"), F.lit(4).alias("size")
    )
    return max2.unionByName(max3).unionByName(max4)


# ---- weak clique enumeration (§2.3 #19) ------------------------------------


def weak_cliques(cat: Catalog) -> DataFrame:
    """Weakly-cohesive groups → (v, wce_id): fixed-round min-label
    components of the strong (weight ≥ CLIQUE_MIN_W) co-purchase subgraph.
    ``WCERunner.scala:81-83`` is a closed kernel (``run(edges, maxIter,
    maxDegree)`` → node→clique map); the observable contract — every node
    mapped to a cohesive group id — is implemented with documented
    semantics: strong-edge connectivity."""
    p = _strong_pairs(cat)
    sym = _cached(
        p.unionByName(p.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        # src-partitioned once so every round's min-label gather (keyed on
        # src below) aggregates exchange-free.
        .repartition("src")
    )
    verts = _cached(vertices(sym.withColumn("cnt", F.lit(1))))
    n = verts.count()
    state0 = verts.select("v", F.col("v").alias("wce_id"))

    def step(state: DataFrame, _i: int) -> DataFrame:
        # Src-keyed gather over the symmetric list + vertex-sized broadcast
        # least-join for the own label (graph.connected_components.step's
        # round-4 shape — the former union-then-min shuffled all 2|E| rows
        # per round).
        st = state.select(F.col("v").alias("u"), F.col("wce_id").alias("nl"))
        nbr_min = (
            sym.join(_bc(st, n), sym.dst == F.col("u"))
            .groupBy(F.col("src").alias("v"))
            .agg(F.min("nl").alias("m"))
        )
        return state.join(_bc(nbr_min, n), "v", "left").select(
            "v",
            F.least(
                F.col("wce_id"), F.coalesce(F.col("m"), F.col("wce_id"))
            ).alias("wce_id"),
        )

    # Group membership is component membership — prove the propagation
    # reached its fixed point rather than trust the round budget. Labels
    # move monotonically down on a fixed row set ⇒ the scalar-sum probe.
    return iterate(
        state0, step, WCE_ROUNDS, verify_fixpoint=monotone_sum_probe("wce_id")
    )


# ---- Louvain phase-1 (§2.3 #11) --------------------------------------------


def _louvain_local_move(
    sym: DataFrame,
    two_m: float,
    n_verts: int,
    wdeg: DataFrame | None = None,
    rounds: int = LOUVAIN_ROUNDS,
) -> DataFrame:
    """One Louvain local-move phase on a symmetric weighted edge list
    (self-loops allowed — coarse graphs carry them) → (v, label).

    ``rounds`` synchronous rounds where every vertex moves to the candidate
    community (neighbor communities ∪ its own) maximizing
    ΔQ ∝ k_v,c − wdeg_v·Σtot(c∖v)/2m, score rounded to 9 decimals, ties to
    the smaller community id — fully deterministic, so the SQL oracle
    replays it exactly. k_v,c excludes self-loops (their modularity
    contribution is community-invariant and must not bias staying);
    wdeg/Σtot include them (standard Louvain accounting).

    Perf shape (round-4 rework, 35.8s → single-digit seconds at sf0.1):
    the loop state is the full ``(v, label, wv)`` relation — wdeg is part
    of the state, not re-joined every round — and the loop checkpoints
    EVERY round (as ``iterate`` always does). A lazy persist in between
    cuts is catastrophic for this step because it references its state
    four times (sigma, the contrib broadcast, the own-community rows, the
    score join): the first broadcast-exchange job of round i+1
    re-executes the whole unmaterialized round i before the persist
    populates, measured ~18s/round vs ~2s/round with an eager per-round
    cut."""
    if wdeg is None:
        wdeg = sym.groupBy(F.col("src").alias("v")).agg(F.sum("cnt").alias("wv"))
    state0 = wdeg.select("v", F.col("v").alias("label"), "wv")

    def step(state: DataFrame, _i: int) -> DataFrame:
        sigma = state.groupBy(F.col("label").alias("c")).agg(
            F.sum("wv").alias("stot")
        )
        # k_v,c: weight from v to community c (via neighbor labels). The
        # |E|-row aggregation is EXCHANGE-FREE: ``sym_copurchase`` is
        # persisted hash-partitioned on src, the broadcast join preserves
        # that partitioning, src aliases to v, and hashpartitioning(v)
        # satisfies the (v, c) clustered distribution — so the only
        # shuffle per round is the candidate-sized argmax agg below
        # (round-4 rework of the former repartition("v"), which moved the
        # full 2|E| contribution rows every round).
        contrib = (
            sym.where(F.col("src") != F.col("dst"))
            .join(
                _bc(state.select(F.col("v").alias("u"), F.col("label").alias("c")), n_verts),
                F.col("dst") == F.col("u"),
            )
            .select(F.col("src").alias("v"), "c", "cnt")
        )
        cand = contrib.groupBy("v", "c").agg(F.sum("cnt").alias("k"))
        # v's own community joins the candidate set BELOW the aggregation
        # as a zero-weight row, so it never forces a shuffle of the raw
        # contributions. When community c also received real contributions
        # the (v, c, 0) duplicate is strictly dominated by the (v, c, k)
        # row — same c, score smaller by exactly k ≥ 1 (k enters the score
        # unnormalized), far above the 9-decimal rounding grain — so the
        # argmax is unchanged; when it
        # received none, the zero row is the only own-community candidate,
        # exactly the semantics the SQL oracle unrolls.
        own = state.select(
            "v", F.col("label").alias("c"), F.lit(0).cast("long").alias("k")
        )
        scored = (
            cand.unionByName(own)
            .join(_bc(sigma, n_verts), "c")
            .join(_bc(state, n_verts), "v")
            .select(
                "v",
                "c",
                "wv",
                round_half_up(
                    F.col("k")
                    - F.col("wv")
                    * (
                        F.col("stot")
                        - F.when(F.col("label") == F.col("c"), F.col("wv")).otherwise(
                            F.lit(0)
                        )
                    )
                    / F.lit(two_m),
                    9,
                ).alias("score"),
            )
        )
        # Argmax by (score desc, c asc) as a hash aggregate: max_by over the
        # lexicographic struct (score, -c) — identical selection to a
        # row_number window but with map-side partial aggregation instead of
        # a full sort shuffle of the candidate set (the window was ~30% of
        # each round's wall time at sf0.1). wv rides along (constant per v)
        # so the next round's state needs no join to recover it.
        # Negative A/B (round 4): splitting this into an exchange-free
        # neighbor-only argmax (cand keeps hashpartitioning(v)) plus a
        # broadcast own-community comparison join measured ~2s SLOWER warm
        # (8.5-9.6s vs ~7s isolated louvain) — the two extra per-round
        # broadcast materializations (AQE runs a job each) cost more than
        # shuffling the candidate set at this |V|. Keep the union shape.
        return scored.groupBy("v").agg(
            F.max_by("c", F.struct(F.col("score"), (-F.col("c")).alias("nc"))).alias(
                "label"
            ),
            F.min("wv").alias("wv"),
        )

    return iterate(state0, step, rounds).select("v", "label")


def louvain(cat: Catalog) -> DataFrame:
    """Deterministic two-level Louvain → (v, community).

    ``LouvainRunner.scala:92-99`` (BoostKit ``run(edgeRDD, maxIter,
    isDirected, partitions)`` → (Q, communities)): the modularity
    local-move phase on the weighted co-purchase graph, then one
    *coarsening* level — communities become vertices, edge weights
    aggregate (intra-community weight folds into a self-loop), and the
    local-move phase reruns on the aggregate graph with the same 2m;
    community of v = level-2 label of v's level-1 community. The coarse
    level is *accepted only if it improves Q* (on the rounded unweighted
    modularity of ``graph.modularity``) — the multi-level loop's
    stop-when-no-improvement rule, needed here because a synchronous
    local-move round is not monotone in Q the way Blondel's sequential
    scan is. Every step is deterministic ⇒ exactly oracle-checked;
    ``test_louvain_coarsening_does_not_hurt_modularity`` pins Q(two-level)
    ≥ Q(one-level).

    The Q gate evaluates both labelings in ONE shared job over the
    already-cached ``sym`` (unweighted degree = per-vertex row count,
    independent of ``cnt``) instead of two independent ``modularity()``
    re-derivations of the pair graph — round 2's two post-hoc evaluations
    made Louvain the slowest bench query (24.5s at sf0.1).

    Round-4 action diet: |pairs| and 2m come out of ONE agg over the
    cached pairs (no separate sym-sum job); per-vertex weighted degree
    AND unweighted degree come out of ONE pass over sym (``vdeg``), reused
    as the level-1 loop state seed and the Q-gate's degree input; the
    coarse level runs LOUVAIN_L2_ROUNDS (< LOUVAIN_ROUNDS) rounds — on
    the coarse graph most moves happen in the first round, and the SQL
    oracle unrolls exactly the same count."""
    from spark_ml_algo_lib_master_tongji_spark.operators.graph import (
        copurchase_edge_stats,
    )

    pairs = copurchase_pairs(cat)
    m, w = copurchase_edge_stats(cat)
    two_m = 2.0 * w
    sym = sym_copurchase(cat)
    # Session-shared (v, deg, wdeg) — same relation graph_degrees serves.
    vdeg = copurchase_degrees(cat).select(
        "v", F.col("wdeg").alias("wv"), "deg"
    )
    n_verts = vdeg.count()
    l1 = _cached(
        _louvain_local_move(sym, two_m, n_verts, wdeg=vdeg.select("v", "wv"))
    )
    # Cache the coarse edge list: the level-2 loop scans it once for its
    # wdeg seed and once per round — uncached, each scan replays the two
    # broadcast joins + aggregation over the full sym list. Repartitioned
    # on src like the level-1 list: at sf0.1 the coarse graph is still
    # ~0.9M edges, and without the explicit partitioning the level-2
    # k_v,c aggregations shuffle it every round ((src,dst)-keyed agg
    # output does not satisfy the (v,c) clustering) — measured 4.3s → 2.6s
    # for the 2-round coarse phase.
    coarse = _cached(
        sym.join(_bc(l1.toDF("sv", "c1"), n_verts), sym.src == F.col("sv"))
        .join(_bc(l1.toDF("dv", "c2"), n_verts), sym.dst == F.col("dv"))
        .groupBy(F.col("c1").alias("src"), F.col("c2").alias("dst"))
        .agg(F.sum("cnt").alias("cnt"))
        .repartition("src")
    )
    l2 = _louvain_local_move(coarse, two_m, n_verts, rounds=LOUVAIN_L2_ROUNDS)
    composed = _cached(
        l1.join(l2.toDF("label", "community"), "label").select("v", "community")
    )
    n1 = n_verts
    labs = _cached(
        l1.select("v", "label", F.lit(1).alias("lvl")).unionByName(
            composed.select(
                "v", F.col("community").alias("label"), F.lit(2).alias("lvl")
            )
        )
    )
    intra = (
        pairs.join(_bc(labs.toDF("v", "lsrc", "lvl"), 2 * n1), pairs.src == F.col("v"))
        .drop("v")
        .join(
            _bc(labs.toDF("v2", "ldst", "lvl2"), 2 * n1),
            (pairs.dst == F.col("v2")) & (F.col("lvl") == F.col("lvl2")),
        )
        .where(F.col("lsrc") == F.col("ldst"))
        .groupBy("lvl", F.col("lsrc").alias("label"))
        .agg(F.count(F.lit(1)).alias("lc"))
    )
    degc = (
        vdeg.join(labs, "v")
        .groupBy("lvl", "label")
        .agg(F.sum("deg").alias("dc"))
    )
    q_rows = (
        degc.join(intra, ["lvl", "label"], "left")
        .groupBy("lvl")
        .agg(
            round_half_up(
                F.sum(
                    F.coalesce(F.col("lc"), F.lit(0)) / F.lit(float(m))
                    - (F.col("dc") / F.lit(2.0 * m))
                    * (F.col("dc") / F.lit(2.0 * m))
                ),
                6,
            ).alias("q")
        )
        .collect()
    )
    qs = {r["lvl"]: r["q"] for r in q_rows}
    labs.unpersist(blocking=False)
    if qs[2] > qs[1]:
        return composed
    return l1.select("v", F.col("label").alias("community"))


# ---- node2vec (§2.3 #23) ---------------------------------------------------


def _n2v_adj(cat: Catalog) -> DataFrame:
    """Session-shared sorted adjacency lists (v, nbrs) — the walk tables of
    all three node2vec queries start from this one collect_list pass."""
    return _derived(
        cat,
        "n2v_adj",
        lambda: sym_copurchase(cat)
        .groupBy(F.col("src").alias("v"))
        .agg(F.array_sort(F.collect_list("dst")).alias("nbrs")),
    )


def node2vec_walks(cat: Catalog) -> DataFrame:
    """Deterministic uniform random walks → (walk_id, step, node).

    ``Node2VecRunner.scala:86-91`` (``Params(p, q, walkLength, numWalks,
    dim, window)``). Walk step choice uses an explicit integer mixing
    function of (current node, step, walk index) instead of an RNG — same
    walks in Spark and the SQL oracle; p=q=1 (uniform / DeepWalk case of
    the node2vec bias). WALKS_PER_NODE walks of WALK_LEN steps from every
    vertex; neighbor lists sorted by id and indexed by the mix mod degree.

    The finished corpus is session-shared (``_derived``): the Word2Vec fit
    of ``node2vec_embeddings`` consumes the identical walk table, so the
    loop runs once per session, not once per query."""
    return _derived(cat, "n2v_uniform_walks", lambda: _uniform_walks(cat))


def _uniform_walks(cat: Catalog) -> DataFrame:
    adj = _n2v_adj(cat)
    starts = adj.select("v").crossJoin(
        F.broadcast(
            adj.sparkSession.range(WALKS_PER_NODE).select(F.col("id").alias("w"))
        )
    )
    state = starts.select(
        (F.col("v") * 10 + F.col("w")).alias("walk_id"),
        F.col("w"),
        F.lit(0).alias("step"),
        F.col("v").alias("node"),
    )
    out = state
    for t in range(1, WALK_LEN + 1):
        cur = state.join(adj, state.node == adj.v)
        idx = (
            F.col("node") * H_A + F.lit(t) * H_B + F.col("w") * H_C
        ) % F.size("nbrs")
        state = cur.select(
            "walk_id",
            "w",
            F.lit(t).alias("step"),
            F.element_at("nbrs", (idx + 1).cast("int")).alias("node"),
        ).localCheckpoint(eager=True)
        out = out.unionByName(state)
    return out.select("walk_id", "step", "node")


#: Integer 2nd-order transition weights — node2vec biases p=0.5, q=2
#: scaled ×2 to stay integral (1/p : 1 : 1/q = 2 : 1 : 0.5 → 4 : 2 : 1),
#: so the cumulative-weight pick is exact integer arithmetic in both
#: engines.
N2V_W_RETURN = 4
N2V_W_NEAR = 2
N2V_W_FAR = 1


def node2vec_biased_walks(cat: Catalog) -> DataFrame:
    """Deterministic p/q-biased 2nd-order walks → (walk_id, step, node).

    The biased transition of ``Node2VecRunner.scala:86-91`` (``Params(p,
    q, …)``): from state (prev, cur), a candidate next node x weighs
    1/p if x = prev (return), 1 if x is a neighbor of prev (stay near),
    1/q otherwise (explore) — here as the integer weights ``N2V_W_*``.
    In place of an RNG draw, r = mix(cur, step, walk) mod Σweights and
    the chosen candidate is the first (in sorted-neighbor order) whose
    running cumulative weight exceeds r — the alias-table sampling of the
    reference collapsed to a reproducible inverse-CDF pick, identical in
    the SQL oracle. Step 1 has no predecessor and hops uniformly like
    ``node2vec_walks``.

    Shape note (round-4 A/B): an array-HOF variant (transform weights +
    one aggregate fold per row, zero extra shuffles) was measured SLOWER
    than this explode+window shape — 7.7s vs 5.1-5.6s warm at sf0.1 —
    because HOF lambdas are interpreted (no whole-stage codegen) and the
    per-row O(deg·|pnbrs|) membership scan concentrates hub-vertex work
    in single rows, while the exploded form codegens the weight CASE and
    spreads candidates evenly across tasks. The windows all share one
    walk_id sort-shuffle. Two HOF pitfalls worth keeping on record: a
    merge-lambda reference to an outer aggregate re-evaluates it per
    element (85s), and a select that re-aliases ``node AS prev`` captures
    lambda references to ``prev`` as *lateral column aliases* (silent
    wrong walks)."""
    adj = _n2v_adj(cat)
    starts = adj.select("v").crossJoin(
        F.broadcast(
            adj.sparkSession.range(WALKS_PER_NODE).select(F.col("id").alias("w"))
        )
    )
    state = starts.select(
        (F.col("v") * 10 + F.col("w")).alias("walk_id"),
        F.col("w"),
        F.lit(0).alias("step"),
        F.lit(None).cast("long").alias("prev"),
        F.col("v").alias("node"),
    )
    out = state.select("walk_id", "step", "node")
    for t in range(1, WALK_LEN + 1):
        if t == 1:
            cur = state.join(adj, state.node == adj.v)
            idx = (
                F.col("node") * H_A + F.lit(t) * H_B + F.col("w") * H_C
            ) % F.size("nbrs")
            state = cur.select(
                "walk_id",
                "w",
                F.lit(t).alias("step"),
                F.col("node").alias("prev"),
                F.element_at("nbrs", (idx + 1).cast("int")).alias("node"),
            ).localCheckpoint(eager=True)
        else:
            cur = (
                state.join(
                    adj.toDF("cv", "cnbrs"), state.node == F.col("cv")
                ).join(adj.toDF("pv", "pnbrs"), state.prev == F.col("pv"))
            )
            from pyspark.sql import Window

            ex = cur.select(
                "walk_id",
                "w",
                "node",
                "prev",
                F.posexplode("cnbrs").alias("ord", "cand"),
                "pnbrs",
            ).select(
                "walk_id",
                "w",
                "node",
                "ord",
                "cand",
                F.when(F.col("cand") == F.col("prev"), F.lit(N2V_W_RETURN))
                .when(
                    F.array_contains(F.col("pnbrs"), F.col("cand")),
                    F.lit(N2V_W_NEAR),
                )
                .otherwise(F.lit(N2V_W_FAR))
                .cast("long")
                .alias("wt"),
            )
            w_cum = Window.partitionBy("walk_id").orderBy("ord")
            w_all = Window.partitionBy("walk_id")
            ex = ex.select(
                "*",
                F.sum("wt").over(w_cum).alias("cum"),
                F.sum("wt").over(w_all).alias("tot"),
            )
            r = (
                F.col("node") * H_A + F.lit(t) * H_B + F.col("w") * H_C
            ) % F.col("tot")
            state = (
                ex.where(F.col("cum") > r)
                .withColumn("rn", F.row_number().over(w_cum))
                .where(F.col("rn") == 1)
                .select(
                    "walk_id",
                    "w",
                    F.lit(t).alias("step"),
                    F.col("node").alias("prev"),
                    F.col("cand").alias("node"),
                )
            ).localCheckpoint(eager=True)
        out = out.unionByName(state.select("walk_id", "step", "node"))
    return out


def node2vec_embeddings(cat: Catalog) -> DataFrame:
    """Word2Vec skip-gram over the deterministic walks → one summary row
    (n_nodes, dim). The walk corpus is exact (see ``node2vec_walks``); the
    embedding fit is seeded spark.ml Word2Vec (``saveNode2VecModel``
    surface, ``graph/Util.scala:203-208``).

    ``numPartitions=1`` (spark.ml's own default) applies all gradient
    updates in one partition, so the fitted VECTORS are seed-deterministic —
    the pytest quality pins rely on that. It is also the scale knob of this
    fit-bound row: at the 10× fixture numPartitions 1→8 cut the fit 1.9×
    while keeping 2.8× more neighbor structure than a mere re-seed of the
    serial fit (commit 1bd3aed, ``report/NODE2VEC_FIT_AB_r15.json``). At
    cluster scale raise it toward the executor count; each partition then
    trains Hogwild-style. The DECLARED output (n_nodes, dim) is
    partition-invariant either way: with minCount=1 the vocabulary is
    exactly the distinct walk nodes, a pure function of the deterministic
    walk corpus."""
    from pyspark.ml.feature import Word2Vec

    walks = node2vec_walks(cat)
    seqs = walks.groupBy("walk_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("step", "node"))),
            lambda s: s["node"].cast("string"),
        ).alias("sentence")
    )
    w2v = Word2Vec(
        vectorSize=16,
        windowSize=3,
        minCount=1,
        seed=2020,
        inputCol="sentence",
        numPartitions=1,
    ).fit(seqs)
    vecs = w2v.getVectors()
    return vecs.agg(
        F.count(F.lit(1)).alias("n_nodes"), F.lit(16).alias("dim")
    )


# ---- betweenness (§2.3 #17) ------------------------------------------------


def betweenness(cat: Catalog) -> DataFrame:
    """Exact directed Brandes betweenness on the nation trade graph →
    (v, betweenness). ``BetweennessRunner.scala:86`` (BoostKit sampled
    ``run(edgeRDD, k, p)``; top-k set accuracy ``:92-98``) — exact here
    (sample ratio 1.0). Scale shape: edges are grouped by their
    weakly-connected-component label (shortest paths never cross weak
    components, so per-component Brandes is exact) and ``applyInPandas``
    runs one Brandes per component — parallel across components, and the
    driver never sees the graph. For single-huge-component graphs use
    ``betweenness_sampled`` (per-source parallelism) instead."""
    import pandas as pd

    from spark_ml_algo_lib_master_tongji_spark.operators.graph import (
        connected_components,
    )

    e = nation_trade_edges(cat)
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = connected_components(sym.select("src", "dst"))

    schema = T.StructType(
        [
            T.StructField("v", T.LongType()),
            T.StructField("betweenness", T.DoubleType()),
        ]
    )

    def brandes(pdf: pd.DataFrame) -> pd.DataFrame:
        from collections import defaultdict, deque

        adj = defaultdict(list)
        nodes = set()
        for s, d in zip(pdf["src"], pdf["dst"]):
            adj[int(s)].append(int(d))
            nodes.add(int(s))
            nodes.add(int(d))
        bc = dict.fromkeys(nodes, 0.0)
        for s in sorted(nodes):
            sigma = dict.fromkeys(nodes, 0)
            dist = dict.fromkeys(nodes, -1)
            pred = {w: [] for w in nodes}
            sigma[s], dist[s] = 1, 0
            queue, order = deque([s]), []
            while queue:
                u = queue.popleft()
                order.append(u)
                for w in adj[u]:
                    if dist[w] < 0:
                        dist[w] = dist[u] + 1
                        queue.append(w)
                    if dist[w] == dist[u] + 1:
                        sigma[w] += sigma[u]
                        pred[w].append(u)
            delta = dict.fromkeys(nodes, 0.0)
            for w in reversed(order):
                for u in pred[w]:
                    delta[u] += sigma[u] / sigma[w] * (1.0 + delta[w])
                if w != s:
                    bc[w] += delta[w]
            del delta
        # shared half-up rounding (functions.rounding formula) — Python's
        # banker's round would tie-break differently from the DuckDB
        # oracle's round() at exact 1e-6 midpoints
        import math

        return pd.DataFrame(
            {
                "v": sorted(bc),
                "betweenness": [
                    math.floor(bc[k] * 1e6 + 0.5) / 1e6 for k in sorted(bc)
                ],
            }
        )

    return (
        e.join(labels.toDF("v", "component"), e.src == F.col("v"))
        .select("src", "dst", "component")
        .groupBy("component")
        .applyInPandas(brandes, schema)
    )


BETW_SAMPLES = 64
BETW_TOPK = 50


def betweenness_sampled(
    pairs: DataFrame,
    n_samples: int = BETW_SAMPLES,
    top_k: int = BETW_TOPK,
    csr=None,
    verts: DataFrame | None = None,
    n_verts: int | None = None,
) -> DataFrame:
    """Sampled Brandes betweenness on an undirected pair graph → top-k
    (v, betweenness_est) — the BoostKit estimator shape
    (``BetweennessRunner.scala:86`` ``run(edgeRDD, k, p)``: sample source
    vertices, accumulate Brandes dependencies, report top-k; accuracy is
    judged by top-k overlap, ``:92-98``).

    Distribution is *per source*: the symmetric CSR adjacency ships once
    as a broadcast, each task runs level-synchronous vectorized Brandes
    passes for its share of the sampled sources, and only (v, δ-partial)
    rows are shuffled for the final sum — source passes are embarrassingly
    parallel, which is the scalable axis (work = |S|·O(E)). Sources are
    the ``n_samples`` smallest ``xxhash64(v)`` values: a deterministic,
    uniform-ish sample, so the estimate is reproducible. Estimator:
    bc(v) ≈ (n_sources_total/|S|)·Σ_{s∈S} δ_s(v) — unbiased for uniform
    samples; ties broken by vertex id for a stable top-k.

    ``csr`` is the caller's ``csr_broadcast`` of ``pairs``. The broadcast
    is O(|E|) through the driver, so callers obtain it from ``csr_gated``
    (``graph.py``), which hands out none past ``ADJ_BC_MAX_EDGES``. There
    is no DataFrame arm: without ``csr`` this raises instead of OOM-ing
    the driver — use the exact per-component ``betweenness`` (shuffle-only,
    no driver materialization). ~8 bytes/edge ⇒ the ceiling is a ~200 MB
    broadcast."""
    import numpy as np
    import pandas as pd

    from spark_ml_algo_lib_master_tongji_spark.operators.graph import vertices

    if csr is None:
        raise ValueError(
            "betweenness_sampled: no CSR adjacency — the graph is past the "
            "CSR-broadcast ceiling (ADJ_BC_MAX_EDGES); use the exact "
            "per-component betweenness()"
        )
    spark = pairs.sparkSession
    bc, n = csr
    if verts is None:
        # standalone callers derive the vertex set privately; registry
        # callers pass the session-shared relation + memoized count so the
        # distinct scan runs once per session, not once per call
        verts = vertices(pairs.select("src", "dst").withColumn("cnt", F.lit(1)))
    if n_verts is None:
        n_verts = verts.count()
    sources = verts.orderBy(F.xxhash64("v"), "v").limit(n_samples)
    scale = float(n_verts) / float(min(n_samples, n_verts))

    def passes(pdf_iter):
        ip, nb = bc.value
        nn = len(ip) - 1
        for pdf in pdf_iter:
            acc = np.zeros(nn)
            for s in pdf["v"].to_numpy():
                dist = np.full(nn, -1, dtype=np.int32)
                sigma = np.zeros(nn)
                dist[s] = 0
                sigma[s] = 1.0
                frontier = np.array([s], dtype=np.int64)
                level_edges = []
                level = 0
                while frontier.size:
                    counts = (ip[frontier + 1] - ip[frontier]).astype(np.int64)
                    total = int(counts.sum())
                    if total == 0:
                        break
                    e_src = np.repeat(frontier, counts)
                    pos = (
                        np.arange(total)
                        - np.repeat(np.cumsum(counts) - counts, counts)
                        + np.repeat(ip[frontier], counts)
                    )
                    e_dst = nb[pos].astype(np.int64)
                    unseen = e_dst[dist[e_dst] == -1]
                    dist[unseen] = level + 1
                    mask = dist[e_dst] == level + 1
                    lu, lw = e_src[mask], e_dst[mask]
                    np.add.at(sigma, lw, sigma[lu])
                    level_edges.append((lu, lw))
                    frontier = np.unique(lw)
                    level += 1
                delta = np.zeros(nn)
                for lu, lw in reversed(level_edges):
                    np.add.at(
                        delta, lu, sigma[lu] / sigma[lw] * (1.0 + delta[lw])
                    )
                delta[s] = 0.0
                acc += delta
            yield pd.DataFrame({"v": np.arange(nn), "d": acc})

    parts = spark.sparkContext.defaultParallelism
    partials = sources.repartition(parts).mapInPandas(passes, "v long, d double")
    return (
        partials.groupBy("v")
        .agg(F.round(F.sum("d") * F.lit(scale), 6).alias("betweenness_est"))
        .where(F.col("betweenness_est") > 0)
        .orderBy(F.col("betweenness_est").desc(), "v")
        .limit(top_k)
    )


# ---- registry entries ------------------------------------------------------


def graph_incremental_pagerank(cat: Catalog) -> DataFrame:
    return incremental_pagerank(cat)


def graph_cycle_detection(cat: Catalog) -> DataFrame:
    return cycle_detection(cat)


def graph_maximal_cliques(cat: Catalog) -> DataFrame:
    return maximal_cliques(cat)


def graph_weak_cliques(cat: Catalog) -> DataFrame:
    return weak_cliques(cat)


def graph_louvain(cat: Catalog) -> DataFrame:
    """Session-shared (``_derived``): the registry query and bench's
    ``louvain_modularity_q`` evaluation scalar both read this labeling —
    one two-level Louvain run serves both (the reference's runner also
    reports (Q, communities) from one run, ``LouvainRunner.scala:92-99``)."""
    from spark_ml_algo_lib_master_tongji_spark.operators.graph import _derived

    return _derived(cat, "louvain_communities", lambda: louvain(cat))


def graph_node2vec_walks(cat: Catalog) -> DataFrame:
    return node2vec_walks(cat)


def graph_node2vec_biased_walks(cat: Catalog) -> DataFrame:
    return node2vec_biased_walks(cat)


def graph_node2vec_embeddings(cat: Catalog) -> DataFrame:
    return node2vec_embeddings(cat)


def graph_betweenness(cat: Catalog) -> DataFrame:
    return betweenness(cat)


def graph_betweenness_sampled(cat: Catalog) -> DataFrame:
    from spark_ml_algo_lib_master_tongji_spark.operators.graph import (
        copurchase_csr_gated,
        copurchase_n_verts,
        copurchase_verts,
    )

    # Session-shared CSR (also used by subgraph matching) when the gate
    # admits it; past the ceiling it is None and the operator raises. The
    # vertex set + count are likewise the session-shared derivations
    # (round-6 verdict item 6 — no private distinct scan per call).
    return betweenness_sampled(
        copurchase_pairs(cat),
        csr=copurchase_csr_gated(cat),
        verts=copurchase_verts(cat),
        n_verts=copurchase_n_verts(cat),
    )


#: Sampled-betweenness accuracy anchor knobs. The overlap is judged on a
#: mod-``_betw_overlap_mod`` induced subgraph of the co-purchase graph so the
#: EXACT arm (a full-source run of the same estimator, sample ratio 1.0 —
#: the reference's own ground-truth protocol) stays bounded at every
#: bench SF: the full sf0.1 graph costs ~95s exact vs ~2s on the
#: subgraph, and the estimator code under test is identical either way.
#: The estimator arm samples BY RATIO, the reference's own knob
#: (``BetweennessRunner.scala:86`` ``run(edgeRDD, k, p)`` — p is a
#: sample fraction, not a count): a fixed source count degrades with
#: graph size on the fixture's near-regular random graph, where top-k
#: betweenness is tightly bunched.
#: The modulus SCALES with the corpus (round-10 verdict item 3): at fixed
#: MOD the audit subgraph grows with the data and the exact arm's
#: O(|V_sub|·|E_sub|) cost grows ~quadratically with sf. Targeting
#: |V_sub| ≈ BETW_OVERLAP_TARGET_V keeps the anchor cost ~flat at every
#: bench SF (the anchor verifies estimator code, not the business graph —
#: any bounded induced subgraph serves). mod = max(1, |V| // TARGET) via
#: integer floor division so the DuckDB twin recomputes the identical
#: modulus in SQL (greatest(1, n // target)) with no rounding-mode drift:
#: sf0.001/0.01 (|V| 200/2000) → full graph, sf0.1 (20000) → mod 10
#: (unchanged from the fixed-MOD rounds), sf1 → 100, sf3 → 300.
BETW_OVERLAP_TARGET_V = 2000
BETW_OVERLAP_K = 25
BETW_OVERLAP_RATIO = 0.5
#: top-k overlap floor for the p=0.5 estimator vs exact. Measured across
#: sf0.001/0.01/0.1 with the corpus-scaled modulus: 0.840 / 0.760 / 0.760
#: at ~flat ≈5s anchor cost (tools/anchor_bands.py reproduces; PLANS
#: round-11 addendum). A broken dependency accumulation or source
#: sampler lands near the random-set overlap k/n_verts ≤ 0.125.
BETW_OVERLAP_FLOOR = 0.5


def _betw_overlap_mod(cat: Catalog) -> int:
    """Corpus-scaled audit modulus — |V| // TARGET by integer floor
    division, the exact expression the DuckDB twin evaluates in SQL."""
    from spark_ml_algo_lib_master_tongji_spark.operators.graph import (
        copurchase_n_verts,
    )

    return max(1, copurchase_n_verts(cat) // BETW_OVERLAP_TARGET_V)


def graph_betweenness_overlap(cat: Catalog) -> DataFrame:
    """Driver-verifiable accuracy anchor for the sampled-betweenness
    estimator (round-9 verdict item 2c): top-k set overlap between a
    ratio-sampled (p = BETW_OVERLAP_RATIO) run and an exact (all-sources)
    run of the same code on the corpus-scaled mod-``_betw_overlap_mod``
    induced co-purchase subgraph — the reference's own accuracy metric
    (``BetweennessRunner.scala:92-99`` judges ``run(edgeRDD, k, p)`` by
    top-k overlap against a sample-ratio 1.0 ground truth; see the
    constants block above for why a fixed source COUNT was rejected).
    Numerics (subgraph vertex/edge counts, k) are exactly
    SQL-recomputable; the measured overlap rides in the boolean
    (≥ BETW_OVERLAP_FLOOR, twin asserts TRUE)."""
    n_verts, n_edges, k, overlap = _betweenness_overlap_metrics(cat)
    return cat.spark.createDataFrame(
        [(n_verts, n_edges, k, bool(overlap >= BETW_OVERLAP_FLOOR))],
        "n_verts long, n_edges long, k int, overlap_ok boolean",
    )


def _betweenness_overlap_metrics(cat: Catalog) -> tuple[int, int, int, float]:
    """(n_verts, n_edges, k, top-k overlap) on the mod-filtered subgraph —
    the single measurement behind the ``graph_betweenness_overlap`` anchor
    AND the ``tools/anchor_bands.py`` audit. Degenerate (empty) subgraphs
    return overlap 1.0 with k 0 instead of crashing (zero-guard
    discipline; the SQL twin emits the same empty-subgraph row)."""
    from spark_ml_algo_lib_master_tongji_spark.operators.graph import (
        copurchase_pairs,
        csr_broadcast,
        csr_gated,
    )

    mod = _betw_overlap_mod(cat)
    pairs = (
        copurchase_pairs(cat)
        .where((F.col("src") % mod == 0) & (F.col("dst") % mod == 0))
        .persist()
    )
    try:
        n_edges = pairs.count()
        # canonical (src<dst) list: take BOTH endpoints (graph.vertices
        # expects a symmetrized list)
        verts = (
            pairs.select(F.col("src").alias("v"))
            .unionByName(pairs.select(F.col("dst").alias("v")))
            .distinct()
        )
        n_verts = verts.count()
        k = min(BETW_OVERLAP_K, n_verts)
        if k == 0:
            return 0, 0, 0, 1.0
        # past the ceiling csr is None and betweenness_sampled raises
        csr = csr_gated(n_edges, lambda: csr_broadcast(pairs))
        try:
            sampled = betweenness_sampled(
                pairs,
                n_samples=max(1, int(BETW_OVERLAP_RATIO * n_verts)),
                top_k=k,
                csr=csr,
                verts=verts,
                n_verts=n_verts,
            )
            exact = betweenness_sampled(
                pairs,
                n_samples=n_verts,
                top_k=k,
                csr=csr,
                verts=verts,
                n_verts=n_verts,
            )
            sv = {r["v"] for r in sampled.select("v").collect()}
            ev = {r["v"] for r in exact.select("v").collect()}
        finally:
            if csr is not None:
                csr[0].destroy(blocking=False)
        return int(n_verts), int(n_edges), int(k), len(sv & ev) / float(k)
    finally:
        pairs.unpersist(blocking=False)


#: registry-exported query names (order derived in registry.build_registry)
QUERIES = (
    "graph_incremental_pagerank",
    "graph_cycle_detection",
    "graph_maximal_cliques",
    "graph_weak_cliques",
    "graph_louvain",
    "graph_node2vec_walks",
    "graph_node2vec_biased_walks",
    "graph_node2vec_embeddings",
    "graph_betweenness",
    "graph_betweenness_sampled",
    "graph_betweenness_overlap",
)
