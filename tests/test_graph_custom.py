"""Oracles for the graph operators whose Spark implementation is not
SQL-expressible (betweenness via applyInPandas, node2vec embeddings), plus
structural sanity on the custom community ops. Mirrors the reference's
top-k set methodology (``BetweennessRunner.scala:92-99``)."""

from __future__ import annotations

from contextlib import contextmanager

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


@contextmanager
def _csr(pairs):
    """A ``csr_broadcast`` of ``pairs`` for the kernel arms, released on
    exit (kernels run iff they are handed one)."""
    from spark_ml_algo_lib_master_tongji_spark.operators import graph

    csr = graph.csr_broadcast(pairs)
    try:
        yield csr
    finally:
        csr[0].unpersist(blocking=False)


@pytest.fixture(scope="module")
def cat(spark):
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog

    return Catalog(spark, SF_SMOKE)


def test_betweenness_matches_pair_counting_oracle(cat):
    """Independent formulation: Floyd-Warshall distances + shortest-path
    counts, then BC(v) = Σ_{s≠v≠t} σ_st(v)/σ_st with
    σ_st(v) = σ_sv·σ_vt iff d_sv + d_vt = d_st — algebraically different
    from the Brandes accumulation used in the operator."""
    from spark_ml_algo_lib_master_tongji_spark.operators.graph import (
        nation_trade_edges,
    )
    from spark_ml_algo_lib_master_tongji_spark.operators.graph_extra import (
        betweenness,
    )

    edges = [(r["src"], r["dst"]) for r in nation_trade_edges(cat).collect()]
    nodes = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    INF = 10**9
    d = np.full((n, n), INF, dtype=np.int64)
    sigma = np.zeros((n, n), dtype=np.int64)
    for v in range(n):
        d[v][v], sigma[v][v] = 0, 1
    for s, t in edges:
        d[idx[s]][idx[t]], sigma[idx[s]][idx[t]] = 1, 1
    for k in range(n):
        for i in range(n):
            for j in range(n):
                if d[i][k] + d[k][j] < d[i][j]:
                    d[i][j] = d[i][k] + d[k][j]
    # path counts by increasing distance (DAG DP over shortest-path edges)
    sigma = np.zeros((n, n), dtype=np.int64)
    for s in range(n):
        sigma[s][s] = 1
        order = sorted(range(n), key=lambda v: d[s][v])
        for v in order:
            if d[s][v] >= INF or v == s:
                continue
            sigma[s][v] = sum(
                sigma[s][u]
                for u, t in ((idx[a], idx[b]) for a, b in edges)
                if t == v and d[s][u] + 1 == d[s][v]
            )
    bc = {v: 0.0 for v in range(n)}
    for s in range(n):
        for t in range(n):
            if s == t or sigma[s][t] == 0:
                continue
            for v in range(n):
                if v in (s, t):
                    continue
                if d[s][v] + d[v][t] == d[s][t]:
                    bc[v] += sigma[s][v] * sigma[v][t] / sigma[s][t]

    got = {r["v"]: r["betweenness"] for r in betweenness(cat).collect()}
    for v in nodes:
        assert abs(got[v] - bc[idx[v]]) <= 1e-5, v


def test_louvain_improves_modularity_over_singletons(cat):
    from spark_ml_algo_lib_master_tongji_spark.operators.graph import (
        copurchase_pairs,
        modularity,
    )
    from spark_ml_algo_lib_master_tongji_spark.operators.graph_extra import louvain
    from pyspark.sql import functions as F

    pairs = copurchase_pairs(cat)
    comm = louvain(cat).select("v", F.col("community").alias("label"))
    q = modularity(pairs, comm).collect()[0]["modularity"]
    n_comms = comm.select("label").distinct().count()
    n_v = comm.count()
    assert n_comms < n_v  # it actually merged vertices
    assert q > 0.0  # singleton partition scores ≈ −Σ(d/2m)² < 0


def test_louvain_coarsening_does_not_hurt_modularity(cat):
    """The coarsening level must not lose modularity vs the local-move
    phase alone (``LouvainRunner.scala:92-99`` multi-level semantics)."""
    from spark_ml_algo_lib_master_tongji_spark.operators.graph import (
        copurchase_pairs,
        modularity,
        symmetrize,
    )
    from spark_ml_algo_lib_master_tongji_spark.operators.graph_extra import (
        _louvain_local_move,
        louvain,
    )
    from pyspark.sql import functions as F

    pairs = copurchase_pairs(cat)
    sym = symmetrize(pairs)
    two_m = float(sym.agg(F.sum("cnt")).collect()[0][0])
    n_verts = sym.select("src").distinct().count()
    l1 = _louvain_local_move(sym, two_m, n_verts)
    q1 = modularity(pairs, l1).collect()[0]["modularity"]
    l2 = louvain(cat).select("v", F.col("community").alias("label"))
    q2 = modularity(pairs, l2).collect()[0]["modularity"]
    assert q2 >= q1


def test_dbscan_partition_is_total(cat):
    from spark_ml_algo_lib_master_tongji_spark.operators.density import dbscan

    rows = dbscan(cat).collect()
    n = cat.embeddings.count()
    assert len(rows) == n
    roles = {r["role"] for r in rows}
    assert roles <= {0, 1, -1}
    for r in rows:
        assert (r["cluster"] == -1) == (r["role"] == -1)


def test_node2vec_embeddings_cover_vertices(cat):
    from spark_ml_algo_lib_master_tongji_spark.operators.graph import (
        copurchase_pairs,
        symmetrize,
        vertices,
    )
    from spark_ml_algo_lib_master_tongji_spark.operators.graph_extra import (
        node2vec_embeddings,
    )

    n_v = vertices(symmetrize(copurchase_pairs(cat))).count()
    row = node2vec_embeddings(cat).collect()[0]
    assert row["dim"] == 16
    assert row["n_nodes"] == n_v  # every vertex walked at least once


def test_subgraph_matching_strategies_agree(cat):
    """The CSR-broadcast bincount kernel and the wedge-enumeration join are
    two physical strategies for the same exact counts — pin equality on the
    fixture graph (the dispatch ceiling only picks which one runs)."""
    from spark_ml_algo_lib_master_tongji_spark.operators import graph

    pairs = graph.copurchase_pairs(cat)
    with _csr(pairs) as csr:
        tri_k, sq_k = graph._match_counts_csr_kernel(pairs, csr)
    tri_j, sq_j = graph._match_counts_wedge_join(pairs)
    assert (tri_k, sq_k) == (tri_j, sq_j)
    assert tri_k > 0 and sq_k > 0


def test_triangle_strategies_agree(cat):
    """Per-vertex triangle counts: the CSR bincount kernel and the
    two-path + closing-edge join are two physical strategies for the same
    exact relation — pin row-for-row equality on the fixture graph."""
    from spark_ml_algo_lib_master_tongji_spark.operators import graph

    pairs = graph.copurchase_pairs(cat)
    with _csr(pairs) as csr:
        k = graph._triangles_csr_kernel(pairs, csr).orderBy("v").collect()
    j = graph._triangles_wedge_join(pairs).orderBy("v").collect()
    assert [tuple(r) for r in k] == [tuple(r) for r in j]
    assert sum(r["triangles"] for r in k) > 0


def test_betweenness_sampled_topk_overlap(cat):
    """The sampled estimator's top-k must substantially overlap the exact
    top-k — the reference's accuracy methodology
    (``BetweennessRunner.scala:92-98``). Exact = the same kernel sampling
    every source (scale factor 1)."""
    from spark_ml_algo_lib_master_tongji_spark.operators.graph import (
        copurchase_pairs,
        vertices,
    )
    from spark_ml_algo_lib_master_tongji_spark.operators.graph_extra import (
        betweenness_sampled,
    )
    from pyspark.sql import functions as F

    pairs = copurchase_pairs(cat)
    n_verts = vertices(pairs.withColumn("cnt", F.lit(1))).count()
    k = 20
    with _csr(pairs) as csr:
        exact = betweenness_sampled(pairs, n_samples=n_verts, top_k=k, csr=csr)
        est = betweenness_sampled(pairs, n_samples=64, top_k=k, csr=csr)
        exact_top = {r["v"] for r in exact.collect()}
        est_top = {r["v"] for r in est.collect()}
    overlap = len(exact_top & est_top) / k
    assert overlap >= 0.5, f"top-{k} overlap {overlap}"


def test_betweenness_sampled_gate_refuses_oversized_broadcast(spark, monkeypatch):
    """The CSR adjacency rides a driver broadcast — past ADJ_BC_MAX_EDGES
    the one gate hands out no CSR (without building it), and the operator,
    which has no DataFrame arm, must then refuse loudly instead of
    materializing the edge list on the driver (round-2 ADVICE: the gate
    existed for subgraph matching but not here)."""
    from spark_ml_algo_lib_master_tongji_spark.operators import graph
    from spark_ml_algo_lib_master_tongji_spark.operators.graph_extra import (
        betweenness_sampled,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    monkeypatch.setattr(graph, "ADJ_BC_MAX_EDGES", 2)
    assert graph.csr_gated(3, lambda: pytest.fail("built past the ceiling")) is None
    with pytest.raises(ValueError, match="CSR-broadcast ceiling"):
        betweenness_sampled(pairs, csr=None)


def test_betweenness_overlap_refuses_past_ceiling_before_broadcast(spark, monkeypatch):
    """The overlap anchor gates its subgraph on the edge count it already
    has: past ADJ_BC_MAX_EDGES it raises without ever collecting the
    subgraph into a CSR broadcast on the driver."""
    from spark_ml_algo_lib_master_tongji_spark.operators import graph, graph_extra
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog

    built = []
    real = graph.csr_broadcast

    def recording_csr_broadcast(pairs):
        built.append(pairs)
        return real(pairs)

    monkeypatch.setattr(graph, "csr_broadcast", recording_csr_broadcast)
    monkeypatch.setattr(graph, "ADJ_BC_MAX_EDGES", 0)
    with pytest.raises(ValueError, match="CSR-broadcast ceiling"):
        graph_extra._betweenness_overlap_metrics(Catalog(spark, SF_SMOKE))
    assert built == []


def test_betweenness_component_grouping(spark):
    """Brandes runs per weak component: a two-component nation-style graph
    must get per-component scores identical to running each component
    alone (regression for the round-1 single-group fallback)."""
    from spark_ml_algo_lib_master_tongji_spark.operators import graph_extra

    class _Cat:
        pass

    rows = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (12, 10), (11, 13)]
    df = spark.createDataFrame(rows, "src long, dst long")
    orig = graph_extra.nation_trade_edges
    try:
        graph_extra.nation_trade_edges = lambda cat: df
        got = {
            r["v"]: r["betweenness"]
            for r in graph_extra.betweenness(None).collect()
        }
    finally:
        graph_extra.nation_trade_edges = orig
    # directed graph: component {1,2,3} is a transitive triangle (every
    # pair adjacent — no pass-through shortest paths); in component
    # {10,11,12,13}, vertex 11 lies on the shortest paths of the pairs
    # 10->12, 10->13 and 12->13, and vertex 10 on 12->11 and 12->13.
    assert got[11] == 3.0
    assert got[10] == 2.0
    assert got[1] == 0.0 and got[2] == 0.0 and got[3] == 0.0


def test_csr_kernels_subquadratic_on_sparse_many_vertex_graph(spark):
    """Round-4 verdict: the edge-count-only dispatch gate admits sparse
    many-vertex graphs (|V| ≈ |E|, road-network shape) into the CSR kernel,
    which must therefore do work proportional to the WEDGE count, never
    O(|V|) per vertex. A 100k-vertex path graph has ~2·|V| wedges — the
    former full-width-bincount kernel did ~10¹⁰ work here (minutes); the
    searchsorted kernel finishes with the rest of the suite's overhead.
    One triangle (0-1-2) and one chordless square (10-11-12-13) are planted
    so the exact counts are pinned, not just zeros."""
    import time

    from spark_ml_algo_lib_master_tongji_spark.operators import graph

    n = 100_000
    path = [(i, i + 1) for i in range(n - 1)]
    planted = [(0, 2), (10, 13)]
    pairs = spark.createDataFrame(path + planted, "src long, dst long").withColumn(
        "cnt", F.lit(1)
    )
    t0 = time.perf_counter()
    with _csr(pairs) as csr:
        tri_per_vertex = graph._triangles_csr_kernel(pairs, csr)
        per_v = {
            r["v"]: r["triangles"]
            for r in tri_per_vertex.where(F.col("triangles") > 0).collect()
        }
        tri_n, sq = graph._match_counts_csr_kernel(pairs, csr)
    elapsed = time.perf_counter() - t0
    assert per_v == {0: 1, 1: 1, 2: 1}
    assert (tri_n, sq) == (1, 1)
    # generous ceiling — the quadratic kernel took minutes on this shape
    assert elapsed < 120, f"CSR kernel no longer subquadratic: {elapsed:.0f}s"


def test_derived_caches_evict_dead_sessions():
    """Cache entries keyed to a stopped session's applicationId are dropped
    on the first miss under a new one (round-4 ADVICE: stale CSR broadcasts
    pinned O(|E|) numpy arrays for the process lifetime)."""
    from spark_ml_algo_lib_master_tongji_spark.operators import graph

    graph._OBJ_CACHE[("dead-app", "sf", "x")] = 1
    graph._DERIV_CACHE[("dead-app", "sf", "y")] = object()
    graph._OBJ_CACHE[("dead-app", "sf", "z")] = object()
    graph._evict_dead_sessions("live-app")
    assert not any(
        k[0] == "dead-app" for c in (graph._DERIV_CACHE, graph._OBJ_CACHE) for k in c
    )


def test_min_plus_closure_arms_agree(cat, monkeypatch):
    """The size-gated local Floyd-Warshall arm and the distributed min-plus
    doubling loop are two physical strategies for the same exact closure —
    pin row-for-row equality on the nation trade graph, and negative-test
    the gate (a TINY_CLOSURE_MAX_EDGES of 0 must route to the distributed
    loop)."""
    from spark_ml_algo_lib_master_tongji_spark.operators import graph

    edges = graph.nation_trade_edges(cat)
    local = graph.min_plus_closure(edges)  # gate admits the 25-vertex graph
    monkeypatch.setattr(graph, "TINY_CLOSURE_MAX_EDGES", 0)
    dist = graph.min_plus_closure(edges)  # forced scale arm
    key = lambda r: (r["src"], r["dst"])  # noqa: E731
    lrows = sorted((tuple(r) for r in local.collect()), key=lambda t: t[:2])
    drows = sorted((tuple(r) for r in dist.collect()), key=lambda t: t[:2])
    assert lrows == drows
    assert len(lrows) > 0


@pytest.mark.parametrize("seed", [7, 19, 43])
def test_triangle_kernels_match_dense_matrix_oracle(spark, seed):
    """Randomized differential: on seeded Erdős–Rényi graphs, the CSR
    kernel, the wedge join, and an independent dense-adjacency-matrix
    oracle (diag(A³)/2 per vertex; Σ_{u<w} C((A²)_{uw}, 2)/2 four-cycles)
    must agree exactly."""
    from spark_ml_algo_lib_master_tongji_spark.operators import graph

    rng = np.random.default_rng(seed)
    n = 60
    a = np.triu((rng.random((n, n)) < 0.12), k=1)
    srcs, dsts = np.nonzero(a)
    assert len(srcs) > 50
    pairs = spark.createDataFrame(
        [(int(s), int(t)) for s, t in zip(srcs, dsts)], "src long, dst long"
    ).withColumn("cnt", F.lit(1))

    A = (a | a.T).astype(np.int64)
    tri_vec = np.diag(A @ A @ A) // 2
    A2 = A @ A
    iu = np.triu_indices(n, k=1)
    sq_oracle = int((A2[iu] * (A2[iu] - 1) // 2).sum()) // 2
    tri_oracle = int(tri_vec.sum()) // 3

    with _csr(pairs) as csr:
        k = {r["v"]: r["triangles"] for r in graph._triangles_csr_kernel(pairs, csr).collect()}
        kern_counts = graph._match_counts_csr_kernel(pairs, csr)
    j = {r["v"]: r["triangles"] for r in graph._triangles_wedge_join(pairs).collect()}
    expect = {v: int(tri_vec[v]) for v in set(srcs) | set(dsts)}
    assert k == expect
    assert j == expect
    assert kern_counts == (tri_oracle, sq_oracle)
    assert graph._match_counts_wedge_join(pairs) == (tri_oracle, sq_oracle)


@pytest.mark.parametrize("seed", [3, 11])
def test_min_plus_closure_local_matches_dense_oracle(spark, seed):
    """Randomized differential for the local Floyd-Warshall arm against an
    independent dense min-plus squaring oracle on seeded directed graphs
    (cycles included, so finite src==dst entries are exercised)."""
    from spark_ml_algo_lib_master_tongji_spark.operators.graph import (
        _min_plus_closure_local,
    )

    rng = np.random.default_rng(seed)
    n = 25
    a = (rng.random((n, n)) < 0.15) & ~np.eye(n, dtype=bool)
    srcs, dsts = np.nonzero(a)
    edges = spark.createDataFrame(
        [(int(s), int(t)) for s, t in zip(srcs, dsts)], "src long, dst long"
    )
    big = 10**9
    d = np.where(a, 1, big).astype(np.int64)
    while True:  # repeated min-plus squaring (different loop than FW)
        d2 = np.minimum(d, (d[:, None, :] + d.T[None, :, :]).min(axis=2))
        if np.array_equal(d2, d):
            break
        d = d2
    expect = {
        (int(i), int(j)): int(d[i, j])
        for i, j in zip(*np.nonzero(d < big))
    }
    got = {
        (r["src"], r["dst"]): r["dist"]
        for r in _min_plus_closure_local(edges).collect()
    }
    assert got == expect


def test_gate_caches_released_after_materializing_arms(spark):
    """The closure gate persists an uncached input to share the gate
    count with the chosen arm, and the match-count join caches its
    projection; both materialize before returning and must release what
    they cached — a standalone scc/closeness/matching call may not pin an
    edge-list copy for the session (round-5 review)."""
    from pyspark.storagelevel import StorageLevel

    from spark_ml_algo_lib_master_tongji_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    graph.min_plus_closure(edges).collect()
    assert edges.storageLevel == StorageLevel.NONE

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "src long, dst long"
    ).withColumn("cnt", F.lit(1))
    graph.subgraph_match_counts(pairs).collect()
    assert pairs.storageLevel == StorageLevel.NONE


def _write_lineitem(spark, sf_dir, rows) -> None:
    """A lineitem table of (l_orderkey, l_partkey) rows under ``sf_dir``."""
    spark.createDataFrame(rows, "l_orderkey long, l_partkey long").write.parquet(
        str(sf_dir / "lineitem.parquet")
    )


def _copurchase_stats_first_principles(rows) -> tuple[int, float]:
    """(m, w) of the co-purchase graph from raw (order, part) rows: every
    pair of lineitem rows of one order with parts x < y adds 1 to the
    weight of edge (x, y)."""
    from collections import Counter, defaultdict
    from itertools import combinations

    by_order = defaultdict(list)
    for ok, part in rows:
        by_order[ok].append(part)
    cnt = Counter(
        (min(x, y), max(x, y))
        for parts in by_order.values()
        for x, y in combinations(parts, 2)
        if x != y
    )
    return len(cnt), float(sum(cnt.values()))


def _drop_session_caches_of(sf_dir) -> None:
    """Release the session-shared derivations built over ``sf_dir``."""
    from spark_ml_algo_lib_master_tongji_spark.operators import graph

    with graph._CACHE_GUARD:
        for cache in (graph._DERIV_CACHE, graph._OBJ_CACHE):
            for k in [k for k in cache if k[1] == str(sf_dir)]:
                v = cache.pop(k)
                if hasattr(v, "unpersist"):
                    v.unpersist(blocking=False)
                elif k[2] == "copurchase_csr":
                    v[0].unpersist(blocking=False)


def test_edge_stats_match_the_canonical_pairs(cat):
    """``copurchase_edge_stats`` comes out of the job that fills the
    ``sym_copurchase`` cache; it must equal a separate count/sum over the
    canonical pairs and the first-principles stats of raw lineitem."""
    from spark_ml_algo_lib_master_tongji_spark.operators import graph

    m, w = graph.copurchase_edge_stats(cat)
    r = graph.copurchase_pairs(cat).agg(
        F.count(F.lit(1)).alias("m"), F.sum("cnt").alias("w")
    ).first()
    assert (m, w) == (r["m"], float(r["w"]))
    li = cat.lineitem.select("l_orderkey", "l_partkey").collect()
    assert (m, w) == _copurchase_stats_first_principles(map(tuple, li))
    assert w > m  # the fixture has parallel edges


def test_edge_stats_with_parallel_edges(spark, tmp_path):
    """On a small graph with parallel edges (w ≠ m) and a part repeated
    inside one order (a self pair, dropped), the stats and the canonical
    pairs agree with the first-principles counts."""
    from spark_ml_algo_lib_master_tongji_spark.operators import graph
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog

    rows = [(1, 1), (1, 2), (1, 3), (2, 1), (2, 2), (3, 2), (3, 2), (3, 4),
            (4, 5)]
    _write_lineitem(spark, tmp_path, rows)
    cat = Catalog(spark, str(tmp_path))
    try:
        # (1,2) twice, (2,4) twice from the repeated part 2 of order 3
        assert graph.copurchase_edge_stats(cat) == (4, 6.0)
        assert _copurchase_stats_first_principles(rows) == (4, 6.0)
        assert sorted(map(tuple, graph.copurchase_pairs(cat).collect())) == [
            (1, 2, 2), (1, 3, 1), (2, 3, 1), (2, 4, 2)
        ]
    finally:
        _drop_session_caches_of(tmp_path)


def test_first_gated_csr_runs_one_graph_load(spark, tmp_path):
    """The first ``copurchase_csr_gated`` of a fresh session (a new sf dir
    keys fresh session caches) runs the symmetric-list build, whose one
    fill job also yields the edge stats, and the CSR collect — 6 Spark
    jobs at sf0.001 with a known lineitem schema. A separate canonical
    cache, edge-stats aggregate or schema inference would add jobs. The
    second call runs none."""
    import shutil

    from spark_ml_algo_lib_master_tongji_spark.operators import graph
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog
    from tests.conftest import spark_jobs

    shutil.copy(f"{SF_SMOKE}/lineitem.parquet", tmp_path / "lineitem.parquet")
    cat = Catalog(spark, str(tmp_path))
    try:
        cat.lineitem  # infer the schema outside the counted region
        csr, jobs = spark_jobs(spark, lambda: graph.copurchase_csr_gated(cat))
        assert csr is not None and jobs == 6, jobs
        again, jobs = spark_jobs(spark, lambda: graph.copurchase_csr_gated(cat))
        assert again is csr and jobs == 0, jobs
        assert graph.copurchase_edge_stats(cat) == graph.copurchase_edge_stats(
            Catalog(spark, SF_SMOKE)
        )
    finally:
        _drop_session_caches_of(tmp_path)
