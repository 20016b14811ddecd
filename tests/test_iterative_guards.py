"""Guards on the DataFrame-Pregel loop machinery: conditional vertex-state
broadcast (round-1 ADVICE: an unconditional O(|V|) broadcast hint fails
outright at scale) and the fixed-point convergence check (round-1 ADVICE:
truncated propagation budgets silently mislabel larger graphs)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _pairs(spark):
    rows = [(1, 2, 1), (2, 3, 1), (3, 4, 1), (4, 5, 1), (5, 6, 1), (8, 9, 1)]
    return spark.createDataFrame(rows, "src long, dst long, cnt long")


def test_state_join_shuffles_when_hint_disabled(spark):
    """Above the ceiling, a superstep-shaped join of edges to vertex state
    must not plan a broadcast of the state side — the state joins through
    an exchange (shuffled hash / sort-merge), the shape that survives
    |V| ≫ broadcast limits. (The loop's returned DataFrame is checkpointed,
    so the superstep plan is asserted on a directly-built join.)"""
    from spark_ml_algo_lib_master_tongji_spark.operators import graph

    e = graph.symmetrize(_pairs(spark))
    state = e.select(F.col("src").alias("v")).distinct().withColumn(
        "label", F.col("v")
    )
    hinted = e.join(graph._bc(state, 10), e.src == state.v)
    plain = e.join(graph._bc(state, graph.STATE_BC_MAX_ROWS + 1), e.src == state.v)
    assert "BroadcastHashJoin" in hinted._jdf.queryExecution().executedPlan().toString()
    assert (
        "BroadcastHashJoin"
        not in plain._jdf.queryExecution().executedPlan().toString()
    )


def test_components_identical_without_broadcast_hint(spark, monkeypatch):
    from spark_ml_algo_lib_master_tongji_spark.operators import graph
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog

    cat = Catalog(spark, SF_SMOKE)
    e = graph.symmetrize(graph.copurchase_pairs(cat))
    hinted = sorted(map(tuple, graph.connected_components(e).collect()))
    monkeypatch.setattr(graph, "STATE_BC_MAX_ROWS", -1)
    plain = sorted(map(tuple, graph.connected_components(e).collect()))
    assert hinted == plain


def test_not_converged_raises(spark):
    """A round budget smaller than the graph diameter must raise, not
    return truncated labels."""
    from spark_ml_algo_lib_master_tongji_spark.operators import graph
    from spark_ml_algo_lib_master_tongji_spark.plans.iterative import (
        NotConvergedError,
    )

    e = graph.symmetrize(_pairs(spark))  # path 1-…-6: diameter 5
    with pytest.raises(NotConvergedError):
        graph.connected_components(e, n_iter=2).collect()


def test_converged_budget_passes_and_labels_exact(spark):
    from spark_ml_algo_lib_master_tongji_spark.operators import graph

    e = graph.symmetrize(_pairs(spark))
    out = dict(graph.connected_components(e, n_iter=6).collect())
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 8: 8, 9: 8}


def test_shrinking_state_is_not_a_silent_fixpoint(spark):
    """Monotonically shrinking states (k-core-style peels, where each
    round's output is a subset of the input) must still trip the guard
    when truncated: a one-sided after∖before diff is empty for every
    deletion-only step, so ``unchanged`` must also compare cardinality
    (round-2 ADVICE)."""
    from spark_ml_algo_lib_master_tongji_spark.plans.iterative import (
        NotConvergedError,
        iterate,
        unchanged,
    )

    state0 = spark.createDataFrame([(v,) for v in range(10)], "v long")

    # deterministic deletion-only step: drop the max id each round
    def shrink(state, _i):
        mx = state.agg(F.max("v")).collect()[0][0]
        return state.where(F.col("v") < mx) if mx is not None and mx > 0 else state

    with pytest.raises(NotConvergedError):
        iterate(state0, shrink, 3, verify_fixpoint=unchanged).collect()

    # and a shrink that genuinely reaches its fixed point passes
    out = iterate(state0, shrink, 12, verify_fixpoint=unchanged)
    assert [r["v"] for r in out.collect()] == [0]


def test_probe_fallback_when_budget_is_exact(spark):
    """Budget == rounds-to-fixpoint (state changes in the final round):
    the cheap penultimate-state comparison fails, the probe superstep
    proves quiescence, and the loop still succeeds."""
    from spark_ml_algo_lib_master_tongji_spark.plans.iterative import (
        iterate,
        unchanged,
    )

    state0 = spark.createDataFrame([(1, 3)], "v long, x long")

    def step(state, _i):
        return state.select("v", F.greatest(F.col("x") - 1, F.lit(0)).alias("x"))

    out = iterate(state0, step, 3, verify_fixpoint=unchanged)
    assert out.collect()[0][1] == 0


def test_early_exit_returns_identical_state_and_skips_dead_rounds(spark):
    """A loop that converges at round k < budget must (a) stop stepping —
    the remaining rounds are proven no-ops — and (b) return exactly the
    state the full unroll would produce (the oracle-parity invariant the
    round-4 early exit rests on)."""
    from spark_ml_algo_lib_master_tongji_spark.plans.iterative import (
        iterate,
        unchanged,
    )

    state0 = spark.createDataFrame([(1, 3)], "v long, x long")
    calls = []

    def step(state, i):
        calls.append(i)
        return state.select("v", F.greatest(F.col("x") - 1, F.lit(0)).alias("x"))

    out = iterate(state0, step, 50, verify_fixpoint=unchanged)
    assert out.collect()[0][1] == 0
    # x hits 0 after 3 steps; the first adjacent-equal pair appears one
    # step later. Far fewer than 50 steps may run, and none after that.
    assert len(calls) < 10


def test_early_stop_does_not_demand_convergence(spark):
    """``early_stop`` (depth-limited loops: BFS/SSSP) exits on a proven
    fixed point but must NOT raise when the budget truncates first."""
    from spark_ml_algo_lib_master_tongji_spark.plans.iterative import (
        iterate,
        unchanged,
    )

    state0 = spark.createDataFrame([(1, 100)], "v long, x long")

    def step(state, _i):
        return state.select("v", F.greatest(F.col("x") - 1, F.lit(0)).alias("x"))

    # truncated: budget 3 leaves x at 97 — valid output, no error
    out = iterate(state0, step, 3, early_stop=unchanged)
    assert out.collect()[0][1] == 97


def test_monotone_sum_probe_matches_unchanged_on_label_loops(spark):
    """The scalar-sum probe must agree with full multiset equality on a
    monotone min-label loop — same early exit, same final labels."""
    from spark_ml_algo_lib_master_tongji_spark.operators import graph
    from spark_ml_algo_lib_master_tongji_spark.plans.iterative import (
        NotConvergedError,
        monotone_sum_probe,
    )

    e = graph.symmetrize(_pairs(spark))
    out = dict(graph.connected_components(e, n_iter=8).collect())
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 8: 8, 9: 8}

    # the probe itself: equal sums on identical states, unequal otherwise
    probe = monotone_sum_probe("label")
    s1 = spark.createDataFrame([(1, 5), (2, 7)], "v long, label long")
    s2 = spark.createDataFrame([(1, 5), (2, 6)], "v long, label long")
    assert probe(s1, s1) and not probe(s1, s2)

    # truncated-propagation guard still fires through the scalar probe
    with pytest.raises(NotConvergedError):
        graph.connected_components(e, n_iter=2).collect()


# ---- CSR kernel arm vs DataFrame arm ---------------------------------------
#
# Registry rows take the kernel arm whenever ADJ_BC_MAX_EDGES admits the
# graph, so at fixture scale only these tests value-check the DataFrame
# loops (the arm above the gate): both arms must return identical rows.

_ARMS = {"cc": "connected_components", "lpa": "label_propagation", "kcore": "kcore"}


def _both_arms(spark, pairs, fn_name, **kw):
    """(DataFrame-arm rows, kernel-arm rows) of one propagation operator on
    a canonical (src < dst) pair list, each sorted."""
    from spark_ml_algo_lib_master_tongji_spark.operators import graph

    fn = getattr(graph, fn_name)
    e = graph.symmetrize(pairs)
    bc, n = graph.csr_broadcast(pairs)
    try:
        loop = sorted(map(tuple, fn(e, **kw).collect()))
        kern = sorted(map(tuple, fn(e, csr=(bc, n), **kw).collect()))
    finally:
        bc.unpersist(blocking=False)
    return loop, kern


@pytest.mark.parametrize("bad", [-1, 2**31])
def test_csr_broadcast_rejects_ids_outside_int32(spark, bad):
    """Neighbor ids are stored as int32 and index ``indptr`` directly: an
    id outside [0, 2^31) must raise before the cast, not wrap silently."""
    from spark_ml_algo_lib_master_tongji_spark.operators import graph

    pairs = spark.createDataFrame([(0, 1), (1, bad)], "src long, dst long")
    with pytest.raises(ValueError, match=r"\[0, 2\^31\)"):
        graph.csr_broadcast(pairs)


@pytest.mark.parametrize("arm", sorted(_ARMS))
def test_kernel_arm_matches_dataframe_arm_on_smoke_graph(spark, arm):
    from spark_ml_algo_lib_master_tongji_spark.operators import graph
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog

    cat = Catalog(spark, SF_SMOKE)
    csr = graph.copurchase_csr_gated(cat)
    assert csr is not None  # the fixture graph is far below the gate
    fn = getattr(graph, _ARMS[arm])
    e = graph.sym_copurchase(cat)
    loop = sorted(map(tuple, fn(e).collect()))
    kern_df = fn(e, csr=csr)
    assert kern_df.dtypes == [(c, "bigint") for c in kern_df.columns]
    assert loop and sorted(map(tuple, kern_df.collect())) == loop


def test_csr_gate_refuses_past_the_ceiling(spark, monkeypatch):
    """Past ADJ_BC_MAX_EDGES the gate hands out no CSR, so the registry
    rows fall back to the DataFrame loops."""
    from spark_ml_algo_lib_master_tongji_spark.operators import graph
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog

    cat = Catalog(spark, SF_SMOKE)
    m, _w = graph.copurchase_edge_stats(cat)
    monkeypatch.setattr(graph, "ADJ_BC_MAX_EDGES", m - 1)
    assert graph.copurchase_csr_gated(cat) is None
    monkeypatch.setattr(graph, "ADJ_BC_MAX_EDGES", m)
    assert graph.copurchase_csr_gated(cat) is graph.copurchase_csr(cat)


@pytest.mark.parametrize("arm", sorted(_ARMS))
def test_kernel_arm_matches_dataframe_arm_on_two_components(spark, arm):
    # a triangle with a tail, and a 4-cycle with one chord
    rows = [(1, 2, 1), (1, 3, 1), (2, 3, 1), (3, 4, 1),
            (10, 11, 1), (10, 12, 1), (10, 13, 1), (11, 12, 1), (12, 13, 1)]
    pairs = spark.createDataFrame(rows, "src long, dst long, cnt long")
    kw = {"k": 2} if arm == "kcore" else {}  # the 4-core here is empty
    loop, kern = _both_arms(spark, pairs, _ARMS[arm], **kw)
    assert loop and kern == loop
    if arm == "cc":
        assert dict(kern) == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 13: 10}


def test_lpa_tie_goes_to_smaller_label_in_both_arms(spark):
    """Path 1-2-3, one round: vertex 2 sees labels 1 and 3 once each and
    must adopt 1; the endpoints each see only label 2."""
    pairs = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1)], "src long, dst long, cnt long"
    )
    loop, kern = _both_arms(spark, pairs, "label_propagation", n_iter=1)
    assert loop == kern == [(1, 2), (2, 1), (3, 2)]


def test_kcore_above_max_degree_is_empty_in_both_arms(spark):
    loop, kern = _both_arms(spark, _pairs(spark), "kcore", k=3)
    assert loop == kern == []


def test_kernel_arm_not_converged_raises(spark):
    """The kernels keep the loops' convergence guard: the budgets that make
    the DataFrame arms raise on the 6-vertex path make the kernels raise."""
    from spark_ml_algo_lib_master_tongji_spark.operators import graph
    from spark_ml_algo_lib_master_tongji_spark.plans.iterative import (
        NotConvergedError,
    )

    pairs = _pairs(spark)
    e = graph.symmetrize(pairs)
    bc, n = graph.csr_broadcast(pairs)
    try:
        for call in (
            lambda **kw: graph.connected_components(e, n_iter=2, **kw),
            # a 2-core peel of a path takes 3 rounds
            lambda **kw: graph.kcore(e, k=2, rounds=2, **kw),
        ):
            with pytest.raises(NotConvergedError):
                call().collect()
            with pytest.raises(NotConvergedError):
                call(csr=(bc, n))
    finally:
        bc.unpersist(blocking=False)
