"""Plan-shape regression tests pinning the round-2/3 scale gates.

These assert the *plan*, not the result: (a) the vertex-state broadcast
hint is size-gated (`graph._bc` / `STATE_BC_MAX_ROWS`) so an O(|V|) state
is never forced through the driver once |V| outgrows the ceiling; (b) the
pair-generating kernels (dedup / KNN / DBSCAN) never plan a cartesian or
broadcast-nested-loop join — the blocked equi-join shape is what makes
them survive 100 TB.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def cat(spark):
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog

    return Catalog(spark, SF_SMOKE)


def _full_plan(df) -> str:
    """All plan phases (parsed/analyzed/optimized/physical) as one string."""
    return df._jdf.queryExecution().toString()


def test_state_broadcast_hint_is_size_gated(spark):
    """`_bc` must hint broadcast only while the per-vertex relation provably
    fits (STATE_BC_MAX_ROWS); above the ceiling the relation passes through
    un-hinted so the join shuffles (or AQE decides from runtime stats)."""
    from pyspark.sql import functions as F

    from spark_ml_algo_lib_master_tongji_spark.operators.graph import (
        STATE_BC_MAX_ROWS,
        _bc,
    )

    state = spark.range(10).select(F.col("id").alias("v"))
    edges = spark.range(10).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )

    hinted = edges.join(_bc(state, STATE_BC_MAX_ROWS), edges.src == state.v)
    assert "ResolvedHint (strategy=broadcast)" in _full_plan(hinted).split(
        "== Analyzed"
    )[0], "at/below the ceiling the state must carry a broadcast hint"

    gated = edges.join(
        _bc(state, STATE_BC_MAX_ROWS + 1), edges.src == state.v
    )
    assert "ResolvedHint" not in _full_plan(gated).split("== Analyzed")[0], (
        "above the ceiling no broadcast hint may be forced on the state"
    )


@pytest.mark.parametrize(
    ("query", "allow_bnlj"),
    [
        ("dedup_embedding_cosine", False),
        ("ml_dbscan", False),
        ("sim_lsh_bucket_pairs", False),
        # KNN's pivot assignment IS a broadcast cross join — against a
        # constant-size (N_PIVOTS-row) literal table, which is bounded at
        # any corpus scale; only a data×data cartesian would be a bug.
        ("ml_knn_spilltree", True),
    ],
)
def test_pair_kernels_plan_no_cartesian(spark, query, allow_bnlj):
    """The exact pair kernels are blocked equi-joins: a CartesianProduct
    (or, except for the bounded pivot fan-out, a BroadcastNestedLoopJoin)
    node in any plan phase means the blocking broke and the operator
    degraded to all-pairs row joins."""
    from spark_ml_algo_lib_master_tongji_spark.registry import build_registry

    df = build_registry()[query](spark, SF_SMOKE)
    plan = _full_plan(df)
    assert "CartesianProduct" not in plan, f"{query} planned a cartesian join"
    if not allow_bnlj:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{query} planned a broadcast nested-loop join"
        )


def test_blocked_apply_worker_arm_plan_shape(cat):
    """At SF_SMOKE the registry's blocked pair rows fit one block and run
    their kernel on the driver, so the cases above no longer plan a
    blocked join. Pin the worker arm directly: the fixture embeddings at
    block_rows=128 (4 blocks) must run as grouped Arrow kernels, with no
    cartesian, broadcast-nested-loop or pickled-UDF node."""
    from spark_ml_algo_lib_master_tongji_spark.operators import density
    from spark_ml_algo_lib_master_tongji_spark.operators.pairs import blocked_apply

    df = blocked_apply(
        density._points(cat), density._eps_kernel, "i long, j long", block_rows=128
    )
    plan = _full_plan(df)
    assert "FlatMapGroupsInPandas" in plan
    for node in ("CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"):
        assert node not in plan, node


def test_sym_copurchase_single_shuffle_load(spark):
    """The graph load aggregates the symmetric edge list exchange-free
    after its explicit repartition(src): exactly ONE shuffle may follow
    the self-join in the physical plan (the repartition), because
    hashpartitioning(src) satisfies the (src, dst) clustering of the
    parallel-edge groupBy. A second post-join exchange means the agg
    stopped reusing the partitioning and the load doubled its shuffle
    volume."""
    from pyspark.sql import functions as F

    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog

    cat = Catalog(spark, SF_SMOKE)
    # Filtered base so the expression can NEVER match the session-cached
    # sym_copurchase fragment: the cache manager would otherwise substitute
    # an InMemoryTableScan whose *stored* plan string double-counts the
    # exchanges this test asserts on (flaked under full-suite ordering).
    li = cat.lineitem.where(F.col("l_orderkey") % 7 == 0).select(
        "l_orderkey", "l_partkey"
    )
    a = li.toDF("ok", "src")
    b = li.toDF("ok", "dst")
    sym = (
        a.join(b, "ok")
        .where(F.col("src") != F.col("dst"))
        .repartition("src")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    physical = _full_plan(sym).split("== Physical Plan ==")[-1]
    # Pin only the src-keyed invariant (round-4 ADVICE: asserting the TOTAL
    # exchange count flakes across Spark versions/AQE exchange-reuse): the
    # explicit repartition(src) is the single src-keyed exchange, and no
    # other exchange may sit ABOVE it — plan strings print top-down, so the
    # first Exchange from the top being the src one proves the groupBy
    # reused the repartition partitioning instead of adding a shuffle.
    assert physical.count("Exchange hashpartitioning(src") == 1, (
        "exactly one src-keyed exchange (the explicit repartition) expected:\n"
        + physical
    )
    first_ex = physical.find("Exchange ")
    src_ex = physical.find("Exchange hashpartitioning(src")
    assert first_ex == src_ex, (
        "an exchange sits above the repartition(src) — the groupBy stopped "
        "reusing its partitioning:\n" + physical
    )


def test_top_ngrams_plan_bounded_topk_no_global_sort(cat):
    """The vocabulary query's top-K must plan as TakeOrderedAndProject
    (K rows per partition move) over a partial+final count — a global
    Sort before the limit would materialize the whole gram space."""
    from spark_ml_algo_lib_master_tongji_spark.operators.text_analysis import (
        text_top_ngrams,
    )

    physical = _full_plan(text_top_ngrams(cat)).split("== Physical Plan ==")[-1]
    assert "TakeOrderedAndProject" in physical
    assert "partial_count" in physical  # map-side combine before the shuffle
    # no full-sort node outside the bounded top-K operator itself
    assert "\n   +- Sort " not in physical


def test_decontaminate_plan_no_cartesian(cat):
    """The decontamination overlap is an inverted-index equi-join on the
    gram key — never a doc×doc comparison."""
    from spark_ml_algo_lib_master_tongji_spark.operators.text_analysis import (
        pipeline_decontaminate,
    )

    plan = _full_plan(pipeline_decontaminate(cat))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sequence_pack_plan_single_data_shuffle(cat):
    """Packing must plan exactly one hash shuffle of the doc stream (the
    shard partition feeding the per-shard window cumsum) plus the
    round-robin spread — never a global Sort or a second data exchange:
    shards are independent by design, so any extra exchange would be a
    coordination step the 100 TB shape must not have."""
    from spark_ml_algo_lib_master_tongji_spark.operators.text_analysis import (
        pipeline_sequence_pack,
    )

    physical = _full_plan(pipeline_sequence_pack(cat)).split(
        "== Physical Plan =="
    )[-1]
    assert physical.count("Exchange hashpartitioning(shard") == 1
    assert physical.count("Exchange") <= 2  # shard hash + spread round-robin
    # the window sort is per-partition (local); a global Sort would show as
    # an Exchange rangepartitioning feeding it
    assert "rangepartitioning" not in physical


def test_domain_mix_plan_broadcasts_rates(cat):
    """The per-source rate table (key space = #domains) must come back to
    the doc stream as a broadcast join — a shuffle join on source would
    move the whole corpus for a handful of rate rows."""
    from spark_ml_algo_lib_master_tongji_spark.operators.text_analysis import (
        pipeline_domain_mix,
    )

    physical = _full_plan(pipeline_domain_mix(cat)).split(
        "== Physical Plan =="
    )[-1]
    assert "BroadcastHashJoin" in physical
    assert "SortMergeJoin" not in physical
    assert "CartesianProduct" not in physical


def test_doc_chunks_plan_no_shuffle(cat):
    """Chunking is row-local projection + explode: zero exchanges."""
    from spark_ml_algo_lib_master_tongji_spark.operators.text_analysis import (
        pipeline_doc_chunks,
    )

    physical = _full_plan(pipeline_doc_chunks(cat)).split(
        "== Physical Plan =="
    )[-1]
    assert "Exchange" not in physical


def test_filter_pushdown_and_column_pruning_reach_scan(spark, cat):
    """The brief's scan contract: a filtered 2-ish-column query must show
    its predicate in PushedFilters and a pruned ReadSchema at the parquet
    scan — a scan reading all 16 lineitem columns for q6's 4-column
    aggregate would multiply I/O at 100 TB."""
    from spark_ml_algo_lib_master_tongji_spark.registry import build_registry

    reg = build_registry()
    plan = _full_plan(reg["q6_forecast_revenue"](spark, SF_SMOKE))
    physical = plan.split("== Physical Plan ==")[-1]
    scan = physical[physical.find("FileScan") :]
    assert "PushedFilters: [" in scan
    # at least one real predicate reached the scan (not just the empty list)
    pushed = scan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), "no predicates pushed to the lineitem scan"
    # column pruning: the read schema must stay a strict subset of the table
    read_schema = scan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "l_shipdate" in read_schema or "l_quantity" in read_schema
    assert "l_comment" not in read_schema  # the wide never-used column
    assert read_schema.count(":") <= 6, read_schema  # q6 needs 4 columns


def test_hive_partitioned_sink_prunes_partitions(spark, tmp_path):
    """Hive-style partitioned layout + equality filter must plan partition
    pruning (PartitionFilters at the scan), so a per-type query reads one
    directory, not the table."""
    from pyspark.sql import functions as F

    src = spark.range(0, 1000).select(
        F.col("id"),
        (F.col("id") % 4).cast("string").alias("ptype"),
    )
    path = str(tmp_path / "part_events")
    src.write.mode("overwrite").partitionBy("ptype").parquet(path)
    df = spark.read.parquet(path).where(F.col("ptype") == "2")
    physical = _full_plan(df).split("== Physical Plan ==")[-1]
    scan = physical[physical.find("FileScan") :]
    assert "PartitionFilters: [" in scan
    pf = scan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "ptype" in pf, pf
    assert df.count() == 250


def test_vocab_prune_plan_bounded_topk_broadcast_vocab(cat):
    """The vocab cut must move only V rows per partition
    (TakeOrderedAndProject, never a global Sort), and the folded one-row
    vocab array must come back onto the doc scan as a broadcast — a
    shuffle join here would move the corpus for a 20-word vocabulary.
    (The anti-join + join-back alternative is a recorded 1.6× negative
    A/B under the materialized protocol, PLANS round-7 addendum 9.)"""
    from spark_ml_algo_lib_master_tongji_spark.operators.text_analysis import (
        pipeline_vocab_prune,
    )

    physical = _full_plan(pipeline_vocab_prune(cat)).split(
        "== Physical Plan =="
    )[-1]
    assert "TakeOrderedAndProject" in physical
    assert "BroadcastNestedLoopJoin" in physical  # 1-row vocab × doc scan
    assert "SortMergeJoin" not in physical
    assert "CartesianProduct" not in physical
    assert "rangepartitioning" not in physical


def test_quality_filter_plan_histogram_median_broadcast_thresholds(cat):
    """The median must be computed on the (lang, quality) histogram and the
    #langs-row threshold table broadcast back — a per-language window over
    the doc stream would fold each language's whole corpus into one task,
    and a shuffle join would move the corpus for a handful of rows."""
    from spark_ml_algo_lib_master_tongji_spark.operators.text_analysis import (
        pipeline_quality_filter,
    )

    physical = _full_plan(pipeline_quality_filter(cat)).split(
        "== Physical Plan =="
    )[-1]
    assert "BroadcastHashJoin" in physical
    assert "SortMergeJoin" not in physical
    assert "CartesianProduct" not in physical
    # the only exchanges are the tiny histogram/window keys, never a global
    # range sort of the docs
    assert "rangepartitioning" not in physical


def test_pii_scrub_plan_row_local(cat):
    """Redaction is one codegen projection over the scan: no hash or range
    exchange (the round-robin spread is the only data movement)."""
    from spark_ml_algo_lib_master_tongji_spark.operators.text_analysis import (
        pipeline_pii_scrub,
    )

    physical = _full_plan(pipeline_pii_scrub(cat)).split(
        "== Physical Plan =="
    )[-1]
    assert "hashpartitioning" not in physical
    assert "rangepartitioning" not in physical
    assert physical.count("Exchange") <= 1  # the spread round-robin only


def test_chunk_dedup_plan_single_fingerprint_shuffle(cat):
    """Chunking is row-local explode; dedup must be exactly ONE hash
    shuffle on the fingerprint with a map-side partial aggregation —
    the dedup_exact scale shape at chunk granularity."""
    from spark_ml_algo_lib_master_tongji_spark.operators.dedup import (
        pipeline_chunk_dedup,
    )

    physical = _full_plan(pipeline_chunk_dedup(cat)).split(
        "== Physical Plan =="
    )[-1]
    assert physical.count("Exchange hashpartitioning(chunk_fp") == 1
    assert "rangepartitioning" not in physical
    assert "partial_count" in physical or "partial_min" in physical


def test_winnow_fingerprints_plan_row_local(cat):
    """Winnowing is entirely row-local list ops (the explode + doc_id
    window alternative is a recorded 2× negative A/B, PLANS round-7
    addendum 10): no hash or range exchange at all — the round-robin
    spread is the only data movement."""
    from spark_ml_algo_lib_master_tongji_spark.operators.text_analysis import (
        text_winnow_fingerprints,
    )

    physical = _full_plan(text_winnow_fingerprints(cat)).split(
        "== Physical Plan =="
    )[-1]
    assert "hashpartitioning" not in physical
    assert "rangepartitioning" not in physical
    assert physical.count("Exchange") <= 1  # the spread round-robin only


def test_winnow_pairs_plan_no_cartesian(cat):
    """The winnow-pair generator is an inverted-index equi-join on the
    fingerprint key — a cartesian/BNLJ node means the df-capped blocking
    broke and it degraded to doc×doc."""
    from spark_ml_algo_lib_master_tongji_spark.operators.dedup import (
        dedup_winnow_pairs,
    )

    plan = _full_plan(dedup_winnow_pairs(cat))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_delta_plan_no_cartesian_pruned_store_reads(cat):
    """Delta dedup's physical plan: every join keyed (no cartesian / BNLJ
    anywhere in the fp, band, winnow, and anti-join stages), and the store
    reads are column-pruned — the winnow df-cap subquery must scan ONLY
    the fp column of the posting table, never drag doc_ids through the
    cap aggregation."""
    from spark_ml_algo_lib_master_tongji_spark.operators import dedup

    plan = _full_plan(dedup.dedup_delta(cat))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "struct<fp:bigint>" in plan  # winnow cap: fp-only store scan


def test_bucketed_store_sink_elides_store_side_exchange(spark, tmp_path):
    """The 100 TB store layout claim (build_dedup_index docstring +
    round-8 verdict item 5): with the fps sink written ``bucketBy(fp)``,
    the delta-side fp join needs NO exchange on the store side — the scan
    itself satisfies the join's hash distribution — while the identical
    plain-parquet store pays one. Broadcast is disabled to simulate the
    regime where neither side fits (the only regime bucketing is for);
    the differential (2 exchanges plain vs 1 bucketed) is the evidence,
    robust to unrelated plan changes."""
    import pyspark.sql.functions as F

    store = spark.range(0, 10_000).select(
        (F.col("id") * 2654435761 % 1_000_003).alias("fp"),
        F.col("id").alias("keeper_doc_id"),
    )
    delta = spark.range(0, 500).select(
        (F.col("id") * 2654435761 % 1_000_003).alias("fp"),
        (F.col("id") + 7_000_000).alias("doc_id"),
    )
    store.write.mode("overwrite").parquet(str(tmp_path / "plain_fps"))
    store.write.bucketBy(8, "fp").sortBy("fp").mode("overwrite").saveAsTable(
        "t_fps_bucketed_ab"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plain = _full_plan(
            delta.join(spark.read.parquet(str(tmp_path / "plain_fps")), "fp")
        ).split("== Physical Plan ==")[-1]
        bucketed = _full_plan(
            delta.join(spark.table("t_fps_bucketed_ab"), "fp")
        ).split("== Physical Plan ==")[-1]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_fps_bucketed_ab")
    # differential, not absolute counts (robust across Spark versions /
    # AQE config — round-9 ADVICE): bucketing removes exactly the
    # store-side exchange, and the plain side pays at least one.
    assert plain.count("Exchange") == bucketed.count("Exchange") + 1
    assert plain.count("Exchange") >= 1
    assert "SelectedBucketsCount" in bucketed or "Bucketed: true" in bucketed


def test_ivf_store_search_prunes_partitions_and_roundtrips(spark):
    """The persisted-IVF-store search (knn.ivf_search_index) must reach
    the lists scan with a STATIC leaf filter — PartitionFilters on the
    leaf-partitioned store, the n_probes/n_pivots read fraction that
    makes the store pay off at scale — and its results must equal the
    fresh in-session ivf_search exactly (the sim_ivf_delta_search
    contract, pinned here on the smoke fixture so the driver row and
    this test cover two SFs)."""
    from spark_ml_algo_lib_master_tongji_spark.operators import knn
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog

    cat = Catalog(spark, SF_SMOKE)
    store = knn._ivf_store_dir(cat)
    _, queries = knn._corpus_queries(cat)
    stored = knn.ivf_search_index(spark, store, queries)

    physical = _full_plan(stored).split("== Physical Plan ==")[-1]
    import re

    scan_lines = [
        ln for ln in physical.splitlines() if "PartitionFilters" in ln
    ]
    assert any(
        re.search(r"PartitionFilters: \[.*leaf.*(IN|isnotnull)", ln)
        for ln in scan_lines
    ), f"lists scan shows no leaf partition filter:\n{physical[:2000]}"

    corpus, queries2 = knn._corpus_queries(cat)
    fresh = knn.ivf_search(corpus, queries2)
    got = {tuple(r) for r in stored.collect()}
    want = {tuple(r) for r in fresh.collect()}
    assert got == want and got, "store search diverged from fresh search"

    # idempotent staging: second call reuses the published store
    import os

    marker = os.path.join(store, "_SUCCESS")
    m1 = os.path.getmtime(marker)
    assert knn._ivf_store_dir(cat) == store
    assert os.path.getmtime(marker) == m1


def test_ivf_store_rebuilds_on_key_mismatch(spark):
    """A complete-but-stale store (constants or fixture changed since it
    was built — simulated by corrupting _KEY) must be REBUILT through
    the locked publish, not silently adopted; a current store is reused
    without a rewrite."""
    import os

    from spark_ml_algo_lib_master_tongji_spark.operators import knn
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog

    cat = Catalog(spark, SF_SMOKE)
    store = knn._ivf_store_dir(cat)
    key_file = os.path.join(store, "_KEY")
    good = open(key_file).read()
    m1 = os.path.getmtime(os.path.join(store, "_SUCCESS"))
    assert knn._ivf_store_dir(cat) == store  # current key: reuse
    assert os.path.getmtime(os.path.join(store, "_SUCCESS")) == m1
    with open(key_file, "w") as f:
        f.write("built-under-old-constants")
    assert knn._ivf_store_dir(cat) == store  # stale key: rebuild
    assert open(key_file).read() == good
    assert os.path.getmtime(os.path.join(store, "_SUCCESS")) > m1


def test_group_distinct_sketch_never_keyed_per_user(cat):
    """`stat_group_distinct` must stage the HLL sketch AFTER the
    (group, user) dedup level: Catalyst's RewriteDistinctAggregates
    would otherwise evaluate partial_approx_count_distinct at the
    data-sized (event_type, week, user_id) aggregate — one 16 KB
    rsd-0.01 register array per distinct user key (~5.8 GB shuffled at
    the 10× fixture, measured 36s vs 0.6s). Pin: every HashAggregate
    that computes approx_count_distinct keys on the two group columns
    only, never on user_id."""
    import re

    from spark_ml_algo_lib_master_tongji_spark.operators.stats import (
        stat_group_distinct,
    )

    plan = stat_group_distinct(cat)._jdf.queryExecution().executedPlan().toString()
    agg_nodes = re.findall(r"HashAggregate\(keys=\[([^\]]*)\][^)]*functions=\[([^\]]*)\]", plan)
    assert agg_nodes, plan
    for keys, fns in agg_nodes:
        if "approx_count_distinct" in fns:
            assert "user_id" not in keys, (keys, fns)


@pytest.mark.parametrize(
    "query",
    [
        # the deliberate Arrow/Python boundaries of the engine — cogrouped
        # KNN kernels, the Brandes mapInPandas arms, the multimodal stubs,
        # and the semantic-dedup kernels all flow through these rows
        # (dedup_embedding_cosine fits one block at SF_SMOKE and runs on
        # the driver; test_blocked_apply_worker_arm_plan_shape pins its
        # worker arm)
        "ml_knn_classifier",
        "dedup_embedding_cosine",
        "mm_byte_features",
        "mm_frame_sample",
        "text_lang_id",
        "pipeline_semantic_dedup",
    ],
)
def test_python_boundaries_are_arrow_not_pickled(spark, query):
    """Round-14 verdict item 9: the census's combined python_evals bucket
    could not see a regression from Arrow-batched evaluation back to the
    pickled row-at-a-time ``BatchEvalPython`` path (guide §4.1/§4.3 — the
    slow boundary). Pin the rows that deliberately cross the Python
    boundary: their plans must contain NO BatchEvalPython node (the
    full-registry gate is tools/plan_census.py's KNOWN_BATCH_EVAL check,
    which fails the census on any hit)."""
    from spark_ml_algo_lib_master_tongji_spark.registry import build_registry

    df = build_registry()[query](spark, SF_SMOKE)
    plan = _full_plan(df)
    assert "BatchEvalPython" not in plan, query
