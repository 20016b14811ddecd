"""Distributed exact KNN estimator (SURVEY §2.2 #20, §7 Phase 3).

Re-expresses the reference's hybrid spill-tree KNN
(``org/apache/spark/ml/knn/KNN.scala:380-415`` fit, ``:92-122`` search;
``MetricTree.scala`` trees) in an idiomatic PySpark shape:

reference design                        → this engine
----------------------------------------+--------------------------------
sample → driver-side top metric tree    | sample → driver numpy pivot set
  (``KNN.scala:387-392``)               |   (seeded farthest-first)
``KNNPartitioner`` shuffle to leaves    | corpus partitioned by nearest
  (``KNN.scala:576-586``)               |   pivot (one shuffle)
per-partition hybrid spill trees       | per-leaf Arrow-batched numpy
  (``MetricTree.scala:207-248``)       |   block matmul (cogrouped
                                        |   applyInPandas)
tau spill fan-out (``KNN.scala:468-516``| two-phase exact search: probe
  estimates tau by regression)          |   SPILL leaves → kth-distance
                                        |   bound → triangle-inequality
                                        |   prune of remaining leaves
``topByKey`` merge (``KNN.scala:120``)  | window row_number ≤ k merge

The two-phase bound makes the search **exact on any data** (the reference's
spill trees are exact only when tau is large enough): a leaf can hold a
better neighbor only if (d(q,pivot) − leaf_radius)² ≤ current kth distance;
on clustered data nearly every leaf fails the test and is skipped, on
adversarially uniform high-dimensional data the search degrades gracefully
toward a partitioned brute-force scan — the correct cost floor (curse of
dimensionality), paid only by the queries that need it.

Scale: one repartition of corpus + queries by leaf id; per-leaf numpy
search; the merge shuffles ≤ k rows per (query, probed leaf). Driver holds
only the pivot sample and per-leaf radii (n_pivots scalars).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_ml_algo_lib_master_tongji_spark.functions.vectors import as_double_array
from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog, spread

from spark_ml_algo_lib_master_tongji_spark.operators.ml_exact import (
    KNN_K as KNN_TOPK,  # one k across the exact/brute/IVF arms + oracles
    KNN_QUERY_MOD,
)

N_PIVOTS = 8
SPILL = 2  # phase-1 probes per query
SAMPLE_N = 512
SEED = 2020

#: IVF recall@k floor vs the exact search on the fixture's adversarially
#: uniform embeddings (n_probes=3 of N_PIVOTS=8 lists — candidate volume
#: 3/8 of the corpus). Measured recall across sf0.001/0.01/0.1:
#: 0.496 / 0.552 / 0.618 (tools/anchor_bands.py reproduces; PLANS
#: round-10 addendum). Degenerate levels sit below the floor: random
#: probe routing ≈ the 3/8 candidate fraction (0.375), a broken leaf
#: assignment near 0.
IVF_RECALL_FLOOR = 0.45

_HIT_SCHEMA = T.StructType(
    [
        T.StructField("qid", T.LongType()),
        T.StructField("nid", T.LongType()),
        T.StructField("d2", T.DoubleType()),
    ]
)


def _pivots(df: DataFrame, n_pivots: int = N_PIVOTS) -> np.ndarray:
    """Farthest-first pivot selection on a bounded driver-side sample —
    the top-tree construction step (``KNN.scala:387-392`` samples to the
    driver the same way; the sample is capped, never the data)."""
    sample = np.array(
        [r["v"] for r in df.select("id", "v").orderBy("id").limit(SAMPLE_N).collect()]
    )
    rng = np.random.default_rng(SEED)
    piv = [sample[int(rng.integers(len(sample)))]]
    for _ in range(n_pivots - 1):
        d = np.min([((sample - p) ** 2).sum(axis=1) for p in piv], axis=0)
        piv.append(sample[int(d.argmax())])
    return np.stack(piv)


def _pivot_dists(df: DataFrame, pivots: np.ndarray) -> DataFrame:
    """(id, v, leaf, pd2) for every (row, pivot) pair — JVM-side distance
    against broadcast pivot literals."""
    spark = df.sparkSession
    pdf = spark.createDataFrame(
        [(i, [float(x) for x in p]) for i, p in enumerate(pivots)],
        "leaf int, pv array<double>",
    )
    d2 = F.aggregate(
        F.zip_with("v", "pv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return df.crossJoin(F.broadcast(pdf)).select(
        "id", "v", "leaf", d2.alias("pd2")
    )


def _topk_indices(d2: np.ndarray, kk: int) -> np.ndarray:
    """Per-row indices of the ``kk`` (d2, position)-lexicographically
    smallest entries, positions ascending within equal d2. O(m)
    argpartition fast path (the full O(m log m) stable argsort dominated
    the hot kernel) with an exact stable-argsort fallback for the rows
    whose k-th value ties across the partition boundary — argpartition
    keeps an arbitrary subset of boundary ties, which may not be the
    smallest positions (= smallest nids) the merge and oracle keep."""
    m = d2.shape[1]
    if kk >= m:
        return np.argsort(d2, axis=1, kind="stable")[:, :kk]
    pre = np.argpartition(d2, kk - 1, axis=1)[:, :kk]
    # prefix positions ascending (= nid order), then stable by d2 →
    # (d2, nid)-lexicographic within the prefix
    pre.sort(axis=1)
    pd2 = np.take_along_axis(d2, pre, axis=1)
    out = np.take_along_axis(pre, np.argsort(pd2, axis=1, kind="stable"), axis=1)
    # rows where entries OUTSIDE the prefix tie with the prefix max may
    # owe a smaller-nid candidate to the result: re-rank those exactly
    tied = (d2 <= pd2.max(axis=1)[:, None]).sum(axis=1) > kk
    if tied.any():
        out[tied] = np.argsort(d2[tied], axis=1, kind="stable")[:, :kk]
    return out


def _local_topk_factory(k: int):
    def local_topk(key, cpdf, qpdf):
        import pandas as pd

        if len(cpdf) == 0 or len(qpdf) == 0:
            return pd.DataFrame({"qid": [], "nid": [], "d2": []}).astype(
                {"qid": "int64", "nid": "int64", "d2": "float64"}
            )
        # corpus block pre-sorted by nid so positional order IS nid order
        # — the (d2, nid)-lexicographic tie-break of the merge window and
        # the DuckDB oracle falls out of the positional sorts in
        # ``_topk_indices``.
        corder = np.argsort(cpdf["id"].to_numpy(), kind="stable")
        cids = cpdf["id"].to_numpy()[corder]
        C = np.stack(cpdf["v"].to_numpy())[corder]
        Q = np.stack(qpdf["v"].to_numpy())
        cn = (C * C).sum(axis=1)
        qn = (Q * Q).sum(axis=1)
        d2 = np.maximum(qn[:, None] + cn[None, :] - 2.0 * (Q @ C.T), 0.0)
        # Truncate on ROUNDED distances — the exact quantity the merge
        # window and the DuckDB oracle rank on — so two unequal distances
        # in the same 1e-6 cell straddling the per-block k boundary can
        # never drop the candidate the oracle keeps.
        d2 = np.round(d2, 6)
        kk = min(k, C.shape[0])
        part = _topk_indices(d2, kk)
        return pd.DataFrame(
            {
                "qid": np.repeat(qpdf["id"].to_numpy(), kk),
                "nid": cids[part.ravel()],
                "d2": np.take_along_axis(d2, part, axis=1).ravel(),
            }
        )

    return local_topk


def knn_search(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = KNN_TOPK,
    n_pivots: int = N_PIVOTS,
    spill: int = SPILL,
) -> DataFrame:
    """→ (qid, nid, rank, d2): exact k nearest corpus rows per query.
    corpus/queries: (id long, v array<double>)."""
    pivots = _pivots(corpus)
    local_topk = _local_topk_factory(k)

    cd = _pivot_dists(corpus, pivots)
    wmin = Window.partitionBy("id").orderBy(F.col("pd2").asc(), F.col("leaf").asc())
    c = (
        cd.withColumn("rnk", F.row_number().over(wmin))
        .where(F.col("rnk") == 1)
        .select("id", "v", "leaf", "pd2")
        .persist()
    )
    # per-leaf radius² — the metric-tree node radius used by the prune bound
    radii = c.groupBy("leaf").agg(F.max("pd2").alias("r2"))

    qd = _pivot_dists(queries, pivots).persist()
    wq = Window.partitionBy("id").orderBy(F.col("pd2").asc(), F.col("leaf").asc())
    qranked = qd.withColumn("rnk", F.row_number().over(wq)).persist()

    # ---- phase 1: probe the SPILL nearest leaves
    q1 = qranked.where(F.col("rnk") <= spill).select("id", "v", "leaf")
    hits1 = (
        c.select("id", "v", "leaf")
        .groupBy("leaf")
        .cogroup(q1.groupBy("leaf"))
        .applyInPandas(local_topk, _HIT_SCHEMA)
        .persist()
    )
    # per-query pruning bound: kth-best distance so far (∞ if < k found)
    wk = Window.partitionBy("qid").orderBy(F.col("d2").asc(), F.col("nid").asc())
    bound = (
        hits1.withColumn("rk", F.row_number().over(wk))
        .groupBy("qid")
        .agg(
            F.max(F.when(F.col("rk") <= k, F.col("d2"))).alias("dk"),
            F.sum(F.when(F.col("rk") <= k, 1).otherwise(0)).alias("nfound"),
        )
        .select(
            "qid",
            F.when(F.col("nfound") < k, F.lit(float("inf")))
            .otherwise(F.col("dk"))
            .alias("dk"),
        )
    )

    # ---- phase 2: remaining leaves that survive the triangle bound
    # lower bound for any point p in leaf L: d(q,p) ≥ d(q,pivot_L) − r_L.
    # dk is a ROUNDED kth distance (the kernel emits round(d2, 6)) while
    # lb2 is unrounded — the 1e-6 slack keeps any candidate whose rounded
    # distance could still enter the rounded top-k from being pruned.
    lb2 = F.pow(
        F.greatest(F.lit(0.0), F.sqrt(F.col("pd2")) - F.sqrt(F.col("r2"))), 2
    )
    q2 = (
        qranked.where(F.col("rnk") > spill)
        .join(F.broadcast(radii), "leaf")
        .join(bound.withColumnRenamed("qid", "id"), "id")
        .where(lb2 <= F.col("dk") + F.lit(1e-6))
        .select("id", "v", "leaf")
    )
    hits2 = (
        c.select("id", "v", "leaf")
        .groupBy("leaf")
        .cogroup(q2.groupBy("leaf"))
        .applyInPandas(local_topk, _HIT_SCHEMA)
    )

    # Final ranking on ROUNDED d2 (6 decimals) + nid — the same
    # cross-engine-deterministic tie order as the brute-force arm
    # (ml_exact._dist2) and its DuckDB twin, so the exact search is
    # value-hash verifiable. Every stage now ranks and truncates on the
    # same rounded quantity (the kernel rounds BEFORE its per-block
    # truncation; the prune bound carries 1e-6 slack), so ties —
    # exact-duplicate vectors or unequal distances sharing a 1e-6 cell —
    # are nid-broken identically everywhere. The re-round here is a
    # no-op kept as the contract's single visible statement.
    merged = (
        hits1.unionByName(hits2)
        .dropDuplicates(["qid", "nid"])
        .withColumn("d2", F.round("d2", 6))
    )
    w = Window.partitionBy("qid").orderBy(F.col("d2").asc(), F.col("nid").asc())
    return (
        merged.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "nid", "rank", "d2")
    )


def _corpus_queries(cat: Catalog):
    # Two independent scans (fresh attribute ids) — corpus and queries meet
    # again in the cogroup, which rejects ambiguous self-join lineage.
    def pts() -> DataFrame:
        return spread(cat.embeddings).select(
            F.col("vec_id").alias("id"), as_double_array("embedding").alias("v")
        )

    queries = pts().where(F.col("id") % KNN_QUERY_MOD == 0)
    corpus = pts().where(F.col("id") % KNN_QUERY_MOD != 0)
    return corpus, queries


def _knn_hits_derived(cat: Catalog) -> DataFrame:
    """knn_search over the fixture corpus/query split, shared per
    (session, sf_dir): the neighbor table and the classifier vote are two
    registry queries over one search (the reference searches once and
    evaluates both, ``KNNRunner.scala:181-218``)."""
    from spark_ml_algo_lib_master_tongji_spark.operators.graph import _derived

    def build() -> DataFrame:
        corpus, queries = _corpus_queries(cat)
        return knn_search(corpus, queries)

    return _derived(cat, "knn_hits", build)


def ml_knn_spilltree(cat: Catalog) -> DataFrame:
    """Registry entry: distributed exact KNN neighbors of the query split
    → (qid, nid, rank, d2). Driver value-hash verified against the DuckDB
    brute-force twin (the reference's own containment check,
    ``KNNRunner.scala:181-218``, strengthened to full set+distance
    equality — the two-phase search is exact, so the brute-force oracle
    IS its ground truth); pytest additionally pins containment = 1.0
    against the in-engine brute arm."""
    return _knn_hits_derived(cat)


def ml_knn_spilltree_classifier(cat: Catalog) -> DataFrame:
    """Weighted-vote classification on top of the distributed search
    (``KNNClassifier.scala:154-180``): majority label of the k hits,
    ties → smaller label. Driver value-hash verified: the search is
    exact, so the brute-force vote oracle (ml_knn_classifier's twin)
    is its ground truth too."""
    hits = _knn_hits_derived(cat)
    lab = cat.embeddings.select(
        F.col("vec_id").alias("nid"), F.col("label").alias("nlabel")
    )
    votes = hits.join(lab, "nid").groupBy("qid", "nlabel").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("qid").orderBy(F.col("c").desc(), F.col("nlabel").asc())
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("qid", F.col("nlabel").alias("predicted"))
    )


def ivf_search(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = KNN_TOPK,
    n_probes: int = 3,
) -> DataFrame:
    """IVF-style approximate top-k → (qid, nid, rank, d2): probe only the
    ``n_probes`` nearest inverted lists (pivot leaves), skip the exactness
    bound of ``knn_search``. The recall/fan-out dial of a billion-vector
    deployment: candidate volume is n_probes/n_pivots of the corpus
    regardless of data distribution, and pytest measures the recall it buys
    on the fixture (adversarially uniform embeddings — the worst case)."""
    pivots = _pivots(corpus)
    local_topk = _local_topk_factory(k)
    c = _assign_leaf_nearest(corpus, pivots)
    qd = _pivot_dists(queries, pivots)
    wq = Window.partitionBy("id").orderBy(F.col("pd2").asc(), F.col("leaf").asc())
    q = (
        qd.withColumn("rnk", F.row_number().over(wq))
        .where(F.col("rnk") <= n_probes)
        .select("id", "v", "leaf")
    )
    hits = (
        c.select("id", "v", "leaf")
        .groupBy("leaf")
        .cogroup(q.groupBy("leaf"))
        .applyInPandas(local_topk, _HIT_SCHEMA)
    )
    w = Window.partitionBy("qid").orderBy(F.col("d2").asc(), F.col("nid").asc())
    return (
        hits.dropDuplicates(["qid", "nid"])
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "nid", "rank", F.round("d2", 6).alias("d2"))
    )


def _assign_leaf_nearest(df: DataFrame, pivots) -> DataFrame:
    cd = _pivot_dists(df, pivots)
    w = Window.partitionBy("id").orderBy(F.col("pd2").asc(), F.col("leaf").asc())
    return (
        cd.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") == 1)
        .select("id", "v", "leaf")
    )


def _ivf_hits_derived(cat: Catalog) -> DataFrame:
    """``ivf_search`` over the fixture corpus/query split, shared per
    (session, sf_dir): the approximate-neighbor table and the recall
    anchor are two registry queries over ONE search — without the cache
    each paid its own pivot collect + cogroup stage (round-10 verdict)."""
    from spark_ml_algo_lib_master_tongji_spark.operators.graph import _derived

    def build() -> DataFrame:
        corpus, queries = _corpus_queries(cat)
        return ivf_search(corpus, queries)

    return _derived(cat, "ivf_hits", build)


def sim_ivf_topk(cat: Catalog) -> DataFrame:
    """Registry entry: IVF approximate neighbors of the query split
    (rows-only driver check — the hit set is approximate by design; its
    quality rides in ``sim_ivf_recall``'s driver-verified anchor bit and
    pytest's recall measurement)."""
    return _ivf_hits_derived(cat)


def sim_ivf_recall(cat: Catalog) -> DataFrame:
    """Driver-verifiable anchor for the approximate ANN path (round-9
    verdict item 2b): recall@k of ``ivf_search`` against the session-shared
    EXACT search → one row (n_queries, recall_ok). n_queries is exactly
    SQL-recomputable (every query has ≥ k corpus neighbors, so the exact
    arm emits k rows per query); the measured recall rides in the boolean
    (≥ IVF_RECALL_FLOOR — the twin asserts TRUE, so a probe-routing or
    leaf-assignment regression flips the value hash). The reference judges
    its approximate searches the same way (``KNNRunner.scala:181-218``
    containment; ``BetweennessRunner.scala:92-99`` top-k overlap)."""
    nq, recall = _ivf_recall(cat)
    return cat.spark.createDataFrame(
        [(nq, bool(recall >= IVF_RECALL_FLOOR))],
        "n_queries long, recall_ok boolean",
    )


def _ivf_recall(cat: Catalog) -> tuple[int, float]:
    """(n_queries, recall@k) of ``ivf_search`` vs the session-shared exact
    hits — the single measurement behind the ``sim_ivf_recall`` anchor
    AND the ``tools/anchor_bands.py`` audit (one implementation, so the
    audited quantity can never drift from the shipped assertion)."""
    exact = _knn_hits_derived(cat).select("qid", "nid")
    approx = _ivf_hits_derived(cat).select("qid", "nid", F.lit(1).alias("_hit"))
    row = (
        exact.join(approx, ["qid", "nid"], "left")
        .agg(
            F.count_distinct("qid").alias("nq"),
            F.avg(F.coalesce(F.col("_hit"), F.lit(0)).cast("double")).alias(
                "recall"
            ),
        )
        .first()
    )
    return int(row["nq"]), float(row["recall"])


# ---- persisted IVF index: build once, search every increment ---------------
#
# The ANN counterpart of dedup's versioned fingerprint store: a
# billion-vector deployment builds the inverted lists ONCE (one corpus
# scan + one partitioned write) and answers every later query batch
# against the parquet store — never re-embedding, never re-assigning the
# base corpus. Layout: pivots/ (n_pivots rows — the coarse quantizer) and
# lists/ partitioned BY LEAF, so a search probing n_probes of n_pivots
# lists reads only that fraction of the store via static partition
# pruning (tests/test_plan_shapes.py pins PartitionFilters in the scan).


def _ivf_store_key(cat: Catalog) -> str:
    """Cache key of the persisted IVF store: every constant baked into
    the pivots/lists (geometry, seed, query split) plus the fixture's
    byte identity (mtime_ns + size — an in-place rewrite that keeps the
    coarse mtime still misses). A constant bump or fixture change mints
    a key mismatch and forces a rebuild instead of silently reusing a
    store routed by the OLD quantizer (the dedup store learned this in
    round 9 — ``_store_cache_seed``)."""
    from pathlib import Path

    st = (Path(cat.sf_dir) / "embeddings.parquet").stat()
    return (
        f"v1 pivots={N_PIVOTS} seed={SEED} sample={SAMPLE_N} "
        f"mod={KNN_QUERY_MOD} src={st.st_mtime_ns}:{st.st_size}"
    )


def _ivf_store_complete(path: str, key: str) -> bool:
    """A store is adoptable only if fully written AND built under the
    CURRENT key — a complete-but-stale store must be replaced."""
    from pathlib import Path

    p = Path(path)
    try:
        return (p / "_SUCCESS").exists() and (
            p / "_KEY"
        ).read_text() == key
    except OSError:
        return False


def _ivf_store_dir(cat: Catalog) -> str:
    """Stage the IVF index store once per (SF fixture, index constants)
    under the shared cache root (fixtures are read-only). Built in a
    session-private tmp dir, then installed through the dedup store's
    mkdir-locked publish (``dedup._publish_store``) so a competitor's
    just-published store is adopted, never clobbered mid-read, and a
    half-written leftover is replaced — the same locked
    check → rmtree → rename sequence, same pytest-covered code path."""
    import shutil
    from pathlib import Path

    from spark_ml_algo_lib_master_tongji_spark.operators.dedup import (
        _publish_store,
    )

    key = _ivf_store_key(cat)
    dst = (
        Path(__file__).resolve().parents[2]
        / ".stream_cache"
        / Path(cat.sf_dir).name
        / "ivf_index"
    )
    if _ivf_store_complete(str(dst), key):
        return str(dst)
    from spark_ml_algo_lib_master_tongji_spark import benchlib

    tmp = Path(f"{dst}.build-{cat.spark.sparkContext.applicationId}")
    shutil.rmtree(tmp, ignore_errors=True)
    dst.parent.mkdir(parents=True, exist_ok=True)
    # the one-time index build IS the reference's loadDataTime analogue —
    # attribute it to the bench load split, not to whichever query
    # first touches the store
    with benchlib.load_timer("ivf_store"):
        corpus, _ = _corpus_queries(cat)
        piv = _pivots(corpus)
        cat.spark.createDataFrame(
            [(i, [float(x) for x in p]) for i, p in enumerate(piv)],
            "leaf int, pv array<double>",
        ).coalesce(1).write.parquet(str(tmp / "pivots"))
        _assign_leaf_nearest(corpus, piv).write.partitionBy("leaf").parquet(
            str(tmp / "lists")
        )
        (tmp / "_KEY").write_text(key)
        (tmp / "_SUCCESS").touch()
    _publish_store(
        str(tmp), str(dst), complete=lambda p: _ivf_store_complete(p, key)
    )
    return str(dst)


def ivf_search_index(
    spark,
    store: str,
    queries: DataFrame,
    k: int = KNN_TOPK,
    n_probes: int = 3,
    caches: list[DataFrame] | None = None,
) -> DataFrame:
    """``ivf_search`` against a persisted store instead of a live corpus:
    route queries with the stored coarse quantizer, then cogroup ONLY the
    probed inverted lists. Driver-side collects are bounded by the index
    geometry, never the data (n_pivots pivot rows; ≤ n_pivots distinct
    probed leaves — collected so the probe set reaches the scan as a
    STATIC ``IN`` filter, turning n_probes/n_pivots into real partition
    pruning instead of a post-scan filter).

    ``caches``: the routed-query frame is persisted so the probed-leaf
    collect materializes it once and the cogroup reuses it — but this
    function returns before the cogroup runs, so it cannot unpersist its
    own cache. Callers that want the reuse pass a list; the persisted
    frame is appended and the CALLER unpersists after materializing the
    result (round-11 ADVICE item 2 — the old unconditional persist leaked
    a cached block per call for the session lifetime). With
    ``caches=None`` nothing is persisted: the routing pass runs twice,
    correct but slower — the safe default for external callers."""
    from pyspark import StorageLevel

    pv = spark.read.parquet(f"{store}/pivots").orderBy("leaf").collect()
    pivots = np.stack([np.asarray(r["pv"]) for r in pv])
    local_topk = _local_topk_factory(k)
    qd = _pivot_dists(queries, pivots)
    wq = Window.partitionBy("id").orderBy(F.col("pd2").asc(), F.col("leaf").asc())
    q = (
        qd.withColumn("rnk", F.row_number().over(wq))
        .where(F.col("rnk") <= n_probes)
        .select("id", "v", "leaf")
    )
    if caches is not None:
        q = q.persist(StorageLevel.MEMORY_AND_DISK)
        caches.append(q)
    probed = sorted(r["leaf"] for r in q.select("leaf").distinct().collect())
    lists = (
        spark.read.parquet(f"{store}/lists")
        .where(F.col("leaf").isin(probed))
        .select("id", "v", F.col("leaf").cast("int").alias("leaf"))
    )
    hits = (
        lists.groupBy("leaf")
        .cogroup(q.groupBy("leaf"))
        .applyInPandas(local_topk, _HIT_SCHEMA)
    )
    w = Window.partitionBy("qid").orderBy(F.col("d2").asc(), F.col("nid").asc())
    return (
        hits.dropDuplicates(["qid", "nid"])
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "nid", "rank", F.round("d2", 6).alias("d2"))
    )


def sim_ivf_delta_search(cat: Catalog) -> DataFrame:
    """Registry entry: the query split searched against the PERSISTED
    IVF store → one row (n_queries, store_ok). store_ok asserts exact
    result equality — (qid, nid, rank, d2) sets — between the store
    search and the session-fresh ``ivf_search`` over the same corpus:
    the pivot selection is seeded, leaf assignment ties break
    deterministically, and doubles round-trip parquet bit-exactly, so
    any inequality means the store path (partitioned write, pruned read,
    quantizer reload) corrupted something. n_queries is exactly
    SQL-recomputable (the fixture's vec_id % mod query-split size); the
    twin asserts TRUE, so a store regression flips the value hash — the
    same store-roundtrip-verification shape as ``pipeline_jsonl_roundtrip``
    and the reference's raw-vs-opt A/B gate (``Utils.scala:176-253``)."""
    from pyspark import StorageLevel

    _, queries = _corpus_queries(cat)
    # one materialized query split serves the routing inside
    # ivf_search_index AND the n_queries count — not two embeddings scans
    queries = queries.persist(StorageLevel.MEMORY_AND_DISK)
    caches: list[DataFrame] = []
    stored = ivf_search_index(
        cat.spark, _ivf_store_dir(cat), queries, caches=caches
    )
    fresh = _ivf_hits_derived(cat)
    bad = (
        fresh.withColumn("_f", F.lit(1))
        .join(
            stored.withColumn("_s", F.lit(1)),
            ["qid", "nid", "rank", "d2"],
            "full",
        )
        .where(F.col("_f").isNull() | F.col("_s").isNull())
        .count()
    )
    nq = queries.count()
    queries.unpersist(blocking=False)  # both actions done — scalars below
    for c in caches:  # the routed-query cache inside ivf_search_index
        c.unpersist(blocking=False)
    return cat.spark.createDataFrame(
        [(nq, bool(bad == 0))], "n_queries long, store_ok boolean"
    )


#: registry-exported query names (order derived in registry.build_registry)
QUERIES = (
    "ml_knn_spilltree",
    "ml_knn_spilltree_classifier",
    "sim_ivf_topk",
    "sim_ivf_recall",
    "sim_ivf_delta_search",
)
