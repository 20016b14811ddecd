"""Blocked all-pairs kernel (operators/pairs.py): block-grid sizing and
pair totality under sparse/structured id spaces (round-2 ADVICE: pmod of
raw ids crashed on empty blocks; a fixed 64-block cap let task memory grow
linearly past ~32k points), and parity of the one-block driver arm with
the worker arm. Plus the grid-cell candidate arm (round-6): result parity
with the exact blocked join, and the occupancy gate that dispatches
between them."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def cat(spark):
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog

    return Catalog(spark, SF_SMOKE)


def test_block_count_derives_from_n():
    """⌈n/block_rows⌉ with no ceiling — per-task memory stays bounded by
    block_rows at any corpus size."""
    from spark_ml_algo_lib_master_tongji_spark.operators.pairs import (
        BLOCK_ROWS,
        _n_blocks,
    )

    assert _n_blocks(10, 512) == 1
    assert _n_blocks(512, 512) == 1
    assert _n_blocks(513, 512) == 2
    # far past the old 64-block cap: blocks keep scaling with n
    assert _n_blocks(1_000_000, BLOCK_ROWS) == -(-1_000_000 // BLOCK_ROWS)
    assert _n_blocks(1_000_000, BLOCK_ROWS) > 64


def _has_worker_groups(df) -> bool:
    """Does ``df``'s physical plan run a grouped pandas kernel?"""
    return "FlatMapGroupsInPandas" in df._jdf.queryExecution().toString()


def _all_pairs_kernel():
    """Kernel emitting every unordered pair as canonical (a, b) with
    a < b — predicate-free, so a lost or duplicated pair shows. A closure,
    so workers unpickle it by value (this test module is not importable
    there)."""

    def kernel(ids_a, mat_a, ids_b, mat_b, same):
        if same:
            ia, ib = np.triu_indices(len(ids_a), k=1)
            a, b = ids_a[ia], ids_a[ib]
        else:
            a = np.repeat(ids_a, len(ids_b))
            b = np.tile(ids_b, len(ids_a))
        return pd.DataFrame({"a": np.minimum(a, b), "b": np.maximum(a, b)})

    return kernel


def test_blocked_apply_total_pairs_on_sparse_ids(spark):
    """Every unordered pair must be emitted exactly once even when ids are
    sparse/structured (multiples of a constant — the shape that broke the
    raw-id pmod blocking) and the block grid is much finer than the point
    count, so some hash blocks are empty and the kernel runner must yield
    empty frames for their groups instead of crashing np.stack."""
    from spark_ml_algo_lib_master_tongji_spark.operators.pairs import blocked_apply

    ids = [97 * i + 5 for i in range(10)]
    pts = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3)]) for i in ids],
        "vec_id long, v array<double>",
    ).cache()

    # block_rows=1 → one hash block target per point: with 10 ids hashed
    # into 10 blocks, collisions leave some blocks empty (deterministic
    # for fixed ids — xxhash64 is seeded), exercising the empty guard.
    got = sorted(
        (r["a"], r["b"])
        for r in blocked_apply(
            pts, _all_pairs_kernel(), "a long, b long", block_rows=1
        ).collect()
    )
    want = sorted(
        (min(x, y), max(x, y)) for i, x in enumerate(ids) for y in ids[i + 1 :]
    )
    assert got == want


@pytest.mark.parametrize("kernel", ["dedup_cosine", "dbscan_eps"])
def test_blocked_apply_driver_arm_matches_worker_arm(cat, kernel):
    """Below the one-block gate the kernel runs on the driver; forcing the
    worker arm (block_rows < n) on the same points must yield exactly the
    same pairs and schema — the fixture embeddings under both registry
    kernels that route through ``blocked_apply``."""
    from spark_ml_algo_lib_master_tongji_spark.operators import dedup, density
    from spark_ml_algo_lib_master_tongji_spark.operators.graph import _cached
    from spark_ml_algo_lib_master_tongji_spark.operators.pairs import (
        BLOCK_ROWS,
        blocked_apply,
    )

    kern, schema = {
        "dedup_cosine": (dedup._cosine_kernel, "vec_a long, vec_b long"),
        "dbscan_eps": (density._eps_kernel, "i long, j long"),
    }[kernel]
    pts = _cached(density._points(cat))
    assert pts.count() <= BLOCK_ROWS  # the fixture fits one block

    drv = blocked_apply(pts, kern, schema)
    wrk = blocked_apply(pts, kern, schema, block_rows=128)  # 4 blocks
    assert not _has_worker_groups(drv)
    assert _has_worker_groups(wrk)
    assert drv.schema == wrk.schema
    got = sorted(map(tuple, drv.collect()))
    assert got == sorted(map(tuple, wrk.collect()))
    assert len(got) > 0
    pts.unpersist(blocking=False)


def test_blocked_apply_gate_boundary_empty_and_single(spark):
    """n == block_rows takes the driver arm and n == block_rows + 1 the
    worker arm, both emitting every pair once; empty input and a single
    point take the driver arm and return an empty frame with the worker
    arm's schema."""
    from spark_ml_algo_lib_master_tongji_spark.operators.pairs import blocked_apply

    ids = [97 * i + 5 for i in range(9)]
    pts = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3)]) for i in ids],
        "vec_id long, v array<double>",
    ).cache()
    want = sorted(
        (min(x, y), max(x, y)) for i, x in enumerate(ids) for y in ids[i + 1 :]
    )
    kern = _all_pairs_kernel()
    at = blocked_apply(pts, kern, "a long, b long", block_rows=9)
    past = blocked_apply(pts, kern, "a long, b long", block_rows=8)
    assert not _has_worker_groups(at)
    assert _has_worker_groups(past)
    assert sorted(map(tuple, at.collect())) == want
    assert sorted(map(tuple, past.collect())) == want

    for rows in ([], [(5, [1.0, 2.0])]):
        few = spark.createDataFrame(rows, "vec_id long, v array<double>").cache()
        out = blocked_apply(few, kern, "a long, b long")
        assert not _has_worker_groups(out)
        assert out.schema == past.schema
        assert out.collect() == []
        few.unpersist(blocking=False)
    pts.unpersist(blocking=False)


def _blob_points(spark, n_blobs=6, per_blob=30, spread=0.3):
    """Deterministic 2-d blob fixture: clusterable — the regime the grid
    arm exists for. Blob centers 5 apart ≫ cell side, points jittered by a
    seeded hash-like recurrence (no RNG → stable across runs)."""
    rows = []
    for b in range(n_blobs):
        cx, cy = 5.0 * (b % 3), 5.0 * (b // 3)
        for i in range(per_blob):
            # deterministic jitter in (−spread, spread)
            jx = (((b * 131 + i * 17) % 97) / 97.0 - 0.5) * 2 * spread
            jy = (((b * 37 + i * 53) % 89) / 89.0 - 0.5) * 2 * spread
            rows.append((b * per_blob + i, [cx + jx, cy + jy]))
    return spark.createDataFrame(rows, "vec_id long, v array<double>").cache()


def _eps_kernel_factory(eps2):
    from spark_ml_algo_lib_master_tongji_spark.operators.pairs import (
        round_half_up_np,
        seq_dot,
        seq_self_dot,
    )

    def kernel(ids_a, mat_a, ids_b, mat_b, same):
        na, nb = seq_self_dot(mat_a), seq_self_dot(mat_b)
        d2 = (na[:, None] + nb[None, :]) - 2 * seq_dot(mat_a, mat_b)
        keep = round_half_up_np(d2, 6) <= eps2
        if same:
            keep &= ids_a[:, None] < ids_b[None, :]
        ai, bj = np.nonzero(keep)
        lo, hi = ids_a[ai], ids_b[bj]
        return pd.DataFrame({"i": np.minimum(lo, hi), "j": np.maximum(lo, hi)})

    return kernel


def test_grid_apply_matches_blocked_apply_on_blobs(spark):
    """The grid candidate arm must emit the byte-identical ε-pair set the
    exact blocked join emits — candidate generation can only PRUNE pairs
    the predicate would reject anyway (per-axis |Δ| ≤ cell side)."""
    import math

    from spark_ml_algo_lib_master_tongji_spark.operators.pairs import (
        blocked_apply,
        grid_apply,
    )

    eps2 = 0.4
    side = math.sqrt(eps2 + 1e-6)
    pts = _blob_points(spark)
    kern = _eps_kernel_factory(eps2)
    g = sorted(
        map(tuple, grid_apply(pts, kern, "i long, j long", side).collect())
    )
    b = sorted(
        map(tuple, blocked_apply(pts, kern, "i long, j long").collect())
    )
    assert g == b
    assert len(g) > 0  # blobs must actually produce ε-pairs


def test_grid_gain_gate_routes_by_occupancy(spark, cat):
    """Blobs (many occupied cells) must measure a small candidate ratio;
    the 64-d isotropic fixture embeddings (≤4 occupied cells at ε) must
    measure ~1 — so `_eps_arm` keeps the blocked join exactly where the
    grid would degenerate (density.py docstring's measured claim, now a
    coded dispatch)."""
    import math

    from spark_ml_algo_lib_master_tongji_spark.operators import density
    from spark_ml_algo_lib_master_tongji_spark.operators.graph import _cached
    from spark_ml_algo_lib_master_tongji_spark.operators.pairs import (
        GRID_GAIN_MAX,
        grid_gain,
    )

    pts = _blob_points(spark)
    gain_blobs = grid_gain(pts, math.sqrt(0.4 + 1e-6))
    assert gain_blobs <= GRID_GAIN_MAX, gain_blobs

    emb = _cached(density._points(cat))
    emb.count()
    assert density._eps_dispatch(emb)[0] == "blocked"
    grid_pts = density._grid_points(cat)
    arm, axes = density._eps_dispatch(grid_pts)
    assert arm == "grid"
    assert axes == [0, 1]  # 2-d projection: both axes selected
    # cached dispatch returns the same decision and runs the histogram
    # only once per (session, table)
    assert density._eps_arm(cat, "grid_points", grid_pts) == (arm, axes)
    assert density._eps_arm(cat, "grid_points", grid_pts) == (arm, axes)
    emb.unpersist(blocking=False)


def test_grid_axes_finds_offaxis_spread(spark):
    """A corpus whose variance lives on axes 7 and 23 of a 32-d vector
    must still get a working grid: axis selection ranks by measured
    occupied-cell count, so the gate no longer falls back to the Θ(n²)
    blocked join just because axes 0..1 are degenerate (round-6 verdict
    nit 1). The grid arm on the selected axes must emit the byte-identical
    pair set the blocked join emits."""
    import math

    from spark_ml_algo_lib_master_tongji_spark.operators.pairs import (
        GRID_GAIN_MAX,
        blocked_apply,
        grid_apply,
        grid_axes,
        grid_gain,
    )

    eps2 = 0.4
    side = math.sqrt(eps2 + 1e-6)
    base = _blob_points(spark)
    rows = [
        (
            r["vec_id"],
            [0.0] * 7 + [r["v"][0]] + [0.0] * 15 + [r["v"][1]] + [0.0] * 8,
        )
        for r in base.collect()
    ]
    pts = spark.createDataFrame(rows, "vec_id long, v array<double>").cache()
    pts.count()

    axes = grid_axes(pts, side)
    assert axes == [7, 23], axes
    # the old fixed choice measures a degenerate grid; the selected axes
    # measure a paying one
    assert grid_gain(pts, side, [0, 1]) > GRID_GAIN_MAX
    assert grid_gain(pts, side, axes) <= GRID_GAIN_MAX

    kern = _eps_kernel_factory(eps2)
    g = sorted(
        map(tuple, grid_apply(pts, kern, "i long, j long", side, axes).collect())
    )
    b = sorted(map(tuple, blocked_apply(pts, kern, "i long, j long").collect()))
    assert g == b
    assert len(g) > 0
    pts.unpersist(blocking=False)


def test_grid_cell_key_rejects_null_coordinate(spark):
    """concat_ws silently drops NULL segments, which would collapse all
    neighbor keys of a NULL coordinate and silently lose pairs — the cell
    key must raise instead (round-6 ADVICE)."""
    import math

    import pytest as _pytest

    from spark_ml_algo_lib_master_tongji_spark.operators.pairs import grid_apply

    pts = spark.createDataFrame(
        [(0, [0.1, 0.2]), (1, [None, 0.3])],
        "vec_id long, v array<double>",
    )
    kern = _eps_kernel_factory(0.4)
    with _pytest.raises(Exception, match="NULL coordinate"):
        grid_apply(
            pts, kern, "i long, j long", math.sqrt(0.4 + 1e-6), [0, 1]
        ).collect()


def test_grouped_blocked_apply_rejects_null_group(spark):
    """A NULL group value would be dropped silently by the inner size-join
    (its pairs vanish) — the runner must raise instead (round-6 ADVICE)."""
    import pytest as _pytest

    from spark_ml_algo_lib_master_tongji_spark.operators.pairs import (
        grouped_blocked_apply,
    )

    pts = spark.createDataFrame(
        [(0, [0.1], "a"), (1, [0.2], None)],
        "vec_id long, v array<double>, grp string",
    )
    kern = _eps_kernel_factory(10.0)
    with _pytest.raises(Exception, match="NULL grp"):
        grouped_blocked_apply(
            pts, "grp", kern, "i long, j long"
        ).collect()


def test_dbscan_grid_neighbors_arms_agree(cat):
    """The registry query's result must be arm-invariant: forcing the
    blocked join over the same spread projection yields identical
    neighbor counts (the driver's oracle row covers the dispatched grid
    arm; this pins the other arm to the same answer)."""
    from pyspark.sql import functions as F

    from spark_ml_algo_lib_master_tongji_spark.operators import density

    pts = density._grid_points(cat)
    got = {}
    for arm in ("grid", "blocked"):
        pr = density._eps_pairs(pts, arm=arm)
        nbr = pr.select(F.col("i").alias("p"), F.col("j").alias("q")).unionByName(
            pr.select(F.col("j").alias("p"), F.col("i").alias("q"))
        )
        got[arm] = sorted(
            map(tuple, nbr.groupBy("p").agg(F.count(F.lit(1)).alias("c")).collect())
        )
    assert got["grid"] == got["blocked"]
    assert len(got["grid"]) > 0


def test_grouped_blocked_apply_matches_per_group_bruteforce(spark):
    """Per-group pair totality and scoping: every within-group pair under
    the predicate appears exactly once, no cross-group pair ever — with
    one group big enough (> BLOCK_ROWS) to split into multiple block-pair
    tasks."""
    import math

    from spark_ml_algo_lib_master_tongji_spark.operators.pairs import (
        BLOCK_ROWS,
        grouped_blocked_apply,
    )

    eps2 = 2.0
    sizes = {0: 5, 1: BLOCK_ROWS + 88, 2: 30}  # group 1 spans 2 blocks
    rows, nid = [], 0
    for g, sz in sizes.items():
        for i in range(sz):
            # deterministic 2-d spiral per group, ids interleaved across
            # groups so block hashing sees a structured id space
            rows.append(
                (
                    nid,
                    g,
                    [g * 100.0 + (i % 19) * 0.35, ((i * 7) % 23) * 0.3],
                )
            )
            nid += 1
    pts = spark.createDataFrame(
        rows, "vec_id long, grp int, v array<double>"
    ).cache()
    kern = _eps_kernel_factory(eps2)
    got = sorted(
        map(
            tuple,
            grouped_blocked_apply(
                pts, "grp", kern, "i long, j long"
            ).collect(),
        )
    )
    by_group = {}
    for vid, g, v in rows:
        by_group.setdefault(g, []).append((vid, v))
    want = []
    for g, members in by_group.items():
        for a in range(len(members)):
            for b in range(a + 1, len(members)):
                ia, va = members[a]
                ib, vb = members[b]
                d2 = sum((x - y) ** 2 for x, y in zip(va, vb))
                # same half-up rounding as the kernel
                if math.floor(d2 * 1e6 + 0.5) / 1e6 <= eps2:
                    want.append((min(ia, ib), max(ia, ib)))
    assert got == sorted(want)
    assert len(got) > 0
    pts.unpersist(blocking=False)


def test_grouped_blocked_apply_colon_bearing_string_groups(spark):
    """Adversarial string group values ('a', 'a:0', 'a:0:1' — each a
    prefix of the next through ':') must never share a task: the task key
    is (raw group, block, block), so every within-group pair appears
    exactly once and no cross-group pair exists even where composite
    string keys could have been ambiguous (round-7 verdict nit)."""
    import math

    from spark_ml_algo_lib_master_tongji_spark.operators.pairs import (
        grouped_blocked_apply,
    )

    eps2 = 1.0e6  # accept every within-group pair — totality is the point
    groups = ["a", "a:0", "a:0:1", ":", "::"]
    rows, nid = [], 0
    for gi, g in enumerate(groups):
        for i in range(7):
            rows.append((nid, g, [float(gi), float(i)]))
            nid += 1
    pts = spark.createDataFrame(
        rows, "vec_id long, grp string, v array<double>"
    ).cache()
    kern = _eps_kernel_factory(eps2)
    got = sorted(
        map(
            tuple,
            grouped_blocked_apply(
                pts, "grp", kern, "i long, j long", block_rows=3
            ).collect(),  # 7 rows / 3 per block → 3 blocks per group
        )
    )
    by_group: dict[str, list[int]] = {}
    for vid, g, _ in rows:
        by_group.setdefault(g, []).append(vid)
    want = sorted(
        (a, b)
        for members in by_group.values()
        for ai, a in enumerate(members)
        for b in members[ai + 1 :]
    )
    assert got == want
    pts.unpersist(blocking=False)


def test_semantic_dedup_giant_arm_matches_grouped_map(cat):
    """Forcing the giant-cluster gate down to 1 re-dispatches EVERY
    cluster through the blocked triangular kernel — the keeper mapping
    must be identical to the default grouped-map arm (the driver's oracle
    row covers the default dispatch; this pins the skew arm)."""
    from spark_ml_algo_lib_master_tongji_spark.operators.dedup import (
        pipeline_semantic_dedup,
    )

    default = sorted(
        map(tuple, pipeline_semantic_dedup(cat).collect())
    )
    forced = sorted(
        map(tuple, pipeline_semantic_dedup(cat, giant_rows=1).collect())
    )
    assert default == forced
    assert len(default) > 0
