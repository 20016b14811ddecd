"""Measurement-protocol invariants (benchlib): the honest materialization
contract and the nesting-aware load accounting that ``timed_run`` and its
callers depend on."""

from __future__ import annotations

from pyspark.storagelevel import StorageLevel

from spark_ml_algo_lib_master_tongji_spark import benchlib


def test_materialize_unpersists_fresh_frame_even_on_failure(spark):
    df = spark.range(10)
    assert benchlib.materialize(df) == 10
    assert df.storageLevel == StorageLevel.NONE  # fresh → unpersisted after

    # a frame whose count raises must not stay pinned (round-4 ADVICE)
    from pyspark.sql import functions as F

    bad = spark.range(5).select((F.lit(1) / F.col("id")).alias("x")).where(
        F.raise_error(F.lit("boom")).isNull()
    )
    try:
        benchlib.materialize(bad)
        raised = False
    except Exception:
        raised = True
    assert raised
    assert bad.storageLevel == StorageLevel.NONE


def test_materialize_keeps_caller_cache(spark):
    df = spark.range(7).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        assert benchlib.materialize(df) == 7
        # session-shared derivations returned by a query keep their cache
        assert df.storageLevel != StorageLevel.NONE
    finally:
        df.unpersist(blocking=False)


def test_materialize_collect_first(spark):
    n, row = benchlib.materialize(spark.range(3), collect_first=True)
    assert n == 3 and row is not None
    n, row = benchlib.materialize(
        spark.range(1).where("id < 0"), collect_first=True
    )
    assert n == 0 and row is None


def test_timed_run_splits_load_from_wall(spark):
    """The timing core reads load before the clock starts, so a derivation
    built inside the query is charged to ``load`` and stays inside
    ``wall``; ``first`` is only fetched when asked for."""
    import time

    def query():
        with benchlib.load_timer("timed_run_test"):
            time.sleep(0.2)
        return spark.range(4)

    wall, load, rows, first = benchlib.timed_run(query)
    assert (rows, first) == (4, None)
    assert 0.2 <= load <= wall
    wall, load, rows, first = benchlib.timed_run(
        lambda: spark.range(3), collect_first=True
    )
    assert rows == 3 and first is not None and load < 0.05


def test_load_timer_records_outermost_build_only():
    """A nested build folds into the outer one: the outer region's time is
    added to ``load_seconds`` once, not once per nesting level."""
    import time

    before = benchlib.load_seconds()
    t0 = time.perf_counter()
    with benchlib.load_timer("outer_test"):
        with benchlib.load_timer("inner_test"):
            time.sleep(0.2)
    wall = time.perf_counter() - t0
    recorded = benchlib.load_seconds() - before
    assert 0.2 <= recorded <= wall


def test_load_timer_merges_concurrent_builds_to_wall_clock():
    """Round-14 verdict item 6: thread-pooled derivation builds must report
    wall-clock load (overlapping regions merged), never thread-second sums —
    the sum drove bench's costTime = wall − load negative for pooled rows
    (57.6 thread-seconds of "load" inside a 13.8s query wall)."""
    import time
    from concurrent.futures import ThreadPoolExecutor

    before = benchlib.load_seconds()

    def build(i: int) -> None:
        with benchlib.load_timer(f"pooled_test_{i}"):
            time.sleep(0.2)

    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=4) as ex:
        list(ex.map(build, range(4)))
    wall = time.perf_counter() - t0
    recorded = benchlib.load_seconds() - before

    # ~4 × 0.2s of thread-seconds ran, but the wall-clock aggregate may
    # never exceed the real elapsed time, which is what makes
    # costTime = wall − load non-negative.
    assert recorded <= wall + 0.05
    assert recorded >= 0.15  # the merged region is still real time
