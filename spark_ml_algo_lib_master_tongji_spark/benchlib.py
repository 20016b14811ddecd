"""Shared measurement protocol for bench.py and the timing tools.

Two concerns live here because every timing entry point needs both;
``timed_run`` joins them into the one timing core those entry points call:

1. **Honest materialization** (``materialize``): persist-then-count forces
   full computation of every output column. A bare ``count()`` lets Catalyst
   eliminate aggregated-unique outer joins (and everything beneath them) —
   e.g. the triangle relation and the dedup canonical-label joins timed as
   ~0.8s while their real computation was 3-18s. The reference's costTime
   includes saving the full output (``PageRankRunner.scala:115``
   ``saveAsTextFile``), so materializing all columns is the faithful
   protocol. Unpersist runs in a ``finally`` so a failing count can never
   leave the failed query's partitions pinned in MEMORY_AND_DISK skewing
   every subsequent measurement (round-4 ADVICE).

2. **loadDataTime / costTime attribution** (``record_load`` /
   ``load_seconds``): the reference times data loading separately from the
   operator (``KMeansRunner.scala:132-133,156``). This engine's analogue of
   "load" is the session-shared derivation build (graph edge lists, feature
   assembly, fitted models): whichever query touches a derivation first pays
   its full materialization, which made per-query numbers run-order-dependent
   (PLANS.md gbt post-mortem: 13.3s cold vs 0.7s shared). The ``_derived*``
   caches report each build here; bench diffs the total around each query to
   split wall time into {load, cost}.
"""

from __future__ import annotations

import contextlib
import threading
import time
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


def materialize(df: DataFrame, collect_first: bool = False):
    """Fully materialize ``df`` (all columns) and return its row count —
    or ``(count, first_row_or_None)`` when ``collect_first`` is set (the
    first row is read from the still-persisted frame, so grabbing an
    evaluation scalar costs one cached-partition read, not a recompute).

    Only a fresh (uncached) frame is persisted/unpersisted, so
    session-shared derivations returned directly by a query keep their
    cache for later queries.
    """
    fresh = df.storageLevel == StorageLevel.NONE
    if fresh:
        df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        n = df.count()
        if collect_first:
            return n, (df.first() if n else None)
        return n
    finally:
        if fresh:
            df.unpersist(blocking=False)


#: nesting depth is PER-THREAD (a build on thread A must not suppress a
#: concurrent build on thread B), and the shared region state is written
#: under a lock — parallel pytest workers in one process or a threaded
#: driver would otherwise corrupt the depth and misattribute load time
#: between queries (round-5 ADVICE).
_local = threading.local()
_region_lock = threading.Lock()

# Wall-clock load-region accounting (round-14 verdict item 6): the anchor
# rows build several derivations CONCURRENTLY from a thread pool, so
# summing per-build durations counted thread-seconds — 57.6s of "load"
# inside a 13.8s query wall, driving costTime = wall − load negative.
# Instead, overlapping outermost builds are merged into one wall-clock
# region: the first build to start (across ALL threads) opens the region,
# the last to finish closes it, and ``load_seconds`` reports total region
# time — so wall − load ≥ 0 holds for pooled rows, and purely sequential
# builds report exactly what the per-duration sum did.
_active_builds = 0
_region_start = 0.0
_region_total = 0.0


@contextlib.contextmanager
def load_timer(name: str):
    """Time a derivation build; only the OUTERMOST build on this thread
    records (builds nest — ``copurchase_verts`` touches ``sym_copurchase``
    inside its own build — and recording both would double-count the
    shared load). ``name`` labels the build for tracing wrappers."""
    global _active_builds, _region_start, _region_total
    outermost = getattr(_local, "depth", 0) == 0
    _local.depth = getattr(_local, "depth", 0) + 1
    if outermost:
        with _region_lock:
            _active_builds += 1
            if _active_builds == 1:
                _region_start = time.perf_counter()
    try:
        yield
    finally:
        _local.depth -= 1
        if _local.depth == 0:
            with _region_lock:
                _active_builds -= 1
                if _active_builds == 0:
                    _region_total += time.perf_counter() - _region_start


def load_seconds() -> float:
    """Cumulative wall-clock seconds spent inside session-shared derivation
    builds so far (overlapping builds merged — see the region note above).
    Counts a still-open region's elapsed time so a mid-build read stays
    monotonic."""
    with _region_lock:
        total = _region_total
        if _active_builds:
            total += time.perf_counter() - _region_start
        return total


def timed_run(query: Callable[[], DataFrame], collect_first: bool = False):
    """Run ``query()`` and ``materialize`` its output; return
    ``(wall, load, rows, first)`` — ``first`` is None unless
    ``collect_first``. The load reading is taken before the clock starts,
    so ``wall − load`` is the query's costTime analogue."""
    load0 = load_seconds()
    t0 = time.perf_counter()
    out = materialize(query(), collect_first=collect_first)
    rows, first = out if collect_first else (out, None)
    wall = time.perf_counter() - t0
    return wall, load_seconds() - load0, rows, first
