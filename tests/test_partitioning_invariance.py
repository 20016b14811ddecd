"""Global partitioning-invariance pin (round-7 verdict item 5).

The engine claims partitioning-invariant semantics everywhere — md5
sharding, rounded-score ranking, order-invariant integer sums, value-space
histograms instead of per-partition windows. This is the class of bug
(e.g. the quality gate's upper-median, caught in round 7) that only a
first-principles sweep catches: run EVERY oracle-bearing registry query
under two different ``spark.sql.shuffle.partitions`` settings and assert
the normalized result sets are identical. sf0.001 keeps the double sweep
cheap; the invariance property is scale-free.
"""

from __future__ import annotations

import pytest

from tests.compare import _norm_rows
from tests.conftest import SF_SMOKE

# opt-in (pytest.ini excludes it from the default run — round-9 verdict
# item 7): run once per round with
#   python -m pytest tests/test_partitioning_invariance.py -m sweep -q
pytestmark = pytest.mark.sweep


def _clear_session_caches(spark) -> None:
    """Drop every session-shared derivation so the second sweep re-executes
    its plans under the new shuffle-partition setting instead of reusing
    frames materialized under the old one."""
    from spark_ml_algo_lib_master_tongji_spark.operators import graph as G

    app = spark.sparkContext.applicationId
    for cache in (G._DERIV_CACHE, G._OBJ_CACHE):
        for k in [k for k in cache if k[0] == app]:
            del cache[k]
    spark.catalog.clearCache()


def test_every_oracle_query_is_partitioning_invariant(spark):
    from spark_ml_algo_lib_master_tongji_spark.oracles import all_oracles
    from spark_ml_algo_lib_master_tongji_spark.registry import build_registry

    reg = build_registry()
    names = [n for n in reg if n in all_oracles()]
    assert len(names) >= 100  # the sweep must not silently shrink

    def run_all() -> dict[str, list]:
        out = {}
        for n in names:
            df = reg[n](spark, SF_SMOKE)
            out[n] = _norm_rows(
                list(df.columns), [tuple(r) for r in df.collect()]
            )
        return out

    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        _clear_session_caches(spark)
        wide = run_all()
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        _clear_session_caches(spark)
        narrow = run_all()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
        _clear_session_caches(spark)

    diffs = [n for n in names if wide[n] != narrow[n]]
    assert not diffs, (
        f"partitioning-sensitive results in {len(diffs)} queries: {diffs}"
    )
