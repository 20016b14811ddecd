"""Time individual registry queries in isolation (cold session per process).

Measurement protocol = bench.py's: ``benchlib.materialize`` persists the
output then counts it, forcing FULL materialization of every column — a bare
``count()`` lets Catalyst eliminate aggregated-unique outer joins and
everything beneath them (triangle/dedup shapes measured 0.5-0.8s while the
real cost was 3-18s). Each run also reports the loadDataTime/costTime split
(``KMeansRunner.scala:132-133``): ``load`` = session-shared derivation builds
first-touched by this query, ``cost`` = wall − load (the reference's
costTime analogue; on ``--runs N`` the N>1 runs are warm = pure cost).

Each named query runs in its own Python process and JVM, one after the
other, so a query's warm runs never inherit JIT warm-up from the queries
timed before it and cross-commit timings compare like with like.

Usage: python tools/time_query.py q1 [q2 ...] [--runs=N]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import os
import subprocess
import sys
from functools import partial
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def time_one(name: str, runs: int) -> None:
    """Time ``name`` ``runs`` times in this process's fresh session."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from spark_ml_algo_lib_master_tongji_spark import benchlib
    from spark_ml_algo_lib_master_tongji_spark.registry import build_registry
    from spark_ml_algo_lib_master_tongji_spark.session import get_session

    spark = get_session(app_name="time_query")
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    fn = build_registry()[name]
    for r in range(runs):
        dt, load, n, _ = benchlib.timed_run(partial(fn, spark, sf_dir))
        print(
            f"{name} run{r}: {dt:.3f}s (load {load:.2f}s, "
            f"cost {dt - load:.2f}s) rows={n}",
            flush=True,
        )


def main() -> int:
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    runs = 1
    for a in sys.argv[1:]:
        if a.startswith("--runs"):
            runs = int(a.split("=")[1])
    if len(names) == 1:
        time_one(names[0], runs)
        return 0
    rc = 0
    for name in names:
        rc |= subprocess.call(
            [sys.executable, os.path.abspath(__file__), name, f"--runs={runs}"]
        )
    return rc


if __name__ == "__main__":
    sys.exit(main())
