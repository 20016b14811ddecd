"""Reference-style workload runner: load → execute → save → YAML report.

The reference invokes each algorithm through a runner that reads params,
times data load and compute separately, saves the result, and dumps a
YAML report (``KMeansRunner.scala:132-156``; ``Utils.scala:150-161``,
``saveAsTextFile`` at ``PageRankRunner.scala:115``). This is that
lifecycle for any registry query:

    python tools/run_query.py NAME [--sf-dir DIR] [--out PATH] [--report DIR]

- executes ``queries()[NAME]`` on a fresh session at ``--sf-dir``
  (default /root/testdata/sf0.1);
- ``--out`` saves the full result as parquet (the sink IS the
  materialization; the timed count then reads the saved file back);
  without it the result is materialized via the bench persist-then-count
  protocol;
- writes ``report/<NAME>_<ts>.yml`` with params, loadDataTime (session-
  shared derivation builds first-touched by this run), costTime, and the
  row count, and prints the reference's ``Exec Successful`` line.
"""

from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("name")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--out", default=None, help="save result parquet here")
    ap.add_argument("--report", default=str(Path(__file__).resolve().parent.parent / "report"))
    args = ap.parse_args()

    from spark_ml_algo_lib_master_tongji_spark import benchlib
    from spark_ml_algo_lib_master_tongji_spark.registry import build_registry
    from spark_ml_algo_lib_master_tongji_spark.report import write_run_report
    from spark_ml_algo_lib_master_tongji_spark.session import get_session

    reg = build_registry()
    if args.name not in reg:
        raise SystemExit(f"unknown query {args.name!r}; known: {', '.join(reg)}")

    spark = get_session(app_name=f"run_{args.name}")
    spark.read.parquet(os.path.join(args.sf_dir, "lineitem.parquet")).count()

    def query():
        df = reg[args.name](spark, args.sf_dir)
        if not args.out:
            return df
        df.write.mode("overwrite").parquet(args.out)
        return spark.read.parquet(args.out)

    wall, load, n, _ = benchlib.timed_run(query)

    path = write_run_report(
        args.name,
        {"sf_dir": args.sf_dir, **({"out": args.out} if args.out else {})},
        cost_time_s=round(wall - load, 4),
        load_time_s=round(load, 4),
        evaluation={"rows": n},
        out_dir=args.report,
    )
    print(f"report: {path}")
    print(f"Exec Successful: costTime: {wall - load:.4f}s ({args.name})")


if __name__ == "__main__":
    main()
