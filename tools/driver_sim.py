"""Simulate the driver's verify pass against __spark_entry__.py.

Creates a *plain* SparkSession (not the engine's tuned factory — the driver
won't use it either), then: (1) smoke-runs entry(spark) on sf0.001,
(2) runs every queries() entry at sf0.01, (3) runs the matching oracle_sql()
on DuckDB over the same parquet, (4) compares row count + sorted column names
+ order-insensitive values (``tests/compare.mismatch``, the comparator the
pytest differentials assert on). Prints a per-query verdict line and exits
nonzero on any mismatch.

Usage: python tools/driver_sim.py [name ...]   (default: every query)
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tests.compare import mismatch  # noqa: E402

SF_ORACLE = "/root/testdata/sf0.01"


def main(names: list[str]) -> int:
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as e

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    df = e.entry(spark)
    rows = df.collect()
    print(f"entry: OK rows={len(rows)} cols={df.columns}")

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_ORACLE}/{t}.parquet')"
        )

    qs, oracles = e.queries(), e.oracle_sql()
    extra = set(oracles) - set(qs)
    if extra:
        print(f"FATAL: oracle keys missing from queries(): {extra}")
        return 1
    if names:
        qs = {n: qs[n] for n in names}

    failed = []
    for name, fn in qs.items():
        try:
            sdf = fn(spark, SF_ORACLE)
            scols = list(sdf.columns)
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:  # noqa: BLE001
            print(f"{name}: SPARK ERROR {type(ex).__name__}: {ex}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"{name}: rows-only rows={len(srows)} cols={scols}")
            continue
        res = con.execute(oracles[name])
        verdict = mismatch(
            scols, srows, [d[0] for d in res.description], res.fetchall()
        )
        if verdict:
            print(f"{name}: {verdict}")
            failed.append(name)
        else:
            print(f"{name}: MATCH rows={len(srows)}")

    checked = sum(1 for n in qs if n in oracles)
    print(f"\n{len(qs) - len(failed)}/{len(qs)} ok; oracle-checked={checked}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
