from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"
#: repo-local 10× fixture (tools/scale_testdata.py output) — the scale-regime
#: fixture shared by the sweep-marked tests and the scale tools.
SF_10X = str(REPO / "testdata_sf1m")


def spark_jobs(spark, fn):
    """(fn(), number of Spark jobs it ran), read through a job group of
    its own and the status tracker."""
    import uuid

    group = f"test-jobs-{uuid.uuid4().hex}"
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    from spark_ml_algo_lib_master_tongji_spark.session import get_session

    s = get_session(app_name="pytest", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_ORACLE}/{t}.parquet')"
        )
    yield con
    con.close()
