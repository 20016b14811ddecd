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
