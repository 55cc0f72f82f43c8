from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lmo_data_catalog_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    wh = tmp_path_factory.mktemp("spark_warehouse")
    # 4g: the session is shared by ~530 tests whose broadcasts are
    # cleaned asynchronously; at 2g a late broadcast build can OOM on
    # accumulated-not-yet-collected heap (seen once in r10 on
    # test_partitioning_invariance — green in isolation). Queries are
    # still sized for the 2g default session (driver-sim smoke).
    s = get_spark(
        "tests",
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.warehouse.dir": str(wh),
            "spark.driver.memory": "4g",
        },
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    from lmo_data_catalog_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_SMOKE}/{t}.parquet')"
        )
    return con
