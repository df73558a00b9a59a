from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geospatial_store_siting_spark.session import get_spark  # noqa: E402
from geospatial_store_siting_spark.sources import tables  # noqa: E402

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def geo(spark):
    """Spark session with base + geo views registered at SF_DIR."""
    tables.load_all(spark, SF_DIR)
    return spark


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in tables.BASE_TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con
