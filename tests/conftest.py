from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
SF_MEDIUM = os.environ.get("SPARK_GRAFT_SF_MEDIUM", "/root/testdata/sf0.01")
# the headline-suite scale (bench.py): recall gates that only bite past a
# few thousand vectors run here
SF_LARGE = os.environ.get(
    "SPARK_GRAFT_SF_LARGE", os.path.join(os.path.dirname(SF_MEDIUM), "sf0.1")
)


@pytest.fixture(scope="session")
def spark():
    from chroma_spark.session import get_spark

    s = get_spark("chroma-spark-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the driver's views registered at sf-small."""
    import duckdb

    con = duckdb.connect()
    from chroma_spark.registry import TABLES

    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMALL}/{t}.parquet'")
    yield con
    con.close()
