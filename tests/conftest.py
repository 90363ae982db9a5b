from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreduce_paper_implementation_spark.session import core_count, get_spark  # noqa: E402
from mapreduce_paper_implementation_spark.testing.compare import duckdb_connect  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # Default parallelism is capped at the local core count. createDataFrame
    # over Python rows and sc.parallelize slice by it, and every slice is a
    # Python task costing ~0.1-0.2 s to launch, so twice as many slices as
    # cores only adds task waves on test-sized data (about a quarter of the
    # wall time of the Spark-bound test files on a 4-core box).
    s = get_spark(
        app_name="tests",
        extra_conf={
            "spark.sql.shuffle.partitions": "8",
            "spark.default.parallelism": str(min(8, core_count())),
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def oracle(sf_dir):
    con = duckdb_connect(sf_dir)
    yield con
    con.close()
