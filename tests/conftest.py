from __future__ import annotations

import os

import duckdb
import pytest

from limeqo_spark.io import TABLES
from limeqo_spark.session import get_spark
from limeqo_spark.workload import Workload

SF_DIR = os.environ.get("LIMEQO_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("limeqo_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def synthetic_job() -> Workload:
    """Deterministic in-repo stand-in for the reference JOB matrix, for tests
    whose assertions are properties of the code rather than of the data:
    the same 113x49 shape, a rank-5 matrix with 10% noise in the tens of
    seconds, and ~10% of cells observed plus the whole default column, so
    every strategy has room to improve and timeouts do censor cells. Shared
    by the session: a test that changes it must restore it."""
    base = Workload.synthetic_low_rank(
        n_rows=113, n_cols=49, rank=5, noise=0.1, seed=11, density=0.1
    )
    return Workload(base.matrix * 10, base.mask)
