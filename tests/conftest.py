from __future__ import annotations

import pytest

from multisql_spark.tables import local_session

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    return local_session("multisql_spark_tests")


@pytest.fixture(scope="session")
def duck():
    from multisql_spark.testing import duckdb_connection

    return duckdb_connection(SF_DIR)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
