"""Every registered query against its DuckDB oracle at sf0.001.

One case per registry entry, with the comparison tools/check_contract.py
runs for the larger scale factors: row count, column names, type
families and an order-insensitive value hash; a query without an oracle
must return at least one row."""

import pytest

from open_ocr_spark.queries import ORACLES, QUERIES
from tools.check_contract import check_query, oracle_connection

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    con = oracle_connection(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_oracle(spark, con, name):
    assert check_query(spark, con, QUERIES[name], ORACLES.get(name), SF_DIR) == []
