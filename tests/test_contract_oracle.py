"""Every contract query against its DuckDB oracle at sf0.001.

Each ``__spark_entry__.queries()`` entry runs on Spark and its
``oracle_sql()`` twin runs on DuckDB over the same parquet tables; the
two results must agree under ``tools.oracle_check.compare`` (row count,
column names, order-insensitive values).  The Spark side runs first:
the fixture-pinned queries materialize the parquet their oracle reads.
"""

import pytest

import __spark_entry__
from tools.oracle_check import compare, contract_oracles, duck_tables

SF_DIR = "/root/testdata/sf0.001"
QUERIES = __spark_entry__.queries()


@pytest.fixture(scope="module")
def duck():
    con = duck_tables(SF_DIR)
    yield con
    con.close()


@pytest.fixture(scope="module")
def oracles():
    return contract_oracles(SF_DIR)


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_oracle(spark, duck, oracles, name):
    spark_pdf = QUERIES[name](spark, SF_DIR).toPandas()
    duck_pdf = duck.sql(oracles[name]).df()
    assert compare(name, spark_pdf, duck_pdf) == []
