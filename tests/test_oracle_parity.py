"""Oracle-gate rehearsal: every catalog query must match its oracle in
DuckDB at sf0.01 (row count + columns + order-insensitive values)."""

import pytest

from data_engineering_bootcamp_spark.plans.catalog import ORACLES, QUERIES

from .oracle_harness import compare, duck_con

WITH_ORACLE = sorted(ORACLES)


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duck_con(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_parity(spark, sf_dir, con, name):
    sdf = QUERIES[name](spark, sf_dir)
    oracle = con.sql(ORACLES[name]).df()
    problems = compare(sdf, oracle)
    assert not problems, f"{name}: " + "; ".join(problems)
