"""Oracle-parity tests: the comparison tools/check_oracle.py runs (column
names, type families, row count, order-insensitive exact values) for every
declared query, against DuckDB on sf0.001."""

import pytest

from engine.queries import QUERIES
from tests.conftest import SF_SMOKE
from tools.check_oracle import connect, oracle_mismatch


@pytest.fixture(scope="module")
def duck():
    con = connect(SF_SMOKE)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_oracle_parity(spark, duck, name):
    q = QUERIES[name]
    assert oracle_mismatch(q.fn(spark, SF_SMOKE), duck.sql(q.oracle)) == []


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) == set(e.queries()) == set(QUERIES)
