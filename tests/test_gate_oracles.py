"""Every driver gate compared with its DuckDB oracle at ``sf_dir`` by the
same row-set comparison as ``scripts/check_oracle.py`` (which also fails
a gate whose two sides are both empty). The oracle is ``ORACLE[name]``,
or ``ORACLE_BUILDERS[name]()`` for the oracles computed from pure-Python
twins."""

import pytest

from myaku_spark.driver_queries import ORACLE, ORACLE_BUILDERS, QUERIES
from scripts.check_oracle import compare_gate, oracle_db


@pytest.fixture(scope="module")
def con(sf_dir):
    c = oracle_db(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_gate_matches_its_oracle(spark, sf_dir, con, name):
    build = ORACLE_BUILDERS.get(name)
    sql = build() if build else ORACLE[name]
    n_rows, problems = compare_gate(spark, con, QUERIES[name], sf_dir, sql)
    assert problems == [], problems
    assert n_rows > 0
