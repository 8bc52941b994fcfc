"""The gates that rank, search or decode through the engine, each
compared with its DuckDB oracle at ``sf_dir`` by the same row-set
comparison as ``scripts/check_oracle.py`` (which also fails a gate whose
two sides are both empty)."""

import pytest

from myaku_spark.driver_queries import ORACLE, QUERIES
from scripts.check_oracle import compare_gate, oracle_db

ENGINE_GATES = [
    "bm25_topk",
    "search_and",
    "rank_key_topk",
    "pagination_page2",
    "hydrate_topk",
    "segment_search_e2e",
    "phrase_search",
    "proximity_search",
    "postings_build",
    "posting_positions",
]


@pytest.fixture(scope="module")
def con(sf_dir):
    c = oracle_db(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", ENGINE_GATES)
def test_gate_matches_its_oracle(spark, sf_dir, con, name):
    n_rows, problems = compare_gate(
        spark, con, QUERIES[name], sf_dir, ORACLE[name]
    )
    assert problems == [], problems
    assert n_rows > 0
