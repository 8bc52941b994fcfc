"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline on sf0.001: whitespace
postings → block-encoded segments → BM25 top-k through the engine's
batch WAND. ``queries()``/``oracle_sql()`` expose
the extraction, indexing, ranking and search gates with DuckDB oracles;
implementations live in ``myaku_spark.driver_queries``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on the sf0.001 data: BM25 top-10 per query term,
    ranked by the engine."""
    from myaku_spark.driver_queries import q_bm25_topk

    return q_bm25_topk(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per gated engine operator."""
    from myaku_spark.driver_queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (ANSI, same column names/types)."""
    from myaku_spark.driver_queries import ORACLE, ORACLE_BUILDERS

    return dict(ORACLE) | {k: build() for k, build in ORACLE_BUILDERS.items()}
