"""BM25 scoring + top-k retrieval.

BM25 (Robertson/Sparck-Jones, the Lucene-standard formulation):

    idf(t)     = ln( (N - df + 0.5) / (df + 0.5) + 1 )
    score(t,d) = idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))

All scoring is pure Catalyst column arithmetic — postings join the
(small) per-term stats and per-doc stats, then one expression. Top-k per
term is a window ``row_number`` (TakeOrderedAndProject when a global
LIMIT applies); the WAND evaluator (wand.py) must agree with this
exhaustive path on every query — that is the correctness oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

K1 = 1.2
B = 0.75
PAGE_SIZE = 10  # SEARCH_RESULTS_PAGE_SIZE, datastore/__init__.py:22


def idf_col(df_col, n_docs_col):
    return F.log((n_docs_col - df_col + 0.5) / (df_col + 0.5) + 1.0)


def attach_bm25(
    postings: DataFrame,
    tstats: DataFrame,
    dstats: DataFrame,
    cstats: DataFrame,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """postings (term, doc_id, tf) → + bm25 score column.

    Join strategy: postings ⋈ tstats shuffles on term (AQE splits skewed
    head terms); dstats joins on doc_id; cstats is a single row →
    broadcast cross join. At query time prefer ``score_query_terms``
    which broadcasts the tiny query-term slice instead.
    """
    one = F.broadcast(cstats)
    out = (
        postings.join(tstats, "term")
        .join(dstats, "doc_id")
        .crossJoin(one)
    )
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    return out.withColumn(
        "bm25",
        idf_col(F.col("df"), F.col("n_docs"))
        * F.col("tf")
        * (k1 + 1.0)
        / denom,
    )


def topk_per_term(
    scored: DataFrame,
    k: int = PAGE_SIZE,
    score_col: str = "bm25",
) -> DataFrame:
    """Exhaustive top-k per term: window row_number over the full rank key.

    Ties broken by doc_id DESC so results are total-ordered and
    deterministic (required for rank-identity checks and as the WAND
    oracle)."""
    w = Window.partitionBy("term").orderBy(
        F.desc(score_col), F.desc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
