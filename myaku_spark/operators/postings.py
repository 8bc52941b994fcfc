"""Posting-list construction (A1-A4) as shuffle-aware aggregations.

The reference builds one posting per (term, article) by in-memory reduce
(reduce_found_lexical_items, /root/reference/myaku/datatypes.py:428-505)
and relies on MongoDB compound indexes for the per-term sorted posting
lists (/root/reference/myaku/datastore/database.py:296-323). Here the
same artifacts are explicit DataFrames:

- ``build_postings``      (term, doc_id) → tf + sorted positions     [A1]
- ``doc_stats``           doc_id → dl (+ corpus N, avgdl)            [BM25]
- ``term_stats``          term → df, cf                             [A2]

Shuffle/skew notes (the 100 TB design point):

* ``groupBy(term, doc_id)`` keys include doc_id, so head terms (けれども-
  class function words that appear in nearly every doc) do NOT skew this
  aggregation; Spark's partial (map-side) aggregation combines duplicate
  occurrences within a partition first.
* ``groupBy(term)`` term stats are count/sum only: partial aggregation
  reduces each partition to one row per term, so head terms need no salt.
* At full scale posting lists are never materialized as one giant array:
  the segment writer (segments.py) blocks postings by doc_id range so a
  10^8-posting term becomes ~10^6 independent (term, block) rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_postings(tokens: DataFrame) -> DataFrame:
    """(term, doc_id) → tf, sorted positions array.

    Input: token rows (doc_id, term, start, len[, ...]).
    Positions are (start, len) structs sorted by start — parity with the
    set-union + sort in datatypes.py:452-456.
    """
    return tokens.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("tf"),
        F.array_sort(
            F.collect_list(F.struct(F.col("start"), F.col("len")))
        ).alias("positions"),
    )


def doc_stats(tokens: DataFrame) -> DataFrame:
    """doc_id → dl (token count). Map-side combinable; no skew."""
    return tokens.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))


def corpus_stats(docs: DataFrame) -> DataFrame:
    """Single row: N (docs), avgdl. Tiny result → crossJoin/broadcast it."""
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )


def term_stats(postings: DataFrame) -> DataFrame:
    """term → df (distinct docs), cf (total tf).

    df here is exact countDistinct-free: postings already hold one row per
    (term, doc), so df = count(*) — no expensive distinct. This is the
    A2 document-frequency input to BM25 idf and the A4 per-term tracked
    counts, in one pass.
    """
    return postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")
    )


def term_dictionary(postings: DataFrame) -> DataFrame:
    """Distinct terms (A3, build_first_page_cache.py:14-22)."""
    return postings.select("term").distinct()
