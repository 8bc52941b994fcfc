"""myaku_spark — a PySpark-native inverted-index build + BM25 query engine.

A from-scratch rebuild of the query/data-processing capabilities of
NickMcL/Myaku (a Japanese full-text search engine) as an idiomatic
Spark DataFrame program:

- HTML→text extraction, char-width normalization and morphological-style
  tokenization as Arrow-vectorized pandas UDFs (``myaku_spark.functions``).
- Posting-list construction via salted two-phase aggregation, delta+varint
  compressed term-partitioned segment files with block-max metadata, and
  sorted segment merge (``myaku_spark.operators``).
- BM25 and Myaku-rank-key top-k query evaluation, with block-max WAND
  pruning for multi-term conjunctions (``myaku_spark.operators.wand``).
- Resumable, checkpointed index builds with per-partition lineage and
  doc/term/byte metrics (``myaku_spark.plans.build_index``).

Reference semantics citations in docstrings point into ``/root/reference``
(path:line) and denote behavior parity, not copied code.
"""

__version__ = "0.1.0"
