"""Posting build invariants: tf = positions length, positions sorted,
term stats consistency, scoring parity."""

from pyspark.sql import functions as F

from myaku_spark.functions.tokenize import explode_whitespace_tokens
from myaku_spark.operators.postings import (
    build_postings,
    corpus_stats,
    doc_stats,
    term_stats,
)
from myaku_spark.operators.scoring import (
    LENGTH_BUCKETS,
    bucket_score,
    length_score_col,
)


def _toks(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    return explode_whitespace_tokens(docs)


def test_tf_equals_positions_len(spark, sf_dir):
    p = build_postings(_toks(spark, sf_dir))
    bad = p.filter(F.col("tf") != F.size("positions")).count()
    assert bad == 0


def test_positions_sorted_and_in_bounds(spark, sf_dir):
    p = build_postings(_toks(spark, sf_dir))
    bad = p.filter(
        F.exists(
            F.expr(
                "zip_with(slice(positions, 1, size(positions)-1),"
                " slice(positions, 2, size(positions)-1),"
                " (a, b) -> a.start >= b.start)"
            ),
            lambda x: x,
        )
    ).count()
    assert bad == 0


def test_term_stats_consistency(spark, sf_dir):
    toks = _toks(spark, sf_dir)
    p = build_postings(toks)
    ts = term_stats(p)
    # Σ cf over terms == total token count; Σ df == posting rows.
    total_cf = ts.agg(F.sum("cf")).collect()[0][0]
    assert total_cf == toks.count()
    total_df = ts.agg(F.sum("df")).collect()[0][0]
    assert total_df == p.count()


def test_doc_stats_and_corpus(spark, sf_dir):
    toks = _toks(spark, sf_dir)
    d = doc_stats(toks)
    c = corpus_stats(d).collect()[0]
    assert c.n_docs == d.count()
    assert c.avgdl > 0


def test_bucket_score_matches_column(spark):
    values = [50, 100, 101, 250, 999, 1000, 1001, 2500, 2501, 99999]
    df = spark.createDataFrame([(v,) for v in values], ["v"])
    got = {
        r.v: r.s
        for r in df.select("v", length_score_col(F.col("v")).alias("s")).collect()
    }
    for v in values:
        assert got[v] == bucket_score(v, LENGTH_BUCKETS), v
