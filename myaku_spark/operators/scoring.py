"""Myaku quality scoring (A5-A7) as pure Catalyst CASE-WHEN expressions.

Parity targets (all /root/reference):
- weighted sum:      myaku/scorer/__init__.py:27-38,40-85
                     score = Σ floor(factor_score * weight); factor_score
                     itself is floor(1000 * multiplier), so with integer
                     weights the outer floor is exact integer arithmetic.
- length buckets:    myaku/scorer/factor_scorers.py:138-175
- recency buckets:   myaku/scorer/factor_scorers.py:178-206 (utcnow is a
                     PARAMETER here — the reference's own tests freeze it,
                     tests/end_to_end/test_crawl.py:2342-2346)
- blog rating:       myaku/scorer/factor_scorers.py:250-310 (fixed 0.25
                     multiplier for news sources; kakuyomu star buckets)
- blog order:        myaku/scorer/factor_scorers.py:209-247
- has_video:         myaku/scorer/factor_scorers.py:121-135
- tf modifier:       myaku/scorer/factor_scorers.py:337-363
- ValueRangeMultipliers bucket semantics (value <= upper bound, first
  match; last bucket unbounded): factor_scorers.py:45-100.

Bucket boundaries are data, not code: each scorer is generated from its
(upper_bound, multiplier) table via ``bucket_multiplier_col``.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_FACTOR_SCORE = 1000  # factor_scorers.py:19

LENGTH_BUCKETS = [
    (100, -1), (200, -0.5), (300, 0), (400, 0.2), (500, 0.6), (700, 0.8),
    (1000, 1), (1300, 0.8), (1500, 0.6), (1700, 0.4), (1900, 0.2),
    (2100, 0), (2500, -0.5), (None, -1),
]

RECENCY_BUCKETS = [
    (7, 1), (30, 0.9), (90, 0.6), (180, 0.4), (365, 0.2), (365 * 3, 0),
    (None, -0.2),
]

KAKUYOMU_STAR_BUCKETS = [
    (5, -0.5), (10, -0.25), (20, 0), (30, 0.25), (50, 0.5), (70, 0.7),
    (100, 0.8), (None, 1),
]

TF_BUCKETS = [(1, 0), (2, 0.25), (3, 0.5), (4, 0.75), (None, 1)]

FIXED_SOURCE_MULTIPLIERS = {"NHK News Web": 0.25, "Asahi Shinbun": 0.25}

ARTICLE_FACTOR_WEIGHTS = {
    "length": 3, "blog_order": 1, "blog_rating": 2, "video": 1, "recency": 2,
}
TF_MOD_WEIGHT = 3


def bucket_score(value, buckets) -> int:
    """Driver-side twin of the bucket expression (exact reference math)."""
    for upper, mult in buckets:
        if upper is None or value <= upper:
            return math.floor(MAX_FACTOR_SCORE * mult)
    raise AssertionError("unbounded bucket required")


def bucket_multiplier_col(value: Column, buckets) -> Column:
    """floor(1000 * multiplier) via a first-match CASE WHEN chain.

    floor() is applied per-factor exactly as the reference does
    (factor_scorers.py uses math.floor on each factor score) — note
    floor(-0.5*1000) = -500 but floor of negative non-integers matters
    for future bucket tables, so floor is computed here driver-side on
    the constant, keeping the column expression a pure literal lookup.
    """
    expr = None
    for upper, mult in buckets:
        score = math.floor(MAX_FACTOR_SCORE * mult)
        if upper is None:
            tail = F.lit(score)
            expr = tail if expr is None else expr.otherwise(tail)
        else:
            cond = value <= F.lit(upper)
            expr = F.when(cond, score) if expr is None else expr.when(cond, score)
    return expr


def length_score_col(alnum_count: Column) -> Column:
    return bucket_multiplier_col(alnum_count, LENGTH_BUCKETS)


def recency_score_col(doc_ts: Column, now: Column) -> Column:
    """Recency factor with ``now`` as an explicit parameter.

    The reference computes (utcnow - last_updated).days — i.e. the floor
    of the elapsed time in whole days, which for now >= doc_ts is
    floor(seconds/86400)."""
    days = F.floor(
        (
            now.cast("timestamp").cast("double")
            - doc_ts.cast("timestamp").cast("double")
        )
        / F.lit(86400.0)
    )
    return bucket_multiplier_col(days, RECENCY_BUCKETS)


def video_score_col(has_video: Column) -> Column:
    return F.when(has_video, F.lit(MAX_FACTOR_SCORE)).otherwise(F.lit(0))


def blog_order_score_col(
    blog_order_num: Column, section_order_num: Column
) -> Column:
    return (
        F.when(blog_order_num == 1, F.lit(MAX_FACTOR_SCORE))
        .when(section_order_num == 1, F.lit(MAX_FACTOR_SCORE // 2))
        .otherwise(F.lit(0))
    )


def blog_rating_score_col(source_name: Column, rating: Column) -> Column:
    """News sources → fixed floor(1000*0.25); Kakuyomu → star buckets on
    int(rating); no blog data at all → neutral 0 (the reference raises
    for unknown sources, factor_scorers.py:270-296 — here articles
    without a blog dimension simply take the neutral factor)."""
    fixed = None
    for src, mult in FIXED_SOURCE_MULTIPLIERS.items():
        score = math.floor(MAX_FACTOR_SCORE * mult)
        cond = source_name == F.lit(src)
        fixed = F.when(cond, score) if fixed is None else fixed.when(cond, score)
    star = bucket_multiplier_col(
        rating.cast("int").cast("double"), KAKUYOMU_STAR_BUCKETS
    )
    return fixed.otherwise(
        F.when(source_name.isNull() | rating.isNull(), F.lit(0)).otherwise(star)
    )


def attach_blog_dimension(
    docs, blog_map, blogs, url_col: str = "url"
):
    """docs ⋈ blog_map (url → blog fields) ⋈ broadcast blogs dimension
    (J2, index_search.py:84-93). Left joins: articles without a blog
    keep null blog columns and score the neutral factors. Both right
    sides are dimension-sized (#articles→blog rows, #series rows) —
    always broadcast, never a shuffle of the fact table."""
    m = blog_map.select(
        F.col("url").alias(url_col),
        "blog_url",
        F.col("source_name").alias("_map_source"),
        "blog_article_order_num",
        "blog_section_order_num",
        "has_video",
    )
    b = blogs.select(
        "blog_url", F.col("source_name").alias("_blog_source"), "rating"
    )
    out = (
        docs.join(F.broadcast(m), url_col, "left")
        .join(F.broadcast(b), "blog_url", "left")
        .withColumn(
            "source_name", F.coalesce(F.col("_map_source"), F.col("_blog_source"))
        )
        .drop("_map_source", "_blog_source")
    )
    return out


def full_article_score_col(now: Column) -> Column:
    """article_quality_score_col over the attach_blog_dimension columns
    (alnum, warc_ts + blog fields) — the complete 5-factor weighted sum."""
    return article_quality_score_col(
        F.col("alnum"),
        F.col("warc_ts"),
        now,
        has_video=F.col("has_video"),
        source_name=F.col("source_name"),
        rating=F.col("rating"),
        blog_order_num=F.col("blog_article_order_num"),
        section_order_num=F.col("blog_section_order_num"),
    )


def tf_score_mod_col(tf: Column) -> Column:
    """Per-(term,doc) modifier: tf buckets × weight 3 (TermFrequencyScorer)."""
    return bucket_multiplier_col(tf, TF_BUCKETS) * F.lit(TF_MOD_WEIGHT)


def article_quality_score_col(
    alnum_count: Column,
    doc_ts: Column,
    now: Column,
    has_video: Column | None = None,
    source_name: Column | None = None,
    rating: Column | None = None,
    blog_order_num: Column | None = None,
    section_order_num: Column | None = None,
) -> Column:
    """Full weighted article score (scorer/__init__.py:27-60).

    Optional factors default to their neutral values for inputs that lack
    the column (e.g. the generic ``documents`` table)."""
    video = video_score_col(has_video) if has_video is not None else F.lit(0)
    if source_name is not None and rating is not None:
        brating = blog_rating_score_col(source_name, rating)
    else:
        brating = F.lit(0)
    if blog_order_num is not None:
        border = blog_order_score_col(blog_order_num, section_order_num)
    else:
        border = F.lit(0)
    return (
        length_score_col(alnum_count) * ARTICLE_FACTOR_WEIGHTS["length"]
        + border * ARTICLE_FACTOR_WEIGHTS["blog_order"]
        + brating * ARTICLE_FACTOR_WEIGHTS["blog_rating"]
        + video * ARTICLE_FACTOR_WEIGHTS["video"]
        + recency_score_col(doc_ts, now) * ARTICLE_FACTOR_WEIGHTS["recency"]
    ).cast("int")
