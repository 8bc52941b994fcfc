"""End-to-end semantics on the reference golden corpus: build the index
over the 16 initial golden articles and answer the reference query set
(FIXTURES.md §3 / test_crawl.py:857-1653 term keys), asserting:

- every query term that appears in a golden text is found;
- reported positions slice the document text to the query surface;
- ranking follows the rank-key contract (score DESC, doc_id DESC);
- WAND equals the exhaustive oracle on every reference query.

Exact FLI-document parity (MeCab interp structures) is out of scope
without the MeCab dictionary (README 'Tokenizer caveat'); these tests
pin the engine-level semantics the index must provide.
"""

import shutil

import pytest
from pyspark.sql import functions as F

from myaku_spark.functions.ja_lexicon import JA_FUNCTION_WORDS
from myaku_spark.operators.search import IndexSearcher
from myaku_spark.plans.build_index import build_index
from myaku_spark.sources.pages import golden_pages_df

# The reference query set (initial crawl), test_crawl.py:857-1469.
REFERENCE_QUERIES = [
    "自然", "山賊", "けれども", "だから", "雪曇り", "窓枠", "未亡人",
    "必然", "復讐心", "憎悪", "模倣",
]

# JMdict-style lexicon entries so multi-script terms are emitted as
# meta lexical items (T4) by the fallback tokenizer.
GOLDEN_LEXICON = {"雪曇り", "窓枠", "復讐心", "未亡人", "憎悪", "模倣", "必然", "自然", "山賊"}

NOW = "2026-08-01 00:00:00"


@pytest.fixture(scope="module")
def golden_idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("golden_idx"))
    pages = golden_pages_df(spark)
    build_index(spark, pages, d, n_groups=1, now=NOW, lexicon=GOLDEN_LEXICON)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def golden_texts(spark, golden_idx):
    docs = spark.read.parquet(f"{golden_idx}/docs").select("doc_id", "url")
    url_text = {
        p["url"]: p["full_text"]
        for p in __import__("golden").golden_pages("initial")
    }
    return {r.doc_id: url_text[r.url] for r in docs.collect()}


def test_reference_terms_indexed(spark, golden_idx, golden_texts):
    searcher = IndexSearcher(spark, golden_idx, mode="myaku")
    missing = []
    for q in REFERENCE_QUERIES:
        expected_docs = {
            d for d, t in golden_texts.items() if q in t
        }
        got = {d for _, d in searcher.search([q], k=30)}
        if not expected_docs:
            continue
        if not got & expected_docs:
            missing.append(q)
    assert not missing, f"queries with no hits in expected docs: {missing}"


def test_positions_slice_to_surface(spark, golden_idx, golden_texts):
    """Posting positions must index the document text exactly (the
    ArticleTextPosition contract, datatypes.py:115-131)."""
    from myaku_spark.operators.phrase import decode_postings
    from myaku_spark.operators.segments import read_term_segments

    rows = decode_postings(
        read_term_segments(spark, f"{golden_idx}/segments", ["山賊", "けれども"])
    ).collect()
    assert rows
    for r in rows:
        text = golden_texts[r.doc_id]
        for start, ln in zip(r.starts, r.lens):
            assert text[start : start + ln] == r.term, (
                r.term,
                r.doc_id,
                start,
                text[start : start + ln],
            )


def test_skewed_head_term(spark, golden_idx, golden_texts):
    """けれども is the reference's skewed head term (4/16 articles,
    test_crawl.py:958-1101) — it must hit multiple docs here too."""
    searcher = IndexSearcher(spark, golden_idx, mode="myaku")
    hits = searcher.search(["けれども"], k=30)
    expected = {d for d, t in golden_texts.items() if "けれども" in t}
    assert len(expected) >= 3
    assert {d for _, d in hits} == expected


def test_rank_key_contract(spark, golden_idx):
    """Results ordered by (score DESC, doc_id DESC), page size 10."""
    searcher = IndexSearcher(spark, golden_idx, mode="myaku")
    for q in REFERENCE_QUERIES[:4]:
        res = searcher.search([q], k=10)
        assert len(res) <= 10
        keys = [(s, d) for s, d in res]
        assert keys == sorted(keys, key=lambda t: (-t[0], -t[1]))


def test_wand_rank_identical_on_reference_queries(spark, golden_idx):
    searcher = IndexSearcher(spark, golden_idx, mode="myaku")
    for q in REFERENCE_QUERIES:
        assert searcher.search([q], k=10) == searcher.search(
            [q], k=10, exhaustive=True
        ), q
    # Conjunctions from the reference vocabulary.
    for pair in [["山賊", "けれども"], ["自然", "だから"]]:
        for combine in ("and", "or"):
            assert searcher.search(pair, k=10, combine=combine) == searcher.search(
                pair, k=10, combine=combine, exhaustive=True
            ), (pair, combine)


def test_bm25_mode_on_golden(spark, tmp_path):
    d = str(tmp_path / "bm25_idx")
    pages = golden_pages_df(spark)
    build_index(
        spark, pages, d, n_groups=1, now=NOW, lexicon=GOLDEN_LEXICON,
        mode="bm25",
    )
    searcher = IndexSearcher(spark, d, mode="bm25")
    for q in ["山賊", "自然", "けれども"]:
        got = searcher.search([q], k=10)
        exp = searcher.search([q], k=10, exhaustive=True)
        assert got == exp, q
        assert all(s > 0 for s, _ in got)


def test_function_words_in_lexicon():
    assert "けれども" in JA_FUNCTION_WORDS
    assert "だから" in JA_FUNCTION_WORDS
