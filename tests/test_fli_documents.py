"""FULL golden FLI-document parity: the reference's search-result
document shape reproduced field-for-field against every golden FLI
expectation (test_crawl.py:856-1653) — positions, exact/definite/
possible counts, possible_interps (sources + JMdict entry ids),
interp_position_map, article score, per-FLI modifier, and the three
quality_score_{exact,definite,possible} values.

This combines every parity layer (tokenizer, interp structures, blog-
hydrated article scoring, tf modifier) through the relational FLI-doc
builder (operators/fli_docs.py)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from golden import (
    GOLDEN_INITIAL_NOW,
    GOLDEN_UPDATE_NOW,
    golden_article_meta,
    golden_article_texts,
    golden_blog_docs,
    golden_fli_expectations,
)

from myaku_spark.functions.tokenize import explode_ja_tokens
from myaku_spark.operators.fli_docs import build_fli_documents
from myaku_spark.operators.scoring import (
    attach_blog_dimension,
    full_article_score_col,
)
from myaku_spark.sources.blogs import BLOG_MAP_SCHEMA, golden_blogs_df


@pytest.fixture(scope="module")
def fli_docs(spark):
    """FLI documents over the full golden corpus, with each article
    scored at its own stage's frozen instant (initial vs update)."""
    initial, update = golden_article_meta()
    texts = golden_article_texts()
    blog_by_title = {}
    for d in golden_blog_docs()[0] + golden_blog_docs()[1]:
        blog_by_title[d["title"]] = d

    doc_rows, map_rows, titles = [], [], {}
    for stage, arts in (("initial", initial), ("update", update)):
        for a in arts:
            doc_id = len(doc_rows)
            titles[doc_id] = a["title"]
            doc_rows.append(
                (
                    doc_id,
                    a["source_url"],
                    dt.datetime.fromisoformat(a["last_updated_datetime"]),
                    int(a["alnum_count"]),
                    stage,
                    texts[a["title"]],
                )
            )
            blog = blog_by_title.get(a.get("blog_oid") or "")
            map_rows.append(
                (
                    a["source_url"],
                    blog["source_url"] if blog else None,
                    a["source_name"],
                    a.get("blog_article_order_num"),
                    a.get("blog_section_order_num"),
                    bool(a.get("has_video")),
                )
            )
    docs = spark.createDataFrame(
        doc_rows,
        "doc_id long, url string, warc_ts timestamp, alnum long,"
        " stage string, text string",
    )
    bmap = spark.createDataFrame(map_rows, BLOG_MAP_SCHEMA)
    # Stage-correct blog dimension + frozen now per stage.
    now = F.when(
        F.col("stage") == "initial",
        F.lit(GOLDEN_INITIAL_NOW).cast("timestamp"),
    ).otherwise(F.lit(GOLDEN_UPDATE_NOW).cast("timestamp"))
    blogs_upd = golden_blogs_df(spark, "update")
    blogs_init = golden_blogs_df(spark, "initial")
    scored_i = attach_blog_dimension(
        docs.filter(F.col("stage") == "initial"), bmap, blogs_init
    ).withColumn("doc_score", full_article_score_col(now))
    scored_u = attach_blog_dimension(
        docs.filter(F.col("stage") == "update"), bmap, blogs_upd
    ).withColumn("doc_score", full_article_score_col(now))
    scored = scored_i.unionByName(scored_u).withColumn(
        "doc_ts", F.col("warc_ts")
    )

    analysis = explode_ja_tokens(
        docs.select("doc_id", "text"), "text", "doc_id", include_analysis=True
    )
    out = build_fli_documents(
        analysis, scored, terms=list(golden_fli_expectations())
    ).collect()
    by_key = {}
    for r in out:
        by_key[(r.base_form, titles[r.doc_id])] = r
    return by_key


def _interp_key(sources_csv: str) -> tuple:
    return tuple(int(x) for x in sources_csv.split(","))


def test_fli_documents_match_golden(fli_docs):
    flis = golden_fli_expectations()
    checked = 0
    for term, docs in flis.items():
        for g in docs:
            r = fli_docs[(term, g["title"])]
            # Positions + all three counts.
            got_pos = {(p["start"], p["len"]) for p in r.found_positions}
            assert got_pos == set(g["positions"]), (term, g["title"])
            n = len(set(g["positions"]))
            assert r.found_positions_exact_count == n
            assert r.found_positions_definite_count == n
            assert r.found_positions_possible_count == n
            # Interp source sets (+ JMdict entry ids ride in the struct).
            got_interps = {
                _interp_key(i["interp_sources"]) for i in r.possible_interps
            }
            assert got_interps == set(g["interp_sources"]), (term, g["title"])
            checked += 1
    assert checked == 24


def test_fli_documents_scores_match_golden(fli_docs):
    # article_quality_score, the tf modifier, and the three quality
    # scores from the golden docs (test_crawl.py carries all of them).
    import ast

    # Pull the score fields out of the raw golden FLI dicts.
    from golden import _dict_to_doc, _ref_tree  # reuse the AST value extractor

    tree = _ref_tree()

    want = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Dict):
            d = _dict_to_doc(node)
            if "quality_score_exact" in d and "article_oid" in d:
                want[(d["base_form"], d["article_oid"])] = d
    assert len(want) >= 24
    for (term, title), g in want.items():
        r = fli_docs[(term, title)]
        assert r.article_quality_score == g["article_quality_score"], (
            term,
            title,
        )
        assert r.quality_score_exact_mod == g["quality_score_exact_mod"]
        assert r.quality_score_exact == g["quality_score_exact"]
        assert r.quality_score_definite == g["quality_score_definite"]
        assert r.quality_score_possible == g["quality_score_possible"]
        assert (
            r.article_last_updated_datetime.isoformat()
            == g["article_last_updated_datetime"]
        )


def test_fli_interp_position_map_matches_golden(fli_docs):
    # Where golden carries an interp_position_map, the per-interp
    # position assignment matches (keys translated from interp INDEX to
    # the interp's sources tuple on both sides).
    flis = golden_fli_expectations()
    n_maps = 0
    for term, docs in flis.items():
        for g in docs:
            gmap = g.get("interp_position_map")
            if not gmap:
                continue
            n_maps += 1
            # Key by (sources, pos) — けれども's two interps share
            # sources (1,) and differ only by MeCab POS.
            want = {}
            for idx, pos_list in gmap.items():
                gi = g["interps"][int(idx)]
                want[(gi["sources"], gi["pos"])] = set(pos_list)
            r = fli_docs[(term, g["title"])]
            assert r.interp_position_map is not None, (term, g["title"])
            got = {}
            for entry in r.interp_position_map:
                interp = r.possible_interps[entry["interp_idx"]]
                got[
                    (
                        _interp_key(interp["interp_sources"]),
                        interp["parts_of_speech"] or None,
                    )
                ] = {(p["start"], p["len"]) for p in entry["positions"]}
            assert got == want, (term, g["title"], got, want)
    assert n_maps == 2  # けれども @ K1A2 and だから @ K3A1


def test_fli_docs_without_map_have_null_map(fli_docs):
    flis = golden_fli_expectations()
    for term, docs in flis.items():
        for g in docs:
            if g.get("interp_position_map"):
                continue
            assert fli_docs[(term, g["title"])].interp_position_map is None, (
                term,
                g["title"],
            )


def test_search_fli_documents_per_family(spark):
    # DEFINITE/POSSIBLE query types select genuinely different stored
    # columns (their own match-group + score fields) and — because the
    # reference stores the three families with equal values
    # (document_convert.py:204-222) — return identical rankings in the
    # reference's compound-index order (database.py:296-323).
    from myaku_spark.functions.textfns import alnum_count_udf
    from myaku_spark.operators import scoring
    from myaku_spark.operators.fli_docs import (
        QUERY_TYPE_QUERY_FIELD,
        QUERY_TYPE_SCORE_FIELD,
        search_fli_documents,
    )
    from myaku_spark.plans.build_index import extract_and_dedupe
    from myaku_spark.sources.pages import synth_pages_df

    pages = synth_pages_df(spark, 20, partitions=2)
    docs = (
        extract_and_dedupe(pages)
        .withColumn("doc_id", F.xxhash64("url"))
        .withColumn("alnum", alnum_count_udf(F.col("text")))
        .withColumn(
            "doc_score",
            scoring.article_quality_score_col(
                F.col("alnum"), F.col("warc_ts"),
                F.lit("2026-08-01 00:00:00").cast("timestamp"),
            ),
        )
        .withColumn("doc_ts", F.col("warc_ts"))
    )
    fli = build_fli_documents(
        explode_ja_tokens(docs, "text", "doc_id", include_analysis=True), docs
    ).persist()
    term = (
        fli.groupBy("base_form").count().orderBy(F.desc("count"), "base_form")
        .limit(1).collect()[0].base_form
    )
    results = {}
    for qt in ("exact", "definite", "possible"):
        rows = search_fli_documents(fli, term, qt, k=5).collect()
        assert rows
        assert all(getattr(r, QUERY_TYPE_QUERY_FIELD[qt]) == term for r in rows)
        results[qt] = [
            (r.doc_id, getattr(r, QUERY_TYPE_SCORE_FIELD[qt])) for r in rows
        ]
    assert results["exact"] == results["definite"] == results["possible"]
    scores = [s for _, s in results["exact"]]
    assert scores == sorted(scores, reverse=True)
    with pytest.raises(ValueError, match="query_type"):
        search_fli_documents(fli, term, "fuzzy")
    fli.unpersist()


def test_golden_interps_carry_no_conjugation(fli_docs):
    # Every golden FLI's mecab_interp has conjugated_type/form = None
    # (test_crawl.py — the 14 golden terms are uninflected); the interp
    # structs must not invent tags for them.
    flis = golden_fli_expectations()
    checked = 0
    for term, docs in flis.items():
        for g in docs:
            r = fli_docs[(term, g["title"])]
            for i in r.possible_interps:
                assert i["conjugated_type"] == "", (term, g["title"])
                assert i["conjugated_form"] == "", (term, g["title"])
            checked += 1
    assert checked == 24


def test_interps_split_by_conjugated_form(spark):
    # MecabLexicalItemInterp includes conjugated_type/form in interp
    # identity (datatypes.py:329-342), so one article containing 曇り
    # and 曇った yields TWO possible_interps for 曇る and an
    # interp_position_map assigning each position to its form — the
    # reduce semantics of datatypes.py:428-505.
    from myaku_spark.functions.tokenize import explode_ja_tokens
    from myaku_spark.operators.fli_docs import build_fli_documents

    docs = spark.createDataFrame(
        [(1, "空が曇った。空が曇りだす。", "u1", 1000,
          __import__("datetime").datetime(2026, 1, 1))],
        ["doc_id", "text", "url", "doc_score", "doc_ts"],
    )
    fli = build_fli_documents(
        explode_ja_tokens(docs, "text", "doc_id", include_analysis=True),
        docs,
    )
    r = [x for x in fli.collect() if x.base_form == "曇る"][0]
    forms = sorted(
        (i["conjugated_type"], i["conjugated_form"])
        for i in r.possible_interps
    )
    assert forms == [
        ("五段・ラ行", "連用タ接続"),
        ("五段・ラ行", "連用形"),
    ]
    # Both interps are partial → the map must assign each position to
    # exactly one form.
    assert r.interp_position_map is not None
    by_form = {}
    for entry in r.interp_position_map:
        interp = r.possible_interps[entry["interp_idx"]]
        by_form[interp["conjugated_form"]] = {
            (p["start"], p["len"]) for p in entry["positions"]
        }
    assert by_form == {"連用タ接続": {(2, 2)}, "連用形": {(8, 2)}}
