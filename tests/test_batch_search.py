"""Distributed batched WAND (operators/batch_search.py): one Spark job
for N queries must be rank-identical to the per-query driver WAND (and
therefore to the exhaustive oracle), in both score modes, under
tombstones, with conjunctive missing-term semantics preserved."""

import datetime as dt
import shutil

import pytest
from pyspark.sql import functions as F

from myaku_spark.operators.batch_search import batch_search
from myaku_spark.operators.search import IndexSearcher
from myaku_spark.plans.build_index import build_index
from myaku_spark.plans.incremental import incremental_update
from myaku_spark.sources.pages import PAGES_SCHEMA, synth_page, synth_pages_df

NOW = "2026-08-01 00:00:00"


@pytest.fixture(scope="module")
def bidx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("batch_idx"))
    pages = synth_pages_df(spark, 60, partitions=4)
    build_index(
        spark, pages, d, n_groups=1, now=NOW,
        head_df_threshold=16, block_doc_range=16,
    )
    # One tombstone so the batch path proves delete-vector application.
    p0, pX = synth_page(0), synth_page(9100)
    mod = spark.createDataFrame(
        [(p0["url"], dt.datetime(2026, 2, 1), pX["html"], pX["text"], "ja")],
        PAGES_SCHEMA,
    )
    incremental_update(spark, d, mod, now=NOW)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _terms_by_df(spark, d):
    rows = (
        spark.read.parquet(f"{d}/term_stats")
        .groupBy("term").agg(F.sum("df").alias("df"))
        .orderBy(F.desc("df"), "term").collect()
    )
    return [r.term for r in rows]


@pytest.mark.parametrize("mode", ["myaku", "bm25"])
def test_batch_equals_interactive_wand(spark, tmp_path, bidx, mode):
    d = bidx
    if mode == "bm25":
        d = str(tmp_path / "bm25idx")
        build_index(
            spark, synth_pages_df(spark, 60, partitions=4), d,
            n_groups=1, now=NOW, mode="bm25",
            head_df_threshold=16, block_doc_range=16,
        )
    terms = _terms_by_df(spark, d)
    queries = [
        ("q_single_head", [terms[0]]),
        ("q_single_mid", [terms[len(terms) // 2]]),
        ("q_and_2", [terms[0], terms[1]]),
        ("q_and_3", [terms[0], terms[2], terms[4]]),
    ]
    s = IndexSearcher(spark, d, mode=mode)
    out = batch_search(spark, d, queries, k=10, combine="and", mode=mode)
    got = {}
    for r in out.collect():
        got.setdefault(r.query_id, []).append((r.rank, r.score, r.doc_id))
    for qid, qterms in queries:
        expect = s.search(qterms, k=10, combine="and")
        batch = [
            (s_, d_) for _, s_, d_ in sorted(got.get(qid, []))
        ]
        assert batch == [(pytest.approx(s_), d_) for s_, d_ in expect], qid
        # and the exhaustive oracle agrees
        assert expect == s.search(qterms, k=10, combine="and", exhaustive=True)


def test_batch_or_mode_and_missing_term(spark, bidx):
    terms = _terms_by_df(spark, bidx)
    s = IndexSearcher(spark, bidx, mode="myaku")
    queries = [
        ("q_or", [terms[0], terms[1]]),
        ("q_or_partial", [terms[0], "zz未知語zz"]),  # unknown term ORs away
        ("q_and_missing", [terms[0], "zz未知語zz"]),
    ]
    out_or = batch_search(
        spark, bidx, queries[:2], k=10, combine="or", mode="myaku"
    )
    got = {}
    for r in out_or.collect():
        got.setdefault(r.query_id, []).append((r.rank, r.score, r.doc_id))
    for qid, qterms in queries[:2]:
        expect = s.search(qterms, k=10, combine="or")
        batch = [(s_, d_) for _, s_, d_ in sorted(got.get(qid, []))]
        assert batch == expect, qid
    # Conjunctive query with an unindexed term → NO rows for that query.
    out_and = batch_search(
        spark, bidx, [queries[2]], k=10, combine="and", mode="myaku"
    )
    assert out_and.count() == 0
    assert s.search(queries[2][1], k=10, combine="and") == []


def test_batch_excludes_tombstones(spark, bidx):
    from myaku_spark.plans.incremental import load_tombstones

    tombs = load_tombstones(spark, bidx)
    assert tombs  # fixture re-indexed one url
    terms = _terms_by_df(spark, bidx)
    out = batch_search(
        spark, bidx, [("q", [terms[0]])], k=50, combine="or", mode="myaku"
    )
    docs = {r.doc_id for r in out.collect()}
    assert docs and not docs & tombs


def test_conjunctive_block_prefilter(spark, bidx):
    # AND batches prune non-rare terms' blocks to the rarest term's doc
    # ranges BEFORE the shuffle; results are provably unchanged and the
    # candidate block set genuinely shrinks for range-blocked head terms.
    from pyspark.sql import functions as F2

    from myaku_spark.operators.batch_search import _joined_blocks
    from myaku_spark.plans import catalog

    rows = (
        spark.read.parquet(f"{bidx}/term_stats")
        .groupBy("term").agg(F2.sum("df").alias("df"))
        .orderBy(F2.desc("df"), "term").collect()
    )
    head, rare = rows[0].term, rows[-1].term
    queries = [("q0", [head, rare])]
    on = batch_search(
        spark, bidx, queries, k=10, combine="and", prefilter_and=True
    )
    off = batch_search(
        spark, bidx, queries, k=10, combine="and", prefilter_and=False
    )
    s = IndexSearcher(spark, bidx, mode="myaku")
    expect = s.search([head, rare], k=10, combine="and")
    got_on = sorted((r.rank, r.score, r.doc_id) for r in on.collect())
    got_off = sorted((r.rank, r.score, r.doc_id) for r in off.collect())
    assert got_on == got_off
    assert [(s_, d_) for _, s_, d_ in got_on] == expect
    assert expect == s.search([head, rare], k=10, combine="and",
                              exhaustive=True)

    _, paths = catalog.resolve(bidx)
    qdf = spark.createDataFrame(
        [("q0", [head, rare])], "query_id string, terms array<string>"
    )
    qterms = qdf.select(
        "query_id",
        F2.size(F2.array_distinct("terms")).alias("n_terms"),
        F2.explode(F2.array_distinct("terms")).alias("term"),
    )
    n_on = _joined_blocks(
        spark, paths, qterms, [head, rare], "and", True
    ).count()
    n_off = _joined_blocks(
        spark, paths, qterms, [head, rare], "and", False
    ).count()
    assert n_on < n_off  # head-term blocks outside the rare ranges dropped


def test_batch_plan_contract(spark, bidx, jobs_run_by):
    # List input: the query frame is a LocalRelation (no scan of pickled
    # rows, whose broadcast ran a job on the Python workers), and the WAND
    # stage runs one task per core behind a repartition by number, which
    # AQE does not coalesce into one task.
    import re

    terms = _terms_by_df(spark, bidx)
    queries = [(f"q{i}", [terms[i], terms[i + 3]]) for i in range(16)]
    width = spark.sparkContext.defaultParallelism
    out = batch_search(spark, bidx, queries, k=10, combine="and")
    rows = []
    jobs = jobs_run_by(lambda: rows.extend(out.collect()))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan
    exchanges = re.findall(
        r"Exchange hashpartitioning\(query_id#\d+, (\d+)\)", plan
    )
    # (The string holds the final and the initial plan.)
    assert exchanges and set(exchanges) == {str(width)}, plan
    # The last job runs the WAND stage alone (its input shuffle ran in
    # an earlier job), one task per partition.
    assert jobs[max(jobs)] == [width], jobs
    # Same results as the per-query driver WAND.
    got = {}
    for r in rows:
        got.setdefault(r.query_id, []).append((r.rank, r.score, r.doc_id))
    s = IndexSearcher(spark, bidx, mode="myaku")
    assert any(got.values())
    for qid, qterms in queries:
        expect = s.search(qterms, k=10, combine="and")
        batch = [(s_, d_) for _, s_, d_ in sorted(got.get(qid, []))]
        assert batch == expect, qid


def test_batch_auto_prefilter_is_logged(spark, bidx, caplog):
    import logging

    from myaku_spark.operators.batch_search import (
        PREFILTER_MIN_SEGMENT_BYTES,
        _auto_prefilter,
    )

    terms = _terms_by_df(spark, bidx)
    with caplog.at_level(logging.INFO, "myaku_spark.operators.batch_search"):
        batch_search(spark, bidx, [("q", [terms[0]])], k=10, combine="and")
        # A store that is not a local dir cannot be measured: assume large.
        assert _auto_prefilter("s3a://bucket/idx/segments") is True
    msgs = [r.getMessage() for r in caplog.records]
    assert len(msgs) == 2, msgs
    small, remote = msgs
    assert small.startswith("batch prefilter_and=auto -> False"), small
    footprint = int(small.split("segment footprint ")[1].split(" B")[0])
    assert 0 < footprint < PREFILTER_MIN_SEGMENT_BYTES
    assert f"PREFILTER_MIN_SEGMENT_BYTES={PREFILTER_MIN_SEGMENT_BYTES}" in small
    assert remote.startswith("batch prefilter_and=auto -> True"), remote
    assert "assume large" in remote
