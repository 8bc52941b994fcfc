"""Block-max WAND correctness: WAND top-k must equal exhaustive top-k on
every randomized query, for both scorers and both AND/OR modes — the
oracle contract from SURVEY §7 Phase 4."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from myaku_spark.operators.codec import encode_blocks_batch
from myaku_spark.operators.wand import (
    BM25Scorer,
    MyakuScorer,
    TermCursor,
    _Block,
    exhaustive_topk,
    stats_for_bm25,
    wand_topk_and,
    wand_topk_or,
)


def make_cursor(postings, scorer, block_size=4):
    """postings: list of (doc_id, tf, payload) sorted by doc."""
    doc_ids, tfs, payload = np.array(sorted(postings), dtype=np.int64).T
    doc_off = np.append(np.arange(0, len(doc_ids), block_size), len(doc_ids))
    blobs, meta = encode_blocks_batch(doc_off, doc_ids, tfs, payload)
    blocks = [
        _Block(
            min_doc=int(meta["min_doc"][i]),
            max_doc=int(meta["max_doc"][i]),
            meta={
                "max_score": int(meta["max_score"][i]),
                "max_tf": int(meta["max_tf"][i]),
                "min_dl": int(payload[doc_off[i] : doc_off[i + 1]].min()),
            },
            blob=blob,
        )
        for i, blob in enumerate(blobs)
    ]
    return TermCursor("t", blocks, scorer)


posting_lists = st.lists(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=500),  # doc_id
            st.integers(min_value=1, max_value=6),  # tf
            st.integers(min_value=1, max_value=900),  # payload
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    ),
    min_size=1,
    max_size=4,
)


@given(posting_lists, st.integers(min_value=1, max_value=12))
@settings(max_examples=120, deadline=None)
def test_wand_or_equals_exhaustive_myaku(lists, k):
    mk = lambda: [make_cursor(pl, MyakuScorer()) for pl in lists]
    got = wand_topk_or(mk(), k)
    exp = exhaustive_topk(mk(), k, mode="or")
    assert got == exp


@given(posting_lists, st.integers(min_value=1, max_value=12))
@settings(max_examples=120, deadline=None)
def test_wand_and_equals_exhaustive_myaku(lists, k):
    mk = lambda: [make_cursor(pl, MyakuScorer()) for pl in lists]
    got = wand_topk_and(mk(), k)
    exp = exhaustive_topk(mk(), k, mode="and")
    assert got == exp


@given(posting_lists, st.integers(min_value=1, max_value=10))
@settings(max_examples=80, deadline=None)
def test_wand_or_equals_exhaustive_bm25(lists, k):
    n_docs = 1000
    avgdl = 120.0

    def scorers():
        return [
            BM25Scorer(idf=stats_for_bm25(n_docs, len(pl)), avgdl=avgdl)
            for pl in lists
        ]

    mk = lambda: [
        make_cursor(pl, s) for pl, s in zip(lists, scorers())
    ]
    got = wand_topk_or(mk(), k)
    exp = exhaustive_topk(mk(), k, mode="or")
    assert [d for _, d in got] == [d for _, d in exp]
    for (gs, _), (es, _) in zip(got, exp):
        assert abs(gs - es) < 1e-9


@given(posting_lists, st.integers(min_value=1, max_value=10))
@settings(max_examples=80, deadline=None)
def test_wand_and_equals_exhaustive_bm25(lists, k):
    n_docs = 1000
    avgdl = 120.0
    mk = lambda: [
        make_cursor(pl, BM25Scorer(idf=stats_for_bm25(n_docs, len(pl)), avgdl=avgdl))
        for pl in lists
    ]
    got = wand_topk_and(mk(), k)
    exp = exhaustive_topk(mk(), k, mode="and")
    assert [d for _, d in got] == [d for _, d in exp]


def test_skip_to_block_boundaries():
    pl = [(i * 10, 1, 5) for i in range(20)]
    c = make_cursor(pl, MyakuScorer(), block_size=4)
    c.skip_to(95)
    assert c.cur_doc == 100
    c.skip_to(1000)
    assert c.exhausted
