"""Two-phase segment access (metadata first, blobs on WAND demand) and
the per-user next-page cache.

The round-1 scale risk was the query path collecting ENTIRE posting
lists (blobs included) to the driver; these tests pin the fix: bytes
shipped to the driver are bounded by the blocks WAND actually opens,
while WAND == exhaustive rank-identity still holds.
"""

import pytest
from pyspark.sql import functions as F

from myaku_spark.operators.phrase import batch_phrase_search, decode_postings
from myaku_spark.operators.search import IndexSearcher, UserPageCache
from myaku_spark.operators.segments import build_segments, write_segments
from myaku_spark.plans.build_index import build_index
from myaku_spark.sources.pages import synth_pages_df


@pytest.fixture(scope="module")
def head_idx(spark, tmp_path_factory):
    """A synthetic index with one head term (1000 docs, range-blocked),
    a second range-blocked term ``next`` that follows it in every third
    doc, and one rare term (1 doc), written in the on-disk index
    layout."""
    d = str(tmp_path_factory.mktemp("twophase"))
    rows = [("head", i, 1, (i * 37) % 1000, [0], [4]) for i in range(1000)]
    rows += [("next", i, 1, 1, [4], [4]) for i in range(0, 1000, 3)]
    rows.append(("rare", 500, 1, 999999, [9], [4]))
    postings = spark.createDataFrame(
        rows,
        "term string, doc_id long, tf long, score long, "
        "starts array<int>, lens array<int>",
    )
    segs = build_segments(
        postings,
        payload_col="score",
        head_df_threshold=8,
        block_doc_range=64,
    )
    write_segments(segs, f"{d}/segments/group=0")
    spark.createDataFrame(
        [(i, f"https://synth.example.jp/{i}") for i in range(1000)],
        ["doc_id", "url"],
    ).write.parquet(f"{d}/docs/group=0")
    return d


def test_wand_and_fetches_bounded_bytes(spark, head_idx):
    s = IndexSearcher(spark, head_idx, mode="myaku")
    s.store.prefetch_blocks = 2
    s.store.eager_postings = 0  # force the lazy head-term path
    hits = s.search(["head", "rare"], k=3, combine="and")
    assert [d for _, d in hits] == [500]
    total = (  # the query terms' blobs only
        spark.read.parquet(f"{head_idx}/segments")
        .filter(F.col("term").isin("head", "rare"))
        .agg(F.sum(F.length("blob")))
        .collect()[0][0]
    )
    # The head term has ~16 range blocks; the AND skip pattern opens the
    # first block (cursor init) and the block containing doc 500, plus
    # the prefetch overshoot — a strict subset of the posting list.
    assert 0 < s.store.bytes_fetched < total
    n_head_blocks = (
        spark.read.parquet(f"{head_idx}/segments")
        .filter(F.col("term") == "head")
        .count()
    )
    assert n_head_blocks >= 10  # head term is actually range-blocked
    # Block-level accounting: at most init window + target window + rare.
    assert s.store.fetch_jobs <= 4


def test_twophase_wand_equals_exhaustive(spark, head_idx):
    s1 = IndexSearcher(spark, head_idx, mode="myaku")
    s2 = IndexSearcher(spark, head_idx, mode="myaku")
    for q, combine in [(["head"], "or"), (["head", "rare"], "and")]:
        wand = s1.search(q, k=10, combine=combine)
        ex = s2.search(q, k=10, combine=combine, exhaustive=True)
        assert wand == ex
    # Exhaustive fetched everything; WAND fetched no more than that.
    assert s1.store.bytes_fetched <= s2.store.bytes_fetched


def test_small_terms_prefetch_in_one_job(spark, head_idx):
    # Terms under the eager-postings threshold fetch ALL their blobs in
    # one batched job (metadata job aside) — no per-window job latency
    # for ordinary queries.
    s = IndexSearcher(spark, head_idx, mode="myaku")
    s.search(["head", "rare"], k=3, combine="and")
    assert s.store.fetch_jobs == 1
    # Repeat query: everything cached, no new jobs.
    s.search(["head", "rare"], k=3, combine="and")
    assert s.store.fetch_jobs == 1


def test_metadata_scan_excludes_blob_column(spark, head_idx):
    # Neither metadata read may carry the blob column in its scan schema
    # (column pruning keeps blob pages unread): the store's pyarrow read,
    # and the Spark scan that batch, phrase and previews read through.
    from myaku_spark.operators.segments import read_term_segments
    from myaku_spark.operators.search import _META_COLS

    s = IndexSearcher(spark, head_idx, mode="myaku")
    scans = []
    scanner = s.store._scanner

    def recording(terms, columns, block_ids=None):
        scans.append((columns, scanner(terms, columns, block_ids)))
        return scans[-1][1]

    s.store._scanner = recording
    s.store.ensure_terms(["head", "rare"])
    assert [cols for cols, _ in scans] == [_META_COLS]
    assert "blob" not in scans[0][1].projected_schema.names
    assert s.store.meta["head"] and s.store.meta["rare"]
    plan = (
        read_term_segments(spark, f"{head_idx}/segments", ["head"])
        .select(*_META_COLS)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    scan_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan_lines and all("blob" not in ln for ln in scan_lines)


def _broadcast_join_hydrate(spark, docs_path, results):
    """The previous hydrate plan: a local result relation broadcast-
    joined to a fresh docs read, ordered by a global sort."""
    rdf = spark.createDataFrame(
        [(int(d), float(s), i + 1) for i, (s, d) in enumerate(results)],
        ["doc_id", "score", "rank"],
    )
    docs = spark.read.parquet(docs_path)
    return docs.join(F.broadcast(rdf), "doc_id").orderBy("rank")


def test_hydrate_contract_one_scan(spark, head_idx, jobs_run_by):
    s = IndexSearcher(spark, head_idx, mode="myaku")
    results = s.search(["head"], k=7, combine="or")
    assert len(results) == 7
    got = s.hydrate(results)
    want = _broadcast_join_hydrate(spark, f"{head_idx}/docs", results)
    assert got.columns == want.columns
    assert got.dtypes == want.dtypes
    assert dict(got.dtypes)["score"] == "double"
    assert dict(got.dtypes)["rank"] == "bigint"
    rows = got.collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in want.collect()]
    assert [r.rank for r in rows] == list(range(1, 8))
    assert [(r.score, r.doc_id) for r in rows] == results
    # Empty results keep the old two-column schema.
    empty = s.hydrate([])
    assert empty.dtypes == [("doc_id", "bigint"), ("score", "double")]
    assert empty.collect() == []
    # A hydrate is one pyarrow read into a LocalRelation: no Spark job,
    # for an empty page too.
    page = s.search(["head"], k=3, combine="or")
    assert len(jobs_run_by(lambda: s.hydrate(page).collect())) == 0
    assert len(jobs_run_by(lambda: s.hydrate([]).collect())) == 0


@pytest.mark.parametrize("mode", ["myaku", "bm25"])
def test_interactive_request_runs_no_spark_job(
    spark, tmp_path, jobs_run_by, mode
):
    # A request is search + hydrate(...).collect(). Block metadata, blob
    # fetches, BM25 df and hydration are pyarrow reads of the searcher's
    # file listing, so neither a searcher's first request, a warm repeat,
    # nor a cache miss (a fresh term: metadata plus blob read) starts a
    # Spark job.
    d = str(tmp_path / mode)
    build_index(spark, synth_pages_df(spark, 30, partitions=2), d,
                n_groups=1, now="2026-08-01 00:00:00", mode=mode)
    top = [
        r.term
        for r in spark.read.parquet(f"{d}/term_stats")
        .orderBy(F.desc("df"), "term")
        .limit(3)
        .collect()
    ]
    s = IndexSearcher(spark, d, mode=mode)
    got = []

    def request(terms, combine="and"):
        got.append(s.hydrate(s.search(terms, k=5, combine=combine)).collect())

    assert jobs_run_by(lambda: request(top[:1])) == {}
    assert jobs_run_by(lambda: request(top[:1])) == {}
    fetches = s.store.fetch_jobs
    assert jobs_run_by(lambda: request(top[1:], combine="or")) == {}
    assert s.store.fetch_jobs == fetches + 1
    assert all(len(rows) == 5 for rows in got)
    want = s.search(top[1:], k=5, combine="or", exhaustive=True)
    assert [(r.score, r.doc_id) for r in got[-1]] == want
    # A phrase request runs on the same store: cold (fresh terms, whose
    # metadata and blobs are read now) and warm, no Spark job either
    # time, and the batch plan's answer both times.
    occ = {}  # (doc, start) -> (term, end)
    for r in decode_postings(spark.read.parquet(f"{d}/segments")).collect():
        for st, ln in zip(r.starts, r.lens):
            occ[(r.doc_id, st)] = (r.term, st + ln)
    phrase = next(
        [t, occ[(doc, end)][0]]
        for (doc, _), (t, end) in sorted(occ.items())
        if (doc, end) in occ and not {t, occ[(doc, end)][0]} & set(top)
    )
    want = [
        (r.doc_id, r.phrase_tf, list(r.match_starts))
        for r in _batch_phrase(spark, d, phrase, k=5)
    ]
    assert want
    for _ in ("cold", "warm"):
        hits = []
        assert jobs_run_by(
            lambda: hits.append(s.search_phrase(phrase, k=5))
        ) == {}
        assert hits == [want]


def _batch_phrase(spark, index_dir, terms, k):
    """``terms``' top-k rows from the batch phrase plan, in rank order."""
    return (
        batch_phrase_search(spark, index_dir, [("q", terms)], k=k)
        .orderBy("rank")
        .collect()
    )


def test_phrase_walks_rare_term_windows(
    spark, head_idx, jobs_run_by, monkeypatch
):
    # The rarer phrase term ("next": every third doc, 16 range blocks)
    # is walked prefetch_blocks blocks at a time, and each window reads
    # only the "head" blocks overlapping its doc range: the request runs
    # no Spark job and equals the batch plan at every k.
    from myaku_spark.operators import phrase
    from myaku_spark.operators.search import _doc_windows

    s = IndexSearcher(spark, head_idx, mode="myaku")
    s.store.prefetch_blocks = 2
    s.store.eager_postings = 0  # force the lazy windowed path
    s.store.ensure_terms(["head", "next"])
    meta = {t: s.store.meta[t] for t in ("head", "next")}
    windows = [hi for _, _, hi in _doc_windows(meta["next"], 2)]
    assert len(windows) == 8  # 16 blocks of "next", 2 per window
    held = []  # the blobs the store holds when each window is matched
    kernel = phrase.phrase_topk

    def recording(*args, **kwargs):
        held.append({(t, b) for t, _, b in s.store.blobs})
        return kernel(*args, **kwargs)

    monkeypatch.setattr(phrase, "phrase_topk", recording)
    got = {}
    for k in (1000, 5):
        hits = []
        assert jobs_run_by(
            lambda: hits.append(s.search_phrase(["head", "next"], k=k))
        ) == {}
        want = [
            (r.doc_id, r.phrase_tf, list(r.match_starts))
            for r in _batch_phrase(spark, head_idx, ["head", "next"], k)
        ]
        assert hits == [want]
        got[k] = hits[0]
    assert len(got[1000]) == 334 and got[5] == got[1000][:5]
    # Both terms are blocked on the same 64-doc ranges, so when the cold
    # request matches window i the store holds exactly the blocks of
    # both terms that start at or before the window's last doc: nothing
    # is fetched ahead of the window being matched.
    assert len(held) == 2 * len(windows)
    for hi, blocks in zip(windows, held):
        assert blocks == {
            (t, r.block_id) for t, rows in meta.items() for r in rows
            if r.min_doc <= hi
        }


def test_user_page_cache_semantics():
    t = [0.0]
    c = UserPageCache(clock=lambda: t[0])
    c.set("u1", 1, ["猫"], "and", 2, [(9.0, 7), (8.0, 3)])
    # Same user+query+page → hit; anything else → miss.
    assert c.get("u1", ["猫"], "and", 2) == [(9.0, 7), (8.0, 3)]
    assert c.get("u2", ["猫"], "and", 2) is None
    assert c.get("u1", ["犬"], "and", 2) is None
    assert c.get("u1", ["猫"], "or", 2) is None
    assert c.get("u1", ["猫"], "and", 3) is None
    # A new set for the same (user, direction) overwrites the slot.
    c.set("u1", 1, ["猫"], "and", 3, [(7.0, 1)])
    assert c.get("u1", ["猫"], "and", 2) is None
    assert c.get("u1", ["猫"], "and", 3) == [(7.0, 1)]
    # 7-day TTL (cache.py:327).
    t[0] += 60 * 60 * 24 * 7 + 1
    assert c.get("u1", ["猫"], "and", 3) is None


def test_search_page_uses_next_page_cache(spark, head_idx):
    s = IndexSearcher(spark, head_idx, mode="myaku")
    calls = {"n": 0}
    orig = s.search

    def counted(*a, **kw):
        calls["n"] += 1
        return orig(*a, **kw)

    s.search = counted
    p1 = s.search_page(["head"], page_num=1, k=3, combine="or", user_id="u9")
    assert calls["n"] == 1
    r1 = [(r.doc_id, r.score) for r in p1.collect()]
    # Page 2 was pre-cached into the user's forward slot → no new search.
    p2 = s.search_page(["head"], page_num=2, k=3, combine="or", user_id="u9")
    assert calls["n"] == 1
    r2 = [(r.doc_id, r.score) for r in p2.collect()]
    assert r1 and r2 and not set(d for d, _ in r1) & set(d for d, _ in r2)
    # An uncached page (or another user) recomputes.
    s.search_page(["head"], page_num=2, k=3, combine="or", user_id="other")
    assert calls["n"] == 2
    # Cached page equals the recomputed page (rank identity through the
    # cache).
    fresh = IndexSearcher(spark, head_idx, mode="myaku")
    expect = [(d, sc) for sc, d in fresh.search(["head"], k=6, combine="or")[3:6]]
    assert sorted(r2) == sorted(expect)


def test_search_page_async_precompute(spark, head_idx):
    # The reference fires its surrounding-page cache fill AFTER the
    # response via a celery worker (views.py:364-365, tasks.py:13-43);
    # async_precompute mirrors that: the page returns from a k*page_num
    # search and the ±1 slots fill on a background worker.
    s = IndexSearcher(spark, head_idx, mode="myaku")
    calls = {"n": 0}
    orig = s.search

    def counted(*a, **kw):
        calls["n"] += 1
        return orig(*a, **kw)

    s.search = counted
    p1 = s.search_page(
        ["head"], page_num=1, k=3, combine="or", user_id="ua",
        async_precompute=True,
    )
    r1 = [(r.doc_id, r.score) for r in p1.collect()]
    s.join_precompute()
    assert calls["n"] == 2  # inline page + background precompute
    p2 = s.search_page(
        ["head"], page_num=2, k=3, combine="or", user_id="ua",
        async_precompute=True,
    )
    assert calls["n"] == 2  # served from the forward slot, no new search
    r2 = [(r.doc_id, r.score) for r in p2.collect()]
    assert r1 and r2 and not {d for d, _ in r1} & {d for d, _ in r2}
    # Async page content equals the synchronous path's page.
    fresh = IndexSearcher(spark, head_idx, mode="myaku")
    sync1 = fresh.search_page(["head"], page_num=1, k=3, combine="or")
    assert sorted(r1) == sorted(
        (r.doc_id, r.score) for r in sync1.collect()
    )


def test_page_cache_table_semantics(tmp_path):
    from myaku_spark.operators.topk_cache import PageCacheTable

    t = [0.0]
    c = PageCacheTable(str(tmp_path / "pc"), clock=lambda: t[0])
    c.set("u1", 1, ["猫"], "and", 2, [(9.0, 7), (8.0, 3)])
    assert c.get("u1", ["猫"], "and", 2) == [(9.0, 7), (8.0, 3)]
    assert c.get("u2", ["猫"], "and", 2) is None
    assert c.get("u1", ["犬"], "and", 2) is None
    assert c.get("u1", ["猫"], "or", 2) is None
    c.set("u1", 1, ["猫"], "and", 3, [(7.0, 1)])
    assert c.get("u1", ["猫"], "and", 2) is None
    assert c.get("u1", ["猫"], "and", 3) == [(7.0, 1)]
    # TTL + gc (the Redis-expiry analog).
    t[0] += PageCacheTable.TTL_SECONDS + 1
    assert c.get("u1", ["猫"], "and", 3) is None
    assert c.gc() == 1
    assert c.gc() == 0


def test_page_cache_shared_across_searchers(spark, head_idx, tmp_path):
    # r3 verdict #7: the reference's Redis next-page cache survives
    # across serving processes (cache.py:316-459) — a page precomputed
    # by one IndexSearcher must be served by a SECOND instance without
    # re-running WAND.
    pc = str(tmp_path / "shared_pcache")
    s1 = IndexSearcher(spark, head_idx, mode="myaku", page_cache_dir=pc)
    s1.search_page(["head"], page_num=1, k=3, combine="or", user_id="u7")

    s2 = IndexSearcher(spark, head_idx, mode="myaku", page_cache_dir=pc)
    calls = {"n": 0}
    orig = s2.search

    def counted(*a, **kw):
        calls["n"] += 1
        return orig(*a, **kw)

    s2.search = counted
    p2 = s2.search_page(["head"], page_num=2, k=3, combine="or", user_id="u7")
    assert calls["n"] == 0  # served from the shared table
    got = [(r.doc_id, r.score) for r in p2.collect()]
    fresh = IndexSearcher(spark, head_idx, mode="myaku")
    expect = [
        (d, sc) for sc, d in fresh.search(["head"], k=6, combine="or")[3:6]
    ]
    assert sorted(got) == sorted(expect)


def test_page_cache_table_empty_page_and_namespace(tmp_path):
    from myaku_spark.operators.topk_cache import PageCacheTable

    base = str(tmp_path / "pcns")
    c1 = PageCacheTable(base, namespace="v0")
    # Empty pages are servable slots (past-the-last-page precompute).
    c1.set("u1", 1, ["猫"], "and", 9, [])
    assert c1.get("u1", ["猫"], "and", 9) == []
    # A searcher on another catalog version misses by key — stale pages
    # are never served across snapshots.
    c2 = PageCacheTable(base, namespace="v1")
    c1.set("u1", 1, ["猫"], "and", 2, [(9.0, 7)])
    assert c1.get("u1", ["猫"], "and", 2) == [(9.0, 7)]
    assert c2.get("u1", ["猫"], "and", 2) is None


def test_page_cache_corrupt_slot_is_miss_and_gc_reclaims(tmp_path, caplog):
    # ADVICE r4: a truncated/corrupt slot.parquet (crash mid-write on a
    # non-atomic filesystem) raises ArrowInvalid from pyarrow — the
    # serving path must see a MISS, and gc() must reclaim the slot. Both
    # swallowed errors are logged with the slot path.
    import logging
    import os

    from myaku_spark.operators.topk_cache import PageCacheTable

    t = [0.0]
    c = PageCacheTable(str(tmp_path / "pc"), clock=lambda: t[0])
    c.set("u1", 1, ["猫"], "and", 2, [(9.0, 7)])
    slot_dir = c._slot_dir("u1", 1)
    slot = os.path.join(slot_dir, "slot.parquet")
    with open(slot, "wb") as f:
        f.write(b"PAR1 this is not a parquet footer")
    with caplog.at_level(logging.WARNING, "myaku_spark.operators.topk_cache"):
        assert c.get("u1", ["猫"], "and", 2) is None  # miss, not a raise
        assert c.gc() == 1
    assert not os.path.isdir(slot_dir)
    msgs = [r.getMessage() for r in caplog.records]
    assert len(msgs) == 2, msgs
    assert all(slot in m and "ArrowInvalid" in m for m in msgs), msgs
    assert "miss" in msgs[0] and "reclaim" in msgs[1], msgs


def test_page_cache_gc_unlinks_stale_tmp_files(tmp_path, monkeypatch, caplog):
    import logging
    import os

    from myaku_spark.operators.topk_cache import PageCacheTable

    t = [0.0]
    c = PageCacheTable(str(tmp_path / "pc"), clock=lambda: t[0])
    c.set("u1", 1, ["猫"], "and", 2, [(9.0, 7)])
    slot_dir = c._slot_dir("u1", 1)
    orphan = os.path.join(slot_dir, ".tmp-dead-process")
    stuck = os.path.join(slot_dir, ".tmp-stuck-process")
    old = 1.0
    for path in (orphan, stuck):
        with open(path, "wb") as f:
            f.write(b"partial write")
        os.utime(path, (old, old))
    # Slot itself is fresh (expiry = clock+TTL) but must refresh the
    # clock so "now - mtime > TTL" holds for the orphan.
    t[0] = PageCacheTable.TTL_SECONDS + 10.0
    c.set("u1", 1, ["猫"], "and", 2, [(9.0, 7)])  # re-arm expiry
    real_unlink = os.unlink

    def unlink(path, *a, **k):
        if path == stuck:
            raise PermissionError(13, "Permission denied", path)
        return real_unlink(path, *a, **k)

    monkeypatch.setattr(os, "unlink", unlink)
    with caplog.at_level(logging.WARNING, "myaku_spark.operators.topk_cache"):
        assert c.gc() == 0  # live slot kept...
    assert not os.path.exists(orphan)  # ...orphan temp reclaimed
    assert os.path.exists(stuck)
    msgs = [r.getMessage() for r in caplog.records]
    assert len(msgs) == 1, msgs
    assert stuck in msgs[0] and "PermissionError" in msgs[0], msgs
