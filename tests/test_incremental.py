"""Incremental re-index (changed-url detection, tombstones, delta group)
and partition-pruned recency rescore."""

import datetime as dt
import shutil

import pytest
from pyspark.sql import functions as F

from myaku_spark.operators.search import IndexSearcher
from myaku_spark.plans.build_index import build_index
from myaku_spark.plans.incremental import (
    detect_changes,
    docs_needing_rescore,
    incremental_update,
    load_tombstones,
    rescore_index,
)
from myaku_spark.sources.pages import PAGES_SCHEMA, synth_page, synth_pages_df

NOW = "2026-08-01 00:00:00"
N = 80


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("incr_idx"))
    pages = synth_pages_df(spark, N, partitions=4)
    build_index(spark, pages, d, n_groups=2, now=NOW)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _modified_pages(spark, n_changed=3, n_new=2):
    rows = []
    for i in range(n_changed):  # existing urls, new content (new HTML —
        # change detection hashes the EXTRACTED text)
        p_old = synth_page(i)
        p_new = synth_page(i + 5000)
        rows.append(
            (
                p_old["url"],
                dt.datetime(2026, 2, 1),
                p_new["html"],
                p_new["text"],
                "ja",
            )
        )
    for i in range(N, N + n_new):  # brand-new urls
        p = synth_page(i)
        rows.append((p["url"], p["warc_ts"], p["html"], p["text"], "ja"))
    return rows


def test_detect_changes(spark, idx):
    base = synth_pages_df(spark, N, partitions=4)
    changed, tomb = detect_changes(spark, idx, base)
    # Re-submitting identical pages → nothing changed, no tombstones.
    assert changed.count() == 0
    assert tomb.count() == 0

    mod = spark.createDataFrame(_modified_pages(spark), PAGES_SCHEMA)
    changed2, tomb2 = detect_changes(spark, idx, mod)
    assert changed2.count() == 5  # 3 modified + 2 new
    assert tomb2.count() == 3  # old versions of the 3 modified urls


def test_incremental_update_and_tombstones(spark, idx):
    mod = spark.createDataFrame(_modified_pages(spark), PAGES_SCHEMA)
    row = incremental_update(spark, idx, mod, now=NOW)
    assert row is not None and row["docs"] == 5
    tombs = load_tombstones(spark, idx)
    assert len(tombs) == 3

    # Searcher must not return tombstoned docs.
    s = IndexSearcher(spark, idx, mode="myaku")
    top_term = (
        spark.read.parquet(f"{idx}/term_stats")
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
        .orderBy(F.desc("df"))
        .limit(1)
        .collect()[0]
        .term
    )
    hits = s.search([top_term], k=50)
    assert all(d not in tombs for _, d in hits)
    # WAND still equals exhaustive under tombstones.
    assert hits == s.search([top_term], k=50, exhaustive=True)

    # Idempotence: same delta again → no further change.
    assert incremental_update(spark, idx, mod, now=NOW) is None


def test_reverted_content_reindexed(spark, tmp_path):
    # A url whose content reverts to a previously-indexed (now
    # tombstoned) text_hash must be RE-indexed, not skipped — otherwise
    # the old tombstone masks it forever and the page becomes
    # unsearchable (replace-on-write parity, database.py:396-434).
    d = str(tmp_path / "revidx")
    pages = synth_pages_df(spark, 10, partitions=2)
    build_index(spark, pages, d, n_groups=1, now=NOW)
    p0, pX = synth_page(0), synth_page(7000)
    mod = spark.createDataFrame(
        [(p0["url"], dt.datetime(2026, 2, 1), pX["html"], pX["text"], "ja")],
        PAGES_SCHEMA,
    )
    assert incremental_update(spark, d, mod, now=NOW)["docs"] == 1
    # Revert to the ORIGINAL content.
    rev = spark.createDataFrame(
        [(p0["url"], dt.datetime(2026, 3, 1), p0["html"], p0["text"], "ja")],
        PAGES_SCHEMA,
    )
    changed, tomb = detect_changes(spark, d, rev)
    assert changed.count() == 1  # NOT classified 'unchanged'
    row = incremental_update(spark, d, rev, now=NOW)
    assert row is not None and row["docs"] == 1
    # The reverted doc is live: exactly one non-tombstoned docs row for
    # the url, carrying the original text_hash.
    tombs = load_tombstones(spark, d)
    live = [
        r
        for r in spark.read.parquet(f"{d}/docs")
        .filter(F.col("url") == p0["url"])
        .collect()
        if r.doc_id not in tombs
    ]
    assert len(live) == 1


def test_dbwide_content_dedup_on_detect(spark, idx):
    # A NEW url whose text equals an existing live url's text is skipped
    # (first-writer-wins across the whole corpus, can_store_article
    # semantics, index_build.py:116-143).
    p3 = synth_page(3)  # content already indexed under its own url
    dup = spark.createDataFrame(
        [("https://synth.example.jp/copycat", dt.datetime(2026, 2, 1),
          p3["html"], p3["text"], "ja")],
        PAGES_SCHEMA,
    )
    changed, tomb = detect_changes(spark, idx, dup)
    assert changed.count() == 0
    assert tomb.count() == 0


def test_corpus_stats_exclude_tombstones(spark, tmp_path):
    d = str(tmp_path / "csidx")
    pages = synth_pages_df(spark, 12, partitions=2)
    build_index(spark, pages, d, n_groups=1, now=NOW)
    p1, pY = synth_page(1), synth_page(8000)
    mod = spark.createDataFrame(
        [(p1["url"], dt.datetime(2026, 2, 1), pY["html"], pY["text"], "ja")],
        PAGES_SCHEMA,
    )
    incremental_update(spark, d, mod, now=NOW)
    stats = spark.read.parquet(f"{d}/corpus_stats").collect()[0]
    tombs = load_tombstones(spark, d)
    docs = spark.read.parquet(f"{d}/docs").collect()
    live = [r for r in docs if r.doc_id not in tombs]
    # n_docs counts only live docs (12, not 13); avgdl over live dl.
    assert int(stats.n_docs) == len(live) == 12
    expect_avgdl = sum(r.dl for r in live) / len(live)
    assert abs(float(stats.avgdl) - expect_avgdl) < 1e-9


def test_search_and_missing_term_returns_empty(spark, idx):
    # Conjunctive search with a term absent from the index returns [] —
    # never intersects only the present terms (ADVICE round 1).
    s = IndexSearcher(spark, idx, mode="myaku")
    top_term = (
        spark.read.parquet(f"{idx}/term_stats")
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
        .orderBy(F.desc("df"))
        .limit(1)
        .collect()[0]
        .term
    )
    assert s.search([top_term], k=5)  # sanity: present alone → hits
    assert s.search([top_term, "zz未知語zz"], k=5, combine="and") == []


def test_incremental_after_compact_reaches_readers(spark, tmp_path):
    # ADVICE r2 HIGH: a delta group written AFTER a compaction must land
    # under the catalog-resolved versioned dirs — otherwise the
    # tombstone lands in the live version while the replacement doc
    # lands in directories nothing reads (vanishing from search and
    # re-detected as changed forever).
    from myaku_spark.plans import catalog
    from myaku_spark.plans.compact import compact_index

    d = str(tmp_path / "cai")
    pages = synth_pages_df(spark, 30, partitions=2)
    build_index(spark, pages, d, n_groups=1, now=NOW)
    assert compact_index(spark, d)["version"] == 1

    p0, pX, pN = synth_page(0), synth_page(6000), synth_page(777)
    mod = spark.createDataFrame(
        [
            (p0["url"], dt.datetime(2026, 3, 1), pX["html"], pX["text"], "ja"),
            (pN["url"], pN["warc_ts"], pN["html"], pN["text"], "ja"),
        ],
        PAGES_SCHEMA,
    )
    row = incremental_update(spark, d, mod, now=NOW)
    assert row is not None and row["docs"] == 2
    # Idempotent: resubmitting finds nothing changed (the delta is
    # readable, so detection does not loop forever).
    assert incremental_update(spark, d, mod, now=NOW) is None
    # The re-indexed url is LIVE with the new content hash.
    tombs = load_tombstones(spark, d)
    docs = spark.read.parquet(catalog.path_of(d, "docs"))
    live = [
        r
        for r in docs.filter(F.col("url") == p0["url"]).collect()
        if r.doc_id not in tombs
    ]
    assert len(live) == 1 and live[0].doc_id >= (10_000 << 40)
    # Delta postings are searchable: a term indexed by the delta group
    # must return delta doc ids through the searcher.
    delta_term = (
        spark.read.parquet(catalog.path_of(d, "term_stats"))
        .filter(F.col("group") >= 10_000)
        .orderBy(F.desc("df"))
        .limit(1)
        .collect()[0]
        .term
    )
    s = IndexSearcher(spark, d, mode="myaku")
    hits = s.search([delta_term], k=50)
    assert any((doc >> 40) >= 10_000 for _, doc in hits)
    # A second compaction folds the delta + tombstone cleanly.
    out2 = compact_index(spark, d)
    assert out2["tombstones_applied"] == 1
    s2 = IndexSearcher(spark, d, mode="myaku")
    assert s2.search([delta_term], k=50) == hits


def test_searcher_snapshot_across_incremental_update(spark, tmp_path):
    # A searcher reads each component's file listing on first use: after
    # an incremental_update appends a delta group in place, a searcher
    # that already served search + hydrate + phrase answers exactly as
    # before, and only a NEW searcher sees the delta docs. Phrase search
    # reads the segments listing that WAND took, so a searcher that
    # served only search + hydrate before the update answers its first
    # phrase after it from the pre-update snapshot.
    d = str(tmp_path / "snap")
    build_index(spark, synth_pages_df(spark, 20, partitions=2), d,
                n_groups=1, now=NOW)
    top_term = (
        spark.read.parquet(f"{d}/term_stats")
        .orderBy(F.desc("df"), "term")
        .limit(1)
        .collect()[0]
        .term
    )

    def serve(s):
        hits = s.search([top_term], k=50)
        return (
            hits,
            [tuple(r) for r in s.hydrate(hits).collect()],
            s.search_phrase([top_term], k=50),
        )

    old = IndexSearcher(spark, d, mode="myaku")
    before = serve(old)
    wand_only = IndexSearcher(spark, d, mode="myaku")
    assert wand_only.search([top_term], k=50) == before[0]
    rows = wand_only.hydrate(before[0]).collect()
    assert [tuple(r) for r in rows] == before[1]
    mod = spark.createDataFrame(_modified_pages(spark), PAGES_SCHEMA)
    assert incremental_update(spark, d, mod, now=NOW)["docs"] == 5
    assert serve(old) == before
    assert wand_only.search_phrase([top_term], k=50) == before[2]

    hits, rows, phrase = serve(IndexSearcher(spark, d, mode="myaku"))
    delta = {doc for _, doc in hits if (doc >> 40) >= 10_000}
    assert delta
    assert delta <= {r[0] for r in rows}
    assert delta <= {doc for doc, _, _ in phrase}
    tombs = load_tombstones(spark, d)
    assert len(tombs) == 3 and not tombs & {doc for _, doc in hits}


def test_docs_needing_rescore(spark):
    rows = [
        (1, dt.datetime(2026, 7, 26)),  # 6d old → crosses 7d boundary
        (2, dt.datetime(2026, 7, 1)),  # 31d old → stays in 31..90 bucket
        (3, dt.datetime(2020, 1, 1)),  # years old → stays in tail bucket
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "doc_ts"])
    out = docs_needing_rescore(docs, "2026-08-01 00:00:00", "2026-08-05 00:00:00")
    ids = {r.doc_id for r in out.collect()}
    assert 1 in ids  # 6d → 10d crosses the 7-day tier
    assert 3 not in ids


def test_rescore_score_delta_matches_fresh_build(spark, tmp_path):
    # Score-delta rescore (A7: the reference $set-recomputes scores, it
    # never re-analyzes text) must be indistinguishable from having
    # built the whole index at the new instant: per-url doc scores AND
    # WAND top-k (with its block-max metadata refreshed) identical.
    from myaku_spark.plans import catalog

    d1, d2 = str(tmp_path / "r1"), str(tmp_path / "r2")
    pages = synth_pages_df(spark, 40, partitions=4)
    build_index(spark, pages, d1, n_groups=2, now="2026-01-01 12:00:00")
    out = rescore_index(spark, d1, "2026-07-20 12:00:00")
    assert out["n_affected"] > 0 and out["version"] == 1
    build_index(spark, pages, d2, n_groups=2, now="2026-07-20 12:00:00")

    docs1 = {
        r.url: r.doc_score
        for r in spark.read.parquet(catalog.path_of(d1, "docs")).collect()
    }
    docs2 = {
        r.url: r.doc_score
        for r in spark.read.parquet(catalog.path_of(d2, "docs")).collect()
    }
    assert docs1 == docs2

    s1 = IndexSearcher(spark, d1, mode="myaku")
    s2 = IndexSearcher(spark, d2, mode="myaku")
    term = (
        spark.read.parquet(catalog.path_of(d1, "term_stats"))
        .groupBy("term").agg(F.sum("df").alias("df"))
        .orderBy(F.desc("df")).limit(1).collect()[0].term
    )
    top1, top2 = s1.search([term], k=20), s2.search([term], k=20)
    assert top1 == top2
    # max_score block metadata was updated with the payloads — WAND
    # pruning still agrees with the exhaustive oracle.
    assert top1 == s1.search([term], k=20, exhaustive=True)
    meta = spark.read.parquet(f"{d1}/build_meta").collect()[0]
    assert meta.now == "2026-07-20 12:00:00"


def test_rescore_after_compact_and_incremental(spark, tmp_path):
    # The score-delta rescore has no group layout assumptions: it works
    # on a compacted index carrying a live delta group + tombstones.
    from myaku_spark.plans import catalog
    from myaku_spark.plans.compact import compact_index

    d = str(tmp_path / "rci")
    pages = synth_pages_df(spark, 20, partitions=2)
    build_index(spark, pages, d, n_groups=1, now="2026-01-01 12:00:00")
    compact_index(spark, d)
    p0, pX = synth_page(0), synth_page(8100)
    mod = spark.createDataFrame(
        [(p0["url"], dt.datetime(2026, 2, 1), pX["html"], pX["text"], "ja")],
        PAGES_SCHEMA,
    )
    incremental_update(spark, d, mod, now="2026-01-01 12:00:00")
    out = rescore_index(spark, d, "2026-07-20 12:00:00")
    assert out["n_affected"] > 0
    s = IndexSearcher(spark, d, mode="myaku")
    term = (
        spark.read.parquet(catalog.path_of(d, "term_stats"))
        .groupBy("term").agg(F.sum("df").alias("df"))
        .orderBy(F.desc("df")).limit(1).collect()[0].term
    )
    hits = s.search([term], k=30)
    assert hits == s.search([term], k=30, exhaustive=True)
    # Tombstones survived the rescore version bump.
    tombs = load_tombstones(spark, d)
    assert len(tombs) == 1
    assert all(doc not in tombs for _, doc in hits)


def test_auto_compact_tombstone_threshold(spark, tmp_path):
    # Compaction pressure: once tombstones reach the threshold,
    # incremental_update folds them immediately (bounding both the
    # driver delete-vector and dead postings in the decode path).
    from myaku_spark.plans import catalog

    d = str(tmp_path / "acidx")
    pages = synth_pages_df(spark, 10, partitions=2)
    build_index(spark, pages, d, n_groups=1, now=NOW)
    p0, pX = synth_page(0), synth_page(9300)
    mod = spark.createDataFrame(
        [(p0["url"], dt.datetime(2026, 2, 1), pX["html"], pX["text"], "ja")],
        PAGES_SCHEMA,
    )
    row = incremental_update(
        spark, d, mod, now=NOW, auto_compact_tombstones=1
    )
    assert row["compacted"]["tombstones_applied"] == 1
    assert catalog.current(d)["version"] == 1
    assert load_tombstones(spark, d) == set()
    # Below threshold → no compaction.
    p1, pY = synth_page(1), synth_page(9400)
    mod2 = spark.createDataFrame(
        [(p1["url"], dt.datetime(2026, 3, 1), pY["html"], pY["text"], "ja")],
        PAGES_SCHEMA,
    )
    row2 = incremental_update(
        spark, d, mod2, now=NOW, auto_compact_tombstones=5
    )
    assert "compacted" not in row2
    assert len(load_tombstones(spark, d)) == 1


# --- distributed rescore delta set (no driver materialization) --------------


def test_block_patches_binned_join_matches_bruteforce(spark):
    # The binned interval join must assign exactly the affected docs in
    # [min_doc, max_doc] to each block — including wide rare-term blocks
    # that land in coarse bin levels — with ≥1e5 affected docs flowing
    # through as a DataFrame.
    import numpy as np

    from myaku_spark.plans.incremental import _block_patches

    rng = np.random.default_rng(7)
    n_aff = 100_000
    ids = np.sort(rng.choice(50_000_000, size=n_aff, replace=False))
    affected = spark.createDataFrame(
        [(int(i), int(1 + i % 7)) for i in ids], ["doc_id", "_delta"]
    )
    blocks = []
    # dense head-term blocks (narrow ranges, fine bins)
    for b in range(40):
        lo = int(rng.integers(0, 49_000_000))
        blocks.append((0, b % 4, "head", b, lo, lo + int(rng.integers(1, 5000))))
    # wide rare-term blocks (span most of the doc space, coarse bins)
    for b in range(10):
        lo = int(rng.integers(0, 1_000_000))
        blocks.append((0, b % 4, f"rare{b}", 0, lo, lo + 45_000_000))
    segs = spark.createDataFrame(
        blocks, ["group", "bucket", "term", "block_id", "min_doc", "max_doc"]
    )
    got = {
        (r.group, r.bucket, r.term, r.block_id): (
            list(r.patch_ids),
            list(r.patch_deltas),
        )
        for r in _block_patches(segs, affected).collect()
    }
    for g, bk, term, bid, lo, hi in blocks:
        sel = ids[(ids >= lo) & (ids <= hi)]
        want = ([int(i) for i in sel], [int(1 + i % 7) for i in sel])
        have = got.get((g, bk, term, bid), ([], []))
        assert have == want, (term, bid)


def test_rescore_never_collects_the_delta_set(spark, tmp_path, monkeypatch):
    # Verdict r3 #1: rescore_index must not .collect() the affected-doc
    # deltas. Wrap DataFrame.collect and assert every driver
    # materialization during a rescore is metadata-sized.
    d = str(tmp_path / "nocollect")
    pages = synth_pages_df(spark, 40, partitions=4)
    build_index(spark, pages, d, n_groups=2, now="2026-01-01 12:00:00")

    # Patch the CONCRETE DataFrame class (pyspark 4: instances are
    # pyspark.sql.classic.dataframe.DataFrame, which overrides collect).
    cls = type(spark.range(1))
    sizes = []
    orig = cls.collect

    def counting_collect(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(cls, "collect", counting_collect)
    out = rescore_index(spark, d, "2026-07-20 12:00:00")
    assert out["n_affected"] >= 30  # nearly every doc crossed a tier
    assert sizes and max(sizes) <= 4, sizes  # build_meta/catalog only
