"""Size-guarded delete vectors (r4 verdict #2).

Above TOMBSTONE_DRIVER_MAX the tombstone set must never materialize on
the driver: resolve_tombstones keeps it a DataFrame and every serving
path applies it distributively — two-phase WAND via per-fetch-window
semi-joins into a TombstoneView, phrase via a postings anti-join, batch
WAND and compaction via per-block del_ids from the binned interval
join. Results must be identical to the array mode, proven here with a
collect-interception harness like the rescore one
(test_rescore_never_collects_the_delta_set).
"""

import datetime as dt
import shutil

import pytest
from pyspark.sql import functions as F

import myaku_spark.plans.incremental as incr
from myaku_spark.operators.batch_search import batch_search
from myaku_spark.operators.phrase import batch_phrase_search, phrase_search
from myaku_spark.operators.search import IndexSearcher
from myaku_spark.plans.build_index import build_index
from myaku_spark.plans.incremental import (
    incremental_update,
    load_tombstones,
    resolve_tombstones,
)
from myaku_spark.sources.pages import PAGES_SCHEMA, synth_page, synth_pages_df

NOW = "2026-08-01 00:00:00"
N = 60
N_PAD = 400  # absent-id padding pushing the vector over the test threshold
PAD_BASE = 1 << 50


@pytest.fixture(scope="module")
def tidx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("tomb_idx"))
    pages = synth_pages_df(spark, N, partitions=4)
    build_index(spark, pages, d, n_groups=2, now=NOW)
    rows = []
    for i in range(3):  # re-index 3 urls → 3 real tombstones
        p_old, p_new = synth_page(i), synth_page(i + 5000)
        rows.append(
            (p_old["url"], dt.datetime(2026, 2, 1), p_new["html"],
             p_new["text"], "ja")
        )
    incremental_update(
        spark, d, spark.createDataFrame(rows, PAGES_SCHEMA), now=NOW
    )
    from myaku_spark.plans import catalog

    _, paths = catalog.resolve(d)
    # Pad the delete vector with ids no doc carries, so the low test
    # threshold flips resolve_tombstones to df mode while the REAL
    # tombstoned docs stay the behavioral signal.
    spark.range(N_PAD).select(
        (F.col("id") + PAD_BASE).alias("doc_id")
    ).write.mode("append").parquet(paths["tombstones"])
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _top_term(spark, idx):
    return (
        spark.read.parquet(f"{idx}/term_stats")
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
        .orderBy(F.desc("df"), "term")
        .limit(1)
        .collect()[0]
        .term
    )


def test_resolve_tombstones_modes(spark, tidx, monkeypatch):
    mode, arr = resolve_tombstones(spark, tidx)
    assert mode == "array" and len(arr) == N_PAD + 3
    monkeypatch.setattr(incr, "TOMBSTONE_DRIVER_MAX", 10)
    mode2, df = resolve_tombstones(spark, tidx)
    assert mode2 == "df" and df.count() == N_PAD + 3


@pytest.mark.parametrize(
    "max_driver_rows, mode", [(None, "array"), (0, "df")]
)
def test_resolve_tombstones_logs_its_mode(
    spark, tmp_path, caplog, max_driver_rows, mode
):
    import logging

    path = str(tmp_path / "tombstones")
    spark.createDataFrame([(7,), (3,), (5,)], "doc_id long").write.parquet(
        path
    )
    with caplog.at_level(logging.INFO, "myaku_spark.plans.incremental"):
        got, _ = resolve_tombstones(
            spark, str(tmp_path), path=path, max_driver_rows=max_driver_rows
        )
    assert got == mode
    msgs = [r.getMessage() for r in caplog.records]
    assert len(msgs) == 1, msgs
    assert msgs[0].startswith(f"tombstones -> {mode}: 3 deleted docs"), msgs
    assert f"TOMBSTONE_DRIVER_MAX={incr.TOMBSTONE_DRIVER_MAX}" in msgs[0]


@pytest.mark.parametrize("mode", ["myaku", "bm25"])
def test_array_mode_searcher_runs_no_spark_job(spark, tidx, jobs_run_by, mode):
    # After incremental_update, building a searcher (the tombstone count
    # from parquet footers, the array from a pyarrow read) and serving a
    # phrase, cold and warm, run no Spark job; the phrase leaves out the
    # tombstoned docs and equals the batch plan.
    term = _top_term(spark, tidx)
    want = [
        (r.doc_id, r.phrase_tf, list(r.match_starts))
        for r in batch_phrase_search(spark, tidx, [("p", [term])], k=50)
        .orderBy("rank")
        .collect()
    ]
    real_tombs = {t for t in load_tombstones(spark, tidx) if t < PAD_BASE}
    assert want and len(real_tombs) == 3
    searchers = []
    assert jobs_run_by(
        lambda: searchers.append(IndexSearcher(spark, tidx, mode=mode))
    ) == {}
    s = searchers[0]
    assert len(s.deleted) == N_PAD + 3  # array mode
    for _ in ("cold", "warm"):
        hits = []
        assert jobs_run_by(
            lambda: hits.append(s.search_phrase([term], k=50))
        ) == {}
        assert hits == [want]
    assert not {doc for doc, _, _ in want} & real_tombs


def test_df_mode_serving_paths_identical_no_driver_set(
    spark, tidx, monkeypatch
):
    term = _top_term(spark, tidx)
    real_tombs = {
        t for t in load_tombstones(spark, tidx) if t < PAD_BASE
    }
    assert len(real_tombs) == 3

    # Baseline: array mode (default threshold).
    s_arr = IndexSearcher(spark, tidx, mode="myaku")
    want_search = s_arr.search([term], k=50, combine="or")
    want_phrase = s_arr.search_phrase([term], k=50)
    want_batch = sorted(
        (r.query_id, r.rank, r.doc_id, r.score)
        for r in batch_search(
            spark, tidx, [("q1", [term])], k=50, combine="or"
        ).collect()
    )
    want_bphrase = sorted(
        (r.query_id, r.rank, r.doc_id, r.phrase_tf)
        for r in batch_phrase_search(
            spark, tidx, [("p1", [term])], k=50
        ).collect()
    )
    want_psearch = sorted(
        (r.doc_id, r.phrase_tf)
        for r in phrase_search(spark, tidx, [term], k=50).collect()
    )
    assert want_search and not {d for _, d in want_search} & real_tombs

    # df mode: tiny threshold + collect interception. NO driver
    # materialization during any serving path may reach the vector's
    # size (the allowed collects are metadata/results/hit-sized).
    monkeypatch.setattr(incr, "TOMBSTONE_DRIVER_MAX", 10)
    cls = type(spark.range(1))
    sizes = []
    orig = cls.collect

    def counting_collect(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(cls, "collect", counting_collect)

    s_df = IndexSearcher(spark, tidx, mode="myaku")
    assert s_df._tombstones_df is not None  # df mode actually active
    got_search = s_df.search([term], k=50, combine="or")
    got_phrase = s_df.search_phrase([term], k=50)
    got_batch = sorted(
        (r.query_id, r.rank, r.doc_id, r.score)
        for r in batch_search(
            spark, tidx, [("q1", [term])], k=50, combine="or"
        ).collect()
    )
    got_bphrase = sorted(
        (r.query_id, r.rank, r.doc_id, r.phrase_tf)
        for r in batch_phrase_search(
            spark, tidx, [("p1", [term])], k=50
        ).collect()
    )
    got_psearch = sorted(
        (r.doc_id, r.phrase_tf)
        for r in phrase_search(spark, tidx, [term], k=50).collect()
    )
    monkeypatch.setattr(cls, "collect", orig)

    assert got_search == want_search
    assert got_phrase == want_phrase
    assert got_batch == want_batch
    assert got_bphrase == want_bphrase
    assert got_psearch == want_psearch
    # WAND == exhaustive still holds with the lazy TombstoneView.
    assert got_search == s_df.search([term], k=50, combine="or",
                                     exhaustive=True)
    assert sizes and max(sizes) < N_PAD, sorted(sizes)[-5:]


def test_df_mode_compaction_applies_all_tombstones(
    spark, tmp_path, monkeypatch
):
    from myaku_spark.plans import catalog
    from myaku_spark.plans.compact import compact_index

    d = str(tmp_path / "tomb_compact")
    pages = synth_pages_df(spark, 30, partitions=2)
    build_index(spark, pages, d, n_groups=2, now=NOW)
    rows = []
    for i in range(2):
        p_old, p_new = synth_page(i), synth_page(i + 6000)
        rows.append(
            (p_old["url"], dt.datetime(2026, 2, 1), p_new["html"],
             p_new["text"], "ja")
        )
    incremental_update(
        spark, d, spark.createDataFrame(rows, PAGES_SCHEMA), now=NOW
    )
    _, paths = catalog.resolve(d)
    real_tombs = set(load_tombstones(spark, d, path=paths["tombstones"]))
    assert len(real_tombs) == 2
    spark.range(N_PAD).select(
        (F.col("id") + PAD_BASE).alias("doc_id")
    ).write.mode("append").parquet(paths["tombstones"])

    monkeypatch.setattr(incr, "TOMBSTONE_DRIVER_MAX", 10)
    cls = type(spark.range(1))
    sizes = []
    orig = cls.collect

    def counting_collect(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(cls, "collect", counting_collect)
    out = compact_index(spark, d)
    monkeypatch.setattr(cls, "collect", orig)

    assert out["tombstones_applied"] == N_PAD + 2
    assert sizes and max(sizes) < N_PAD, sorted(sizes)[-5:]
    # Deleted docs are gone from BOTH the docs table and the postings.
    _, paths2 = catalog.resolve(d)
    doc_ids = {
        r.doc_id for r in spark.read.parquet(paths2["docs"]).collect()
    }
    assert not doc_ids & real_tombs
    s = IndexSearcher(spark, d, mode="myaku")
    hits = s.search([_top_term(spark, d)], k=50, combine="or")
    assert hits and not {doc for _, doc in hits} & real_tombs
