"""Compaction, catalog time travel and physical-plan pruning
assertions."""

import pytest
from pyspark.sql import functions as F


def test_compact_merges_and_applies_tombstones(spark, tmp_path):
    from myaku_spark.operators.search import IndexSearcher
    from myaku_spark.plans.build_index import build_index
    from myaku_spark.plans.compact import compact_index
    from myaku_spark.plans.incremental import incremental_update
    from myaku_spark.sources.pages import PAGES_SCHEMA, synth_page, synth_pages_df

    import datetime as dt

    d = str(tmp_path / "cidx")
    pages = synth_pages_df(spark, 40, partitions=4)
    build_index(spark, pages, d, n_groups=1, now="2026-08-01 00:00:00")

    # Modify 2 urls (new html) → delta group + 2 tombstones.
    rows = []
    for i in range(2):
        p_old, p_new = synth_page(i), synth_page(i + 7000)
        rows.append(
            (p_old["url"], dt.datetime(2026, 3, 1), p_new["html"], p_new["text"], "ja")
        )
    mod = spark.createDataFrame(rows, PAGES_SCHEMA)
    incremental_update(spark, d, mod, now="2026-08-01 00:00:00")

    s_before = IndexSearcher(spark, d, mode="myaku")
    term = (
        spark.read.parquet(f"{d}/term_stats")
        .groupBy("term").agg(F.sum("df").alias("df"))
        .orderBy(F.desc("df")).limit(1).collect()[0].term
    )
    before = s_before.search([term], k=30)

    out = compact_index(spark, d)
    assert out["tombstones_applied"] == 2
    s_after = IndexSearcher(spark, d, mode="myaku")
    assert s_after.deleted is None  # tombstones cleared
    after = s_after.search([term], k=30)
    assert after == before  # same results, now without delete vectors
    # Doc table (resolved via the catalog pointer) no longer contains
    # tombstoned ids.
    from myaku_spark.plans import catalog

    n_docs = spark.read.parquet(catalog.path_of(d, "docs")).count()
    assert n_docs == out["n_docs"]
    assert catalog.current(d)["version"] == 1

    # Snapshot isolation: a searcher constructed BEFORE a compaction
    # keeps serving its resolved version even while a second compaction
    # publishes (and GCs versions older than its predecessor).
    s_mid = IndexSearcher(spark, d, mode="myaku")  # resolves v1
    out2 = compact_index(spark, d)  # publishes v2, GC keeps {v1, v2}
    assert out2["version"] == 2
    assert s_mid.search([term], k=30) == before  # v1 still readable
    s_new = IndexSearcher(spark, d, mode="myaku")  # resolves v2
    assert s_new.search([term], k=30) == before


@pytest.mark.parametrize("with_positions", [True, False])
@pytest.mark.parametrize("tombstones", ["array", "del_ids"])
def test_compact_kernel_merges_runs(with_positions, tombstones):
    # One (term, block_id) group across two runs: doc 5 takes the newer
    # run's posting (positions included), the tombstoned doc 9 drops,
    # and the survivors re-encode as one block. A segment set without
    # positions stays without them.
    import numpy as np
    import pandas as pd

    from myaku_spark.operators.codec import decode_block, encode_blocks_batch
    from myaku_spark.plans.compact import _merge_with_tombstones

    def block(docs, tfs, pays, pos):
        flat = [p for plist in pos for p in plist] if with_positions else []
        (blob,), _ = encode_blocks_batch(
            np.array([0, len(docs)]), np.array(docs), np.array(tfs),
            np.array(pays), np.array([0, len(flat)]),
            np.array([a for a, _ in flat]), np.array([b for _, b in flat]),
        )
        return blob

    old = block([1, 5, 9], [1, 2, 1], [10, 20, 30],
                [[(0, 1)], [(3, 1), (7, 2)], [(4, 4)]])
    new = block([5, 7], [1, 1], [50, 70], [[(1, 1)], [(2, 2)]])
    pdf = pd.DataFrame({
        "bucket": [3, 3], "term": ["t", "t"], "block_id": [0, 0],
        "min_dl": [4, 2], "run_order": [3, 0], "blob": [new, old],
    })
    deleted = np.array([9], dtype=np.int64)
    if tombstones == "del_ids":
        pdf["del_ids"] = [None, [9]]
        deleted = None
    (row,) = _merge_with_tombstones(deleted)(pdf).to_dict("records")
    assert row["blob"] == block([1, 5, 7], [1, 1, 1], [10, 50, 70],
                                [[(0, 1)], [(1, 1)], [(2, 2)]])
    assert (row["n_postings"], row["min_doc"], row["max_doc"]) == (3, 1, 7)
    assert (row["max_tf"], row["max_score"], row["sum_tf"]) == (1, 70, 3)
    assert row["min_dl"] == 2
    assert decode_block(row["blob"])["pos_starts"].size == (
        3 if with_positions else 0
    )
    # Every posting tombstoned: the group writes no block.
    gone = pdf.assign(blob=[block([9], [1], [1], [[(0, 1)]])] * 2)
    assert _merge_with_tombstones(deleted)(gone).empty


def test_segment_read_partition_pruning(spark, tmp_path):
    """The term-segment read must prune on the bucket partition column and
    push the term predicate to parquet (.explain evidence)."""
    from myaku_spark.operators.segments import read_term_segments
    from myaku_spark.plans.build_index import build_index
    from myaku_spark.sources.pages import synth_pages_df

    d = str(tmp_path / "pidx")
    build_index(
        spark,
        synth_pages_df(spark, 30, partitions=2),
        d,
        n_groups=1,
        now="2026-08-01 00:00:00",
    )
    term = (
        spark.read.parquet(f"{d}/term_stats").limit(1).collect()[0].term
    )
    df = read_term_segments(spark, f"{d}/segments", [term])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "bucket" in plan
    assert "PushedFilters" in plan and "term" in plan


def test_catalog_time_travel(spark, tmp_path):
    # Iceberg-style read-at-snapshot: a searcher pinned to a past
    # version serves the index exactly as published then, while the
    # live pointer advances; GC'd snapshots fail loudly.
    import pytest as _pytest

    from myaku_spark.operators.search import IndexSearcher
    from myaku_spark.plans import catalog
    from myaku_spark.plans.build_index import build_index
    from myaku_spark.plans.incremental import rescore_index
    from myaku_spark.sources.pages import synth_pages_df

    d = str(tmp_path / "tt")
    build_index(
        spark, synth_pages_df(spark, 30, partitions=2), d,
        n_groups=1, now="2026-01-01 12:00:00",
    )
    term = (
        spark.read.parquet(catalog.path_of(d, "term_stats"))
        .orderBy(F.desc("df"), "term").limit(1).collect()[0].term
    )
    v0_hits = IndexSearcher(spark, d, mode="myaku").search([term], k=20)

    rescore_index(spark, d, "2026-07-20 12:00:00")  # v1: new scores
    assert catalog.versions(d) == [1, 0]
    live = IndexSearcher(spark, d, mode="myaku").search([term], k=20)
    pinned = IndexSearcher(spark, d, mode="myaku", version=0).search(
        [term], k=20
    )
    assert pinned == v0_hits
    assert {d_ for _, d_ in live} == {d_ for _, d_ in pinned}
    assert live != pinned  # recency tiers moved every doc's score

    with _pytest.raises(KeyError):
        catalog.at_version(d, 7)

    # Two more snapshots — 'now' jumps that cross the 365/1095-day
    # recency tiers so every rescore touches docs and writes fresh
    # versioned dirs. GC keeps {current, previous} → v1's dirs go
    # (v0's legacy unversioned names are never GC'd by design).
    out2 = rescore_index(spark, d, "2027-02-01 12:00:00")
    out3 = rescore_index(spark, d, "2029-06-01 12:00:00")
    assert out2["n_affected"] > 0 and out3["n_affected"] > 0
    assert catalog.versions(d) == [3, 2, 1, 0]
    with _pytest.raises(FileNotFoundError):
        catalog.at_version(d, 1)
