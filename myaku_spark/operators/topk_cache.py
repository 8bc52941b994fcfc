"""Materialized first-page top-k per term (the Redis first-page cache,
re-architected).

Reference semantics: a perpetual cache of page 1 (top 10) per term,
written at build close (/root/reference/myaku/datastore/index_build.py:
61-114), incrementally maintained by comparing a new posting's rank key
against the page's lowest cached key (cache.py:201-289:
is_recache_required). Here:

- ``build_first_page``   one window top-k over scored postings → a small
                         (term, rank, doc_id, score) table.
- ``stale_terms``        A4-style per-term max rank keys of the delta vs
                         the cached page's MIN rank key: a term needs
                         recaching iff a new posting outranks the page
                         floor OR the page isn't full (same decision
                         logic as is_recache_required).
- ``refresh_first_page`` recompute only stale terms' pages and MERGE.

At 10^12 docs the first-page table is ~#terms × k rows — small enough to
serve point lookups from any KV/Iceberg table, and the refresh touches
only terms whose delta contains a page-1-worthy posting.
"""

from __future__ import annotations

import hashlib
import json
import logging
import os
import threading
import time as _time

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from myaku_spark.operators.bm25 import PAGE_SIZE

log = logging.getLogger(__name__)


def _rank_window():
    return Window.partitionBy("term").orderBy(
        F.desc("score"), F.desc("doc_id")
    )


def build_first_page(
    scored_postings: DataFrame, k: int = PAGE_SIZE
) -> DataFrame:
    """(term, rank, doc_id, score, total_results) — page 1 per term."""
    w = _rank_window()
    counts = scored_postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("total_results")
    )
    return (
        scored_postings.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .join(counts, "term")
        .select("term", "rank", "doc_id", "score", "total_results")
    )


def stale_terms(
    cached_page: DataFrame, delta_postings: DataFrame, k: int = PAGE_SIZE
) -> DataFrame:
    """Terms whose cached first page is invalidated by the delta.

    A term is stale when (a) it's new/not cached, (b) its cached page has
    fewer than k entries (any new posting may enter), or (c) the delta's
    best new rank key beats the cached page's floor key."""
    floor = cached_page.groupBy("term").agg(
        F.min(F.struct("score", "doc_id")).alias("floor_key"),
        F.count(F.lit(1)).alias("n_cached"),
    )
    delta_best = delta_postings.groupBy("term").agg(
        F.max(F.struct("score", "doc_id")).alias("best_new_key")
    )
    joined = delta_best.join(floor, "term", "left")
    return joined.filter(
        F.col("floor_key").isNull()
        | (F.col("n_cached") < k)
        | (F.col("best_new_key") > F.col("floor_key"))
    ).select("term")


def refresh_first_page(
    cached_page: DataFrame,
    all_scored_postings: DataFrame,
    delta_postings: DataFrame,
    k: int = PAGE_SIZE,
) -> DataFrame:
    """MERGE-style refresh: recompute pages only for stale terms, keep the
    rest of the cache untouched (K5 reorder + recache decision)."""
    stale = stale_terms(cached_page, delta_postings, k)
    fresh = build_first_page(
        all_scored_postings.join(stale, "term", "left_semi"), k
    )
    kept = cached_page.join(stale, "term", "left_anti")
    return kept.unionByName(fresh)


class PageCacheTable:
    """Cross-process per-user next-page cache: the reference's Redis
    NextPageCache (cache.py:316-459) as a parquet slot table, so a page
    precomputed by one serving process is served by any other (the
    reference's celery worker writes Redis that every apiserver reads).

    Layout: one directory per (user, direction) slot under ``path``,
    holding a single tiny parquet file with columns (expiry, query_key,
    page_num, rank, doc_id, score). set() is an atomic slot replace
    (temp file + os.replace); get() matches user + query + page and
    honors the 7-day TTL (_KEY_EXPIRE_SECONDS, cache.py:327); gc()
    drops expired slots (the distributed analog of Redis key expiry —
    run it as a maintenance job). On a cluster this maps 1:1 onto an
    Iceberg row-level-update table or any KV store; the semantics
    (slot-per-(user,direction), atomic replace, TTL) are identical, and
    the table stays k·2·|active users| rows — serving-sized, never
    corpus-sized. Results are (score, doc_id) rank tuples, the same
    shape UserPageCache holds in memory."""

    TTL_SECONDS = 60 * 60 * 24 * 7  # _KEY_EXPIRE_SECONDS, cache.py:327

    def __init__(self, path: str, clock=_time.time, namespace: str = ""):
        """``namespace``: an index-identity string (the searcher passes
        its catalog version) mixed into the query key, so pages cached
        against one snapshot are never served as another's — a
        reindex/compaction/rescore invalidates by key, with the stale
        slots aging out via TTL/gc."""
        self._path = path
        self._clock = clock
        self._namespace = namespace
        os.makedirs(path, exist_ok=True)

    def _slot_dir(self, user_id: str, direction: int) -> str:
        h = hashlib.sha1(user_id.encode("utf-8")).hexdigest()[:16]
        return os.path.join(self._path, f"{h}_{'f' if direction > 0 else 'b'}")

    def _query_key(self, terms, combine: str, page_num: int) -> str:
        return json.dumps(
            [self._namespace, list(terms), combine, int(page_num)],
            ensure_ascii=False,
        )

    def set(self, user_id, direction, terms, combine, page_num, results):
        import pyarrow as pa
        import pyarrow.parquet as pq

        expiry = self._clock() + self.TTL_SECONDS
        key = self._query_key(terms, combine, page_num)
        n = len(results)
        # Row 0 is a header (rank=0, null doc) so an EMPTY page is
        # still a servable slot (key+expiry survive with no results).
        table = pa.table(
            {
                "expiry": pa.array([float(expiry)] * (n + 1), pa.float64()),
                "query_key": pa.array([key] * (n + 1), pa.string()),
                "rank": pa.array(range(0, n + 1), pa.int32()),
                "doc_id": pa.array(
                    [None] + [int(d) for _, d in results], pa.int64()
                ),
                "score": pa.array(
                    [None] + [float(s) for s, _ in results], pa.float64()
                ),
            }
        )
        slot = self._slot_dir(user_id, direction)
        os.makedirs(slot, exist_ok=True)
        tmp = os.path.join(slot, f".tmp-{os.getpid()}-{threading.get_ident()}")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(slot, "slot.parquet"))

    def get(self, user_id, terms, combine, page_num):
        import pyarrow as pa
        import pyarrow.parquet as pq

        key = self._query_key(terms, combine, page_num)
        for direction in (1, -1):
            f = os.path.join(self._slot_dir(user_id, direction), "slot.parquet")
            if not os.path.exists(f):
                continue
            try:
                t = pq.read_table(f)
            except (OSError, pa.ArrowInvalid) as e:
                # Concurrent replace, or a truncated/corrupt slot left by
                # a crash mid-write on a non-atomic filesystem (NFS /
                # object-store mounts): a cache must never propagate its
                # own corruption into the serving path — treat as miss
                # (gc() reclaims the slot).
                log.warning("page cache slot %s unreadable, miss: %r", f, e)
                continue
            if t.num_rows == 0:
                continue
            first = t.slice(0, 1).to_pydict()
            if first["expiry"][0] < self._clock():
                continue
            if first["query_key"][0] != key:
                continue
            d = t.to_pydict()
            order = sorted(
                (i for i in range(t.num_rows) if d["rank"][i] > 0),
                key=lambda i: d["rank"][i],
            )
            return [(d["score"][i], d["doc_id"][i]) for i in order]
        return None

    def gc(self) -> int:
        """Drop expired/corrupt slots and stale .tmp-* files left by a
        process killed between write_table and os.replace; returns the
        number of slots removed."""
        import shutil

        import pyarrow as pa
        import pyarrow.parquet as pq

        now = self._clock()
        removed = 0
        for name in os.listdir(self._path):
            slot = os.path.join(self._path, name)
            f = os.path.join(slot, "slot.parquet")
            if not os.path.isdir(slot):
                continue
            try:
                t = pq.read_table(f, columns=["expiry"])
                expired = t.num_rows == 0 or t.column("expiry")[0].as_py() < now
            except (OSError, pa.ArrowInvalid) as e:
                # Missing OR unreadable slot file: either way the slot
                # can never serve a hit again — reclaim it.
                log.warning("page cache slot %s unreadable, reclaim: %r", f, e)
                expired = True
            if expired:
                shutil.rmtree(slot, ignore_errors=True)
                removed += 1
                continue
            # Orphaned temp files (crash between write and rename) age
            # out on the same TTL as the slots they were meant to become.
            for tmp in os.listdir(slot):
                if not tmp.startswith(".tmp-"):
                    continue
                p = os.path.join(slot, tmp)
                try:
                    if now - os.path.getmtime(p) > self.TTL_SECONDS:
                        os.unlink(p)
                except OSError:
                    pass
        return removed
