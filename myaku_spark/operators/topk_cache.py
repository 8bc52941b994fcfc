"""Cross-process per-user next-page cache (the reference's Redis
NextPageCache) as a parquet slot table."""

from __future__ import annotations

import hashlib
import json
import logging
import os
import threading
import time as _time

log = logging.getLogger(__name__)


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
                except OSError as e:
                    # Another gc or a racing set() may own the file; a
                    # leftover temp file is retried on the next gc.
                    log.warning("page cache temp file %s not removed: %r", p, e)
        return removed
