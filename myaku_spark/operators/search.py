"""Index searcher: term-pruned segment reads → block-max WAND → hydration.

The Spark re-architecture of the reference search path
(/root/reference/myaku/datastore/index_search.py:207-248): K1 ranked
posting scan becomes WAND over term-partition-pruned segments; K2
pagination is a slice of the returned top-k; J1/J2 hydration is one
pushed-down ``doc_id IN (…)`` read of the docs table for the (≤ k·pages)
result doc_ids.
Queries are width-normalized with the same P6 function used at index
time (symmetry contract, views.py:305-310).

An interactive request runs no Spark job. Its point reads (block
metadata, blobs, BM25 ``df`` and hydration) are ``pyarrow.dataset``
reads over the searcher's file listing, with the same pushdown a Spark
scan would get: hive partition pruning on ``bucket`` and parquet
predicates on ``term`` / ``block_id`` / ``doc_id``. This is the
reference's split (MongoDB ``$in`` lookups plus a Redis first-page
cache) with parquet in place of MongoDB. A phrase request reads the
same store and matches positions with numpy (``phrase.phrase_topk``).
Spark stays for work that is distributed by nature: builds,
``batch_search``, ``batch_phrase_search``, previews and the df-mode
tombstone semi-join for delete vectors larger than the driver holds.

Two-phase segment access: the query plan reads block METADATA only
(the blob column is not projected, so its pages stay unread), then
fetches blobs lazily in forward windows as WAND's skip pattern requests
them (SegmentBlobStore). Driver bytes are bounded by decoded blocks +
prefetch overshoot, never by posting-list size — a けれども-class head
term at 10^9 docs ships only the blocks WAND actually opens.
"""

from __future__ import annotations

import threading
import time as _time
from collections import OrderedDict

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_type, to_arrow_schema
from pyspark.sql.types import IntegerType, StructField, StructType

from myaku_spark.functions.widthnorm import normalize_char_width
from myaku_spark.functions.xxh import term_bucket
from myaku_spark.operators.segments import N_BUCKETS, SEGMENT_SCHEMA
from myaku_spark.operators.wand import (
    BM25Scorer,
    MyakuScorer,
    TombstoneView,
    cursors_from_segments,
    exhaustive_topk,
    stats_for_bm25,
    wand_topk_and,
    wand_topk_or,
)

PAGE_SIZE = 10  # SEARCH_RESULTS_PAGE_SIZE, datastore/__init__.py:22

_META_COLS = [
    "group",
    "bucket",
    "term",
    "block_id",
    "n_postings",
    "min_doc",
    "max_doc",
    "max_tf",
    "min_dl",
    "max_score",
]

# A segments dir as the searcher reads it: the segment rows plus the
# ``group=G`` partition column. Explicit, so that a segments dir with no
# part files (an index built from no pages) reads as zero rows.
_SEGMENTS = StructType(
    [*SEGMENT_SCHEMA.fields, StructField("group", IntegerType())]
)


def _parquet_dataset(path: str, schema: pa.Schema | None = None):
    """The parquet files under ``path`` as a pyarrow dataset with hive
    partition columns (``group=G``, ``bucket=B``). The file listing is
    taken here, once; every read of the dataset scans that listing.
    With a ``schema``, a dir with no part files is an empty dataset."""
    import pyarrow.dataset as ds

    return ds.dataset(
        path, schema=schema, format="parquet", partitioning="hive"
    )


def _arrow_frame(spark: SparkSession, table: pa.Table) -> DataFrame:
    """``table`` as a Spark DataFrame typed as a Spark read of the same
    parquet would be: every field nullable, and zone-less timestamps
    (parquet INT96, which Spark writes in UTC) as UTC instants. Below
    the Arrow local-relation threshold this is a LocalRelation, so
    ``collect()`` runs no job."""
    cols, fields = [], []
    for f, col in zip(table.schema, table.columns):
        if pa.types.is_timestamp(f.type) and f.type.tz is None:
            col = col.cast(pa.timestamp(f.type.unit, tz="UTC"))
        cols.append(col)
        fields.append(StructField(f.name, from_arrow_type(col.type)))
    table = pa.Table.from_arrays(cols, names=table.column_names)
    return spark.createDataFrame(table, StructType(fields))


class SegmentBlobStore:
    """Block metadata up front, blobs on demand, all from one listing
    of the segments dir taken on first use. WAND and phrase requests
    read through it alike.

    - ``ensure_terms`` reads metadata-only rows for the query terms: one
      pyarrow read with bucket partition pruning and a parquet ``term``
      predicate, projecting ``_META_COLS`` (the blob column is never
      read).
    - ``blob(term, group, block_id)`` fetches a FORWARD WINDOW of up to
      ``prefetch_blocks`` not-yet-cached blobs for the term starting at
      the requested block (WAND cursors and phrase windows only move
      forward in doc_id, so forward prefetch amortizes per-read latency
      without overshooting into blocks a skip already passed).
    - ``bytes_fetched`` / ``fetch_jobs`` count blob bytes and blob
      reads (one parquet read each; no Spark job), the driver-byte
      bound asserted by tests and the head-term bench entry.
    """

    def __init__(
        self,
        spark: SparkSession,
        seg_path: str,
        prefetch_blocks: int = 64,
        max_terms: int = 256,
        max_blob_bytes: int = 1 << 28,
        eager_postings: int = 200_000,
        tombstones_df=None,
        tombstone_view=None,
    ):
        self.spark = spark
        self.seg_path = seg_path
        self.prefetch_blocks = prefetch_blocks
        self.max_terms = max_terms
        self.max_blob_bytes = max_blob_bytes
        # Terms whose TOTAL posting count is below this are fetched whole
        # in one read at query start (a few MB at most — one read instead
        # of one per forward window); head terms above it stay lazy so
        # driver bytes remain bounded by what WAND opens.
        self.eager_postings = eager_postings
        # df-mode tombstones (delete vector beyond driver size): every
        # fetch window semi-joins its decoded doc ids against this
        # DataFrame and merges the hits into the TombstoneView the
        # cursors consult — driver-side delete bytes are bounded by
        # opened postings, never the vector (r4 verdict #2).
        self.tombstones_df = tombstones_df
        self.tombstone_view = tombstone_view
        self.meta: OrderedDict[str, list] = OrderedDict()
        self.blobs: OrderedDict[tuple, bytes] = OrderedDict()
        self.cached_blob_bytes = 0
        self.bytes_fetched = 0
        self.fetch_jobs = 0
        self._ds = None

    def _dataset(self):
        if self._ds is None:
            self._ds = _parquet_dataset(
                self.seg_path, to_arrow_schema(_SEGMENTS)
            )
        return self._ds

    def _scanner(self, terms: list[str], columns: list[str], block_ids=None):
        """A pushed-down read of the rows of ``terms`` (and only
        ``block_ids``, when given): bucket partition pruning, parquet
        predicates on term and block_id, and only ``columns`` read."""
        import pyarrow.dataset as ds

        buckets = sorted({term_bucket(t, N_BUCKETS) for t in terms})
        where = ds.field("bucket").isin(buckets) & ds.field("term").isin(terms)
        if block_ids is not None:
            where &= ds.field("block_id").isin(block_ids)
        return self._dataset().scanner(columns=columns, filter=where)

    def ensure_terms(self, terms: list[str]) -> None:
        missing = [t for t in terms if t not in self.meta]
        if missing:
            table = self._scanner(missing, _META_COLS).to_table()
            row = Row(*table.column_names)
            by_term: dict[str, list] = {t: [] for t in missing}
            for values in zip(*(c.to_pylist() for c in table.columns)):
                r = row(*values)
                by_term.setdefault(r.term, []).append(r)
            for t in missing:
                self.meta[t] = sorted(
                    by_term.get(t, []), key=lambda r: r.min_doc
                )
            while len(self.meta) > self.max_terms:
                self.meta.popitem(last=False)
        for t in terms:
            if t in self.meta:
                self.meta.move_to_end(t)

    def meta_rows(self, terms: list[str]) -> list:
        self.ensure_terms(terms)
        self._prefetch_small(terms)
        out = []
        for t in terms:
            out.extend(self.meta.get(t, []))
        return out

    def _prefetch_small(self, terms: list[str]) -> None:
        """One batched blob read for all small query terms."""
        small = [
            t
            for t in terms
            if self.meta.get(t)
            and sum(r.n_postings for r in self.meta[t]) <= self.eager_postings
            and any(
                (t, r.group, r.block_id) not in self.blobs for r in self.meta[t]
            )
        ]
        if small:
            self._fetch(small)

    def _fetch(self, terms: list[str], block_ids=None) -> None:
        """One blob read (``_scanner``) into the cache, then the df-mode
        tombstone lookup for the blobs it brought in."""
        table = self._scanner(
            terms, ["term", "group", "block_id", "blob"], block_ids
        ).to_table()
        self.fetch_jobs += 1
        fresh = []
        for term, group, block_id, b in zip(
            *(c.to_pylist() for c in table.columns)
        ):
            key = (term, group, block_id)
            if key not in self.blobs:
                fresh.append(b)
            self._store_blob(key, b)
        self._resolve_deleted(fresh)

    def _resolve_deleted(self, new_blobs: list[bytes]) -> None:
        """df-mode tombstone lookup for a fetch window: decode the new
        blobs' doc ids (driver-bounded — these blobs just shipped) and
        ask the delete-vector DataFrame which of them are deleted via a
        broadcast semi-join. One small Spark job per fetch window, kept
        on Spark because the vector may not fit on the driver; the
        result is at most |opened postings| ids."""
        if self.tombstones_df is None or not new_blobs:
            return
        import pandas as pd

        from myaku_spark.operators.codec import decode_blocks_batch

        ids = np.unique(decode_blocks_batch(new_blobs)["doc_ids"])
        ids_df = self.spark.createDataFrame(pd.DataFrame({"doc_id": ids}))
        hits = (
            self.tombstones_df.join(F.broadcast(ids_df), "doc_id", "leftsemi")
            .collect()
        )
        if hits and self.tombstone_view is not None:
            self.tombstone_view.add(
                np.fromiter(
                    (r.doc_id for r in hits), dtype=np.int64, count=len(hits)
                )
            )

    def _store_blob(self, key: tuple, b: bytes) -> None:
        if key in self.blobs:
            return
        self.blobs[key] = b
        self.bytes_fetched += len(b)
        self.cached_blob_bytes += len(b)
        while self.cached_blob_bytes > self.max_blob_bytes and self.blobs:
            _, old = self.blobs.popitem(last=False)
            self.cached_blob_bytes -= len(old)

    def blob(self, term: str, group, block_id) -> bytes:
        key = (term, group, block_id)
        hit = self.blobs.get(key)
        if hit is not None:
            self.blobs.move_to_end(key)
            return hit
        metas = self.meta.get(term, [])
        idx = next(
            i
            for i, r in enumerate(metas)
            if r.block_id == block_id and (r.group or 0) == (group or 0)
        )
        window = [
            r
            for r in metas[idx : idx + self.prefetch_blocks]
            if (term, r.group, r.block_id) not in self.blobs
        ]
        self._fetch([term], sorted({int(r.block_id) for r in window}))
        if key not in self.blobs:
            raise KeyError(f"segment blob not found: {key}")
        return self.blobs[key]


def _doc_windows(rows: list, size: int):
    """``(window, lo, hi)``: a term's block metadata ``rows`` (sorted by
    min_doc) cut into windows of ``size`` blocks and their doc range. A
    block whose range overlaps a window's joins it, so the ranges are
    disjoint and each posting of the term lies in exactly one."""
    i = 0
    while i < len(rows):
        j = min(i + size, len(rows))
        hi = max(r.max_doc for r in rows[i:j])
        while j < len(rows) and rows[j].min_doc <= hi:
            hi = max(hi, rows[j].max_doc)
            j += 1
        yield rows[i:j], rows[i].min_doc, hi
        i = j


class UserPageCache:
    """Per-user next-page cache (the reference's Redis NextPageCache,
    cache.py:316-459): each user holds TWO slots (forward/backward);
    a slot stores (query terms, combine, page_num, results) and expires
    after 7 days. get() returns the results only when user, query, page
    all match — the reference's _query_match contract."""

    TTL_SECONDS = 60 * 60 * 24 * 7  # _KEY_EXPIRE_SECONDS, cache.py:327
    MAX_SLOTS = 16384  # LRU cap — the reference leans on Redis maxmemory

    def __init__(self, clock=_time.time, max_slots: int | None = None):
        self._clock = clock
        self._max_slots = max_slots or self.MAX_SLOTS
        # (user, dir) → (expiry, query_key, results); ordered for LRU.
        self._slots: OrderedDict[tuple, tuple] = OrderedDict()
        # The async-precompute daemon thread (IndexSearcher.search_page)
        # calls set() concurrently with interactive get()/set(); guard the
        # OrderedDict — eviction iterates while another thread may insert.
        self._cache_lock = threading.Lock()

    @staticmethod
    def _query_key(terms, combine: str, page_num: int) -> tuple:
        return (tuple(terms), combine, page_num)

    def set(self, user_id: str, direction: int, terms, combine, page_num, results):
        key = (user_id, direction)
        with self._cache_lock:
            self._slots[key] = (
                self._clock() + self.TTL_SECONDS,
                self._query_key(terms, combine, page_num),
                list(results),
            )
            self._slots.move_to_end(key)
            # Bounded memory: when over cap, drop expired slots first, then
            # LRU overflow — a long-running driver never accumulates one slot
            # per user forever (the reference relies on Redis key expiry).
            if len(self._slots) > self._max_slots:
                now = self._clock()
                for k in [k for k, v in self._slots.items() if v[0] < now]:
                    del self._slots[k]
                while len(self._slots) > self._max_slots:
                    self._slots.popitem(last=False)

    def get(self, user_id: str, terms, combine, page_num):
        qk = self._query_key(terms, combine, page_num)
        with self._cache_lock:
            for direction in (1, -1):
                slot = self._slots.get((user_id, direction))
                if slot is None:
                    continue
                expiry, key, results = slot
                if expiry < self._clock():
                    del self._slots[(user_id, direction)]
                    continue
                if key == qk:
                    return list(results)
        return None


class IndexSearcher:
    """Interactive search over one catalog snapshot of an index.

    Each component's file listing (segments, docs, term_stats) is taken
    once, on first use, and every later read of that component scans
    it: the pyarrow reads of ``search``, ``search_phrase`` and
    ``hydrate`` alike. An ``incremental_update`` appends ``group=G``
    dirs in place, so a searcher that has already served requests keeps
    answering from the groups (and the tombstones, read at
    construction) it started with; a new searcher sees the update."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        mode: str = "myaku",
        page_cache_dir: str | None = None,
        version: int | None = None,
    ):
        """``page_cache_dir``: when given, the per-user next-page cache
        is the cross-process PageCacheTable at that path (the reference
        Redis NextPageCache shared by all serving processes) instead of
        this searcher's in-memory UserPageCache — a page precomputed by
        one IndexSearcher instance is served by any other pointed at
        the same directory.

        ``version``: time travel — serve a PAST catalog snapshot still
        referenced by the live pointer's previous-chain (Iceberg
        read-at-snapshot-id). The searcher pins that version's full
        (segments, docs, tombstones, stats) triple, so results are the
        index exactly as published then."""
        self.spark = spark
        self.index_dir = index_dir
        self.mode = mode
        # Resolve a consistent catalog snapshot ONCE (one read) at
        # construction: every component path — docs, segments,
        # tombstones, term_stats, corpus_stats — derives from that single
        # entry, so a compaction publishing mid-construction or mid-query
        # can never mix versions for this searcher (old dirs stay until
        # GC).
        from myaku_spark.plans import catalog
        from myaku_spark.plans.incremental import resolve_tombstones

        if version is None:
            self._catalog, self._paths = catalog.resolve(index_dir)
        else:
            self._catalog, self._paths = catalog.at_version(
                index_dir, version
            )
        # Size-guarded delete vector (r4 verdict #2): driver-sized sets
        # collect to a sorted array (one vectorized np.isin per block
        # decode); larger sets stay a DataFrame and resolve lazily per
        # fetch window through the store's TombstoneView — the full
        # vector never materializes on the driver.
        tmode, tpayload = resolve_tombstones(
            spark, index_dir, path=self._paths["tombstones"]
        )
        self._tombstones_df = None
        if tmode == "array":
            self.deleted = tpayload
        elif tmode == "df":
            self.deleted = TombstoneView()
            self._tombstones_df = tpayload
        else:
            self.deleted = None
        self._datasets: dict = {}
        self.store = SegmentBlobStore(
            spark,
            self._paths["segments"],
            tombstones_df=self._tombstones_df,
            tombstone_view=self.deleted if tmode == "df" else None,
        )
        if page_cache_dir is not None:
            from myaku_spark.operators.topk_cache import PageCacheTable

            # The catalog version namespaces the shared cache: pages
            # cached against an older snapshot miss by key after a
            # reindex/compaction/rescore (then age out via TTL/gc)
            # instead of serving deleted or re-scored docs as current.
            self.page_cache = PageCacheTable(
                page_cache_dir,
                namespace=f"{mode}-v{int(self._catalog['version'])}",
            )
        else:
            self.page_cache = UserPageCache()
        # Serializes WAND and phrase evaluation between the interactive
        # path and the async next-page precompute worker (the store's
        # caches are not concurrency-safe); RLock because the worker
        # calls search().
        self._lock = threading.RLock()
        self._precompute_threads: list[threading.Thread] = []
        if mode == "bm25":
            r = self._dataset("corpus_stats").to_table().to_pylist()[0]
            # avgdl is null for an index of no docs, where nothing is scored
            self.n_docs, self.avgdl = int(r["n_docs"]), float(r["avgdl"] or 0)

    def _dataset(self, component: str):
        """``component``'s pyarrow dataset, listed on first use and then
        reused (the searcher's snapshot of that component)."""
        d = self._datasets.get(component)
        if d is None:
            d = self._datasets[component] = _parquet_dataset(
                self._paths[component]
            )
        return d

    def _scorer_factory(self, terms: list[str]):
        if self.mode == "myaku":
            return lambda term: MyakuScorer()
        import pyarrow.dataset as ds

        tstats = self._dataset("term_stats").to_table(
            columns=["term", "df"], filter=ds.field("term").isin(terms)
        )
        # df of a term = the sum of its per-group rows
        df_map: dict[str, int] = {}
        for term, df in zip(
            tstats.column("term").to_pylist(), tstats.column("df").to_pylist()
        ):
            df_map[term] = df_map.get(term, 0) + df
        return lambda term: BM25Scorer(
            idf=stats_for_bm25(self.n_docs, df_map.get(term, 0)),
            avgdl=self.avgdl,
        )

    def _cursors(self, terms: list[str]):
        """Per-term cursors over metadata-only rows; blobs stream in via
        the store as WAND requests them (cursors are rebuilt per query —
        they are stateful iterators — but metadata and already-fetched
        blobs are reused across queries)."""
        rows = self.store.meta_rows(terms)
        return cursors_from_segments(
            rows,
            self._scorer_factory(terms),
            deleted=self.deleted,
            fetch_blob=self.store.blob,
        )

    def search_phrase(
        self,
        query: str | list[str],
        k: int = PAGE_SIZE,
        gap: int = 0,
        slop: int = 0,
    ) -> list[tuple[int, int, list[int]]]:
        """Exact-phrase (or slop-window proximity) top-k:
        [(doc_id, phrase_tf, match_starts)], ranked by phrase_tf desc,
        doc_id asc. gap=0 matches Japanese text (positions abut); gap=1
        space-separated corpora.

        Runs on the driver with no Spark job (df-mode tombstones aside):
        the blob store reads the blocks and ``phrase.phrase_topk``
        matches them. The rarest term's blocks are walked in doc order,
        ``prefetch_blocks`` at a time; for each window only the other
        terms' blocks overlapping its doc range are fetched, and the
        window's top-k merges into the running one — the forward-window
        rule WAND follows, so driver bytes stay bounded by a window, not
        by posting-list size. Reads THIS searcher's snapshot and
        tombstones, as ``search`` does."""
        from myaku_spark.operators.codec import decode_blocks_batch
        from myaku_spark.operators.phrase import phrase_topk, term_postings

        if isinstance(query, str):
            terms = [normalize_char_width(t) for t in query.split()]
        else:
            terms = [normalize_char_width(t) for t in query]
        if not terms:
            raise ValueError("phrase requires at least one term")
        uniq = list(dict.fromkeys(terms))
        top: list[tuple[int, int, list[int]]] = []
        with self._lock:
            self.store.meta_rows(uniq)
            metas = {t: self.store.meta.get(t, []) for t in uniq}
            if not all(metas.values()):
                return top  # conjunctive: an absent term matches nothing
            rare = min(
                uniq, key=lambda t: (sum(r.n_postings for r in metas[t]), t)
            )
            ranges = {  # each other term's block doc ranges
                t: (
                    np.array([r.min_doc for r in metas[t]], dtype=np.int64),
                    np.array([r.max_doc for r in metas[t]], dtype=np.int64),
                )
                for t in uniq
                if t != rare
            }
            for window, lo, hi in _doc_windows(
                metas[rare], self.store.prefetch_blocks
            ):
                blocks = {rare: window}
                for t, (min_doc, max_doc) in ranges.items():
                    overlap = (min_doc <= hi) & (max_doc >= lo)
                    blocks[t] = [metas[t][i] for i in np.flatnonzero(overlap)]
                if not all(blocks.values()):
                    continue
                blobs = {
                    t: [self.store.blob(t, r.group, r.block_id) for r in rows]
                    for t, rows in blocks.items()
                }
                deleted = self.deleted  # read after the fetches fill a view
                if isinstance(deleted, TombstoneView):
                    deleted = deleted.array
                postings = {
                    t: term_postings(decode_blocks_batch(b), (lo, hi), deleted)
                    for t, b in blobs.items()
                }
                top = sorted(
                    top + phrase_topk(postings, terms, gap, slop, k),
                    key=lambda hit: (-hit[1], hit[0]),
                )[:k]
        return top

    def search(
        self,
        query: str | list[str],
        k: int = PAGE_SIZE,
        combine: str = "and",
        exhaustive: bool = False,
        query_type: str = "exact",
    ) -> list[tuple[float, int]]:
        """Top-k (score, doc_id) for the query terms.

        ``exhaustive=True`` runs the full-scan oracle instead of WAND —
        used by tests to assert rank-identity of the two paths.

        ``query_type`` is the reference's EXACT/DEFINITE/POSSIBLE axis
        (datastore/__init__.py:26-68): a field-indirection where all
        three currently select the same match group and score — the
        reference declares DEFINITE/POSSIBLE 'not implemented; EXACT
        used for everything', and the FLI documents store the three
        field families as aliases (document_convert.py:204-222). The
        parameter is validated here so the API contract matches."""
        from myaku_spark.operators.fli_docs import QUERY_TYPE_SCORE_FIELD

        if query_type not in QUERY_TYPE_SCORE_FIELD:
            raise ValueError(f"unknown query_type: {query_type!r}")
        if isinstance(query, str):
            terms = [normalize_char_width(t) for t in query.split()]
        else:
            terms = [normalize_char_width(t) for t in query]
        self._lock.acquire()
        try:
            return self._search_locked(terms, k, combine, exhaustive)
        finally:
            self._lock.release()

    def _search_locked(self, terms, k, combine, exhaustive):
        by_term = self._cursors(terms)
        cursors = list(by_term.values())
        # Intersection semantics: a query term absent from the index
        # means NO document contains all terms — return empty instead of
        # silently intersecting only the present terms (matches the
        # relational n_matched == len(terms) filter and the reference's
        # per-term $in lookup, index_search.py:207-248).
        if combine == "and" and len(by_term) < len(set(terms)):
            return []
        if not cursors:
            return []
        if exhaustive:
            return exhaustive_topk(cursors, k, mode=combine)
        if combine == "and":
            return wand_topk_and(cursors, k)
        return wand_topk_or(cursors, k)

    def hydrate(self, results: list[tuple[float, int]]) -> DataFrame:
        """J1: the docs rows of ``results`` (score, doc_id) plus their
        ``score`` and 1-based ``rank``, in rank order.

        One pyarrow read with ``doc_id IN (ids)`` pushed down to parquet;
        score and rank attach by each row's position in the id list, and
        the rows come back as a LocalRelation, so ``collect()`` runs no
        Spark job. Columns and types are those of a Spark read of the
        docs table (its ``group`` partition column included)."""
        if not results:
            empty = pa.schema(
                [("doc_id", pa.int64()), ("score", pa.float64())]
            ).empty_table()
            return _arrow_frame(self.spark, empty)
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        ids = pa.array([int(d) for _, d in results], pa.int64())
        docs = self._dataset("docs").to_table(
            filter=ds.field("doc_id").isin(ids)
        )
        pos = pc.index_in(docs.column("doc_id"), value_set=ids)
        scores = pa.array([float(s) for s, _ in results], pa.float64())
        docs = (
            docs.select(
                ["doc_id", *[c for c in docs.column_names if c != "doc_id"]]
            )
            .append_column("score", pc.take(scores, pos))
            .append_column("rank", pc.add(pos.cast(pa.int64()), 1))
            .sort_by("rank")
        )
        return _arrow_frame(self.spark, docs)

    def search_page(
        self,
        query,
        page_num: int = 1,
        k: int = PAGE_SIZE,
        combine: str = "and",
        user_id: str | None = None,
        async_precompute: bool = False,
    ) -> DataFrame:
        """K2 pagination: page N of results, hydrated.

        With a ``user_id``, the per-user next-page cache serves the page
        when the user just visited an adjacent page of the same query,
        and the pages at page_num ± 1 are pre-computed into the user's
        forward/backward slots (NextPageCache semantics,
        cache.py:316-459).

        ``async_precompute=True`` mirrors the reference's celery worker
        (search/tasks.py:13-43, fired AFTER the response at
        views.py:364-365): the requested page computes with exactly
        k·page_num results and returns immediately; the adjacent-slot
        computation runs on a daemon thread (serialized with interactive
        searches via the evaluator lock). join_precompute() drains it."""
        if isinstance(query, str):
            terms = [normalize_char_width(t) for t in query.split()]
        else:
            terms = [normalize_char_width(t) for t in query]
        page = None
        if user_id is not None:
            page = self.page_cache.get(user_id, terms, combine, page_num)
        if page is None and async_precompute and user_id is not None:
            top = self.search(terms, k * page_num, combine)
            page = top[(page_num - 1) * k : page_num * k]

            def _precompute():
                full = self.search(terms, k * (page_num + 1), combine)
                self.page_cache.set(
                    user_id, 1, terms, combine, page_num + 1,
                    full[page_num * k : (page_num + 1) * k],
                )
                if page_num > 1:
                    self.page_cache.set(
                        user_id, -1, terms, combine, page_num - 1,
                        full[(page_num - 2) * k : (page_num - 1) * k],
                    )

            t = threading.Thread(
                target=_precompute, daemon=True, name="next-page-precompute"
            )
            t.start()
            self._precompute_threads.append(t)
        elif page is None:
            top = self.search(terms, k * (page_num + 1), combine)
            page = top[(page_num - 1) * k : page_num * k]
            if user_id is not None:
                nxt = top[page_num * k : (page_num + 1) * k]
                self.page_cache.set(
                    user_id, 1, terms, combine, page_num + 1, nxt
                )
                if page_num > 1:
                    prev = top[(page_num - 2) * k : (page_num - 1) * k]
                    self.page_cache.set(
                        user_id, -1, terms, combine, page_num - 1, prev
                    )
        return self.hydrate(page)

    def join_precompute(self) -> None:
        """Wait for outstanding async precompute workers (tests/shutdown)."""
        for t in self._precompute_threads:
            t.join()
        self._precompute_threads.clear()
