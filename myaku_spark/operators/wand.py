"""Block-max WAND top-k over compressed posting segments.

Query-side evaluator for the segment layout of segments.py. The
correctness contract (tested in tests/test_wand.py): for every query,
WAND top-k == exhaustive top-k (DataFrame window / full-scan scoring),
under the total rank key (score DESC, doc_id DESC). Myaku rank mode uses
the integer quality score payload exactly as the reference's sorted
index scan does (/root/reference/myaku/datastore/index_search.py:224-231
backed by database.py:312-323); BM25 mode stores dl as the payload and
derives sound block upper bounds from (max_tf, min_dl) block metadata.

Skipping rules use full rank-key tuples, never scores alone, so ties
broken by doc_id survive pruning: a block whose
(upper_bound, max_doc) <= (heap_min_score, heap_min_doc) cannot contain
a winner, because every candidate in it has score <= upper_bound and
doc_id <= max_doc.
"""

from __future__ import annotations

import heapq
import math
from dataclasses import dataclass, field
from functools import partial

import numpy as np

from myaku_spark.operators.codec import decode_block

INF = float("inf")


# --- scorers -----------------------------------------------------------------


class MyakuScorer:
    """Integer quality-score payload; exact block maxes."""

    def score(self, tf: int, payload: int) -> float:
        return float(payload)

    def block_upper(self, block_meta: dict) -> float:
        return float(block_meta["max_score"])


@dataclass
class BM25Scorer:
    idf: float
    avgdl: float
    k1: float = 1.2
    b: float = 0.75

    def score(self, tf: int, payload: int) -> float:
        dl = payload
        return (
            self.idf
            * tf
            * (self.k1 + 1.0)
            / (tf + self.k1 * (1.0 - self.b + self.b * dl / self.avgdl))
        )

    def block_upper(self, block_meta: dict) -> float:
        # With idf > 0, BM25 is increasing in tf and decreasing in dl →
        # (max_tf, min_dl) gives a sound per-block upper bound. idf < 0
        # once df exceeds n_docs (df keeps counting tombstoned docs
        # until compaction, n_docs does not); every score is then <= 0.
        if self.idf < 0:
            return 0.0
        return self.score(block_meta["max_tf"], block_meta["min_dl"])


# --- term cursor over lazily-decoded blocks ----------------------------------


class TombstoneView:
    """Grow-only sorted deleted-id accumulator for df-mode tombstones
    (delete vectors beyond driver size, r4 verdict #2): the two-phase
    store resolves deletes per FETCH WINDOW — a semi-join of the
    fetched blocks' decoded doc ids against the delete-vector
    DataFrame, so driver bytes stay bounded by opened postings, never
    the vector — and merges the hits here. _Block.ensure_decoded reads
    ``.array`` only AFTER its blob fetch ran, so the ids relevant to
    the block are always present by the time the isin filter runs."""

    def __init__(self):
        self.array = np.empty(0, dtype=np.int64)

    def add(self, ids: np.ndarray) -> None:
        if len(ids):
            self.array = np.union1d(self.array, ids)


def _deleted_array(deleted) -> np.ndarray | None:
    """Normalize a tombstone collection to a SORTED int64 array (or None)
    so block decode filters with one vectorized np.isin — never a
    per-posting Python membership loop. TombstoneViews pass through
    unchanged (resolved lazily per block)."""
    if deleted is None:
        return None
    if isinstance(deleted, TombstoneView):
        return deleted
    if isinstance(deleted, np.ndarray):
        return deleted if deleted.size else None
    if not deleted:
        return None
    return np.sort(np.fromiter(deleted, dtype=np.int64, count=len(deleted)))


@dataclass
class _Block:
    min_doc: int
    max_doc: int
    meta: dict
    blob: bytes | None
    deleted: np.ndarray | None = None  # SORTED tombstoned doc_ids
    fetch: object = None  # lazy blob loader (two-phase segment access)
    doc_ids: np.ndarray | None = None
    tfs: np.ndarray | None = None
    payload: np.ndarray | None = None

    def ensure_decoded(self):
        if self.doc_ids is None:
            if self.blob is None:
                # Two-phase read: the blob was never shipped with the
                # metadata — fetch it (and a forward window of its
                # neighbors) only now that WAND actually needs it.
                self.blob = self.fetch()
            dec = decode_block(self.blob)
            doc_ids, tfs, payload = dec["doc_ids"], dec["tfs"], dec["scores"]
            d = self.deleted
            if isinstance(d, TombstoneView):
                # df-mode: the fetch that just ran resolved this
                # window's deleted ids into the view.
                d = d.array
            if d is not None and d.size:
                # Range probe first: most blocks contain no tombstoned
                # doc at all and skip the isin entirely.
                lo = np.searchsorted(d, doc_ids[0] if doc_ids.size else 0)
                hi = np.searchsorted(
                    d, doc_ids[-1] if doc_ids.size else 0, side="right"
                )
                if lo < hi:
                    keep = ~np.isin(doc_ids, d[lo:hi], assume_unique=True)
                    doc_ids, tfs, payload = (
                        doc_ids[keep], tfs[keep], payload[keep],
                    )
            self.doc_ids = doc_ids
            self.tfs = tfs
            self.payload = payload


@dataclass
class TermCursor:
    term: str
    blocks: list  # sorted by min_doc
    scorer: object
    term_upper: float = field(init=False)
    bi: int = 0
    pi: int = 0

    def __post_init__(self):
        self.term_upper = max(
            (self.scorer.block_upper(b.meta) for b in self.blocks), default=0.0
        )
        self._position()

    def _position(self):
        while self.bi < len(self.blocks):
            b = self.blocks[self.bi]
            b.ensure_decoded()
            if self.pi < len(b.doc_ids):
                return
            self.bi += 1
            self.pi = 0

    @property
    def exhausted(self) -> bool:
        return self.bi >= len(self.blocks)

    @property
    def cur_doc(self) -> int:
        if self.exhausted:
            return 1 << 62
        return int(self.blocks[self.bi].doc_ids[self.pi])

    def cur_score(self) -> float:
        b = self.blocks[self.bi]
        return self.scorer.score(int(b.tfs[self.pi]), int(b.payload[self.pi]))

    def cur_block_upper(self) -> float:
        if self.exhausted:
            return 0.0
        return self.scorer.block_upper(self.blocks[self.bi].meta)

    def cur_block_max_doc(self) -> int:
        if self.exhausted:
            return 1 << 62
        return self.blocks[self.bi].max_doc

    def advance(self):
        """Next posting."""
        if self.exhausted:
            return
        self.pi += 1
        self._position()

    def skip_to(self, target: int):
        """First posting with doc_id >= target (block-level skip first)."""
        if self.exhausted:
            return
        # Skip whole blocks by max_doc without decoding them.
        while self.bi < len(self.blocks) and self.blocks[self.bi].max_doc < target:
            self.bi += 1
            self.pi = 0
        if self.bi >= len(self.blocks):
            return
        b = self.blocks[self.bi]
        b.ensure_decoded()
        self.pi = int(np.searchsorted(b.doc_ids, target, side="left"))
        self._position()


def cursors_from_segments(
    rows, scorer_for_term, deleted=None, fetch_blob=None
) -> dict[str, TermCursor]:
    """Segment rows (dicts or Rows with term/block fields) → one cursor
    per term.

    Each row carries its ``blob``, or, when ``fetch_blob(term, group,
    block_id)`` is given, block METADATA only: the blob is then fetched
    the first time WAND decodes the block (two-phase read), so skipped
    blocks never reach the driver. Block-max skipping works on the
    metadata alone. ``deleted`` doc_ids (tombstones from incremental
    re-index) are filtered out at block-decode time; block-max metadata
    remains a sound upper bound."""
    deleted = _deleted_array(deleted)
    by_term: dict[str, list[_Block]] = {}
    for r in rows:
        d = r.asDict() if hasattr(r, "asDict") else dict(r)
        term = d["term"]
        blob = fetch = None
        if fetch_blob is None:
            blob = bytes(d["blob"])
        else:
            fetch = partial(fetch_blob, term, d.get("group", 0), d["block_id"])
        by_term.setdefault(term, []).append(
            _Block(
                min_doc=d["min_doc"],
                max_doc=d["max_doc"],
                meta={
                    "max_score": d["max_score"],
                    "max_tf": d["max_tf"],
                    "min_dl": d["min_dl"],
                },
                blob=blob,
                deleted=deleted,
                fetch=fetch,
            )
        )
    out = {}
    for term, blocks in by_term.items():
        blocks.sort(key=lambda b: b.min_doc)
        out[term] = TermCursor(term, blocks, scorer_for_term(term))
    return out


# --- top-k evaluators ---------------------------------------------------------


def _heap_push(heap: list, key: tuple, k: int):
    if len(heap) < k:
        heapq.heappush(heap, key)
    elif key > heap[0]:
        heapq.heapreplace(heap, key)


def _theta(heap: list, k: int) -> tuple:
    return heap[0] if len(heap) == k else (-INF, -1)


def wand_topk_or(
    cursors: list[TermCursor], k: int = 10
) -> list[tuple[float, int]]:
    """Disjunctive block-max WAND: top-k by summed per-term score.

    Returns [(score, doc_id)] sorted by (score DESC, doc_id DESC)."""
    heap: list[tuple[float, int]] = []
    cursors = [c for c in cursors if not c.exhausted]
    while True:
        cursors = [c for c in cursors if not c.exhausted]
        if not cursors:
            break
        cursors.sort(key=lambda c: c.cur_doc)
        theta = _theta(heap, k)
        # Pivot: first prefix whose term-upper sum could beat theta's score
        # (>= because doc_id tie-break can still win on equal score).
        acc = 0.0
        pivot = -1
        for i, c in enumerate(cursors):
            acc += c.term_upper
            if acc >= theta[0]:
                pivot = i
                break
        if pivot == -1:
            break
        pivot_doc = cursors[pivot].cur_doc
        if cursors[0].cur_doc == pivot_doc:
            # The full equality group: cursors past the pivot may sit at
            # the same doc and must be scored/advanced together.
            group = [c for c in cursors if c.cur_doc == pivot_doc]
            # Block-max refinement: sum of the group's current block uppers.
            block_acc = sum(c.cur_block_upper() for c in group)
            if (block_acc, pivot_doc) <= theta:
                for c in group:
                    c.advance()
                continue
            score = sum(c.cur_score() for c in group)
            key = (score, pivot_doc)
            if key > theta:
                _heap_push(heap, key, k)
            for c in group:
                c.advance()
        else:
            # Advance lagging cursors up to the pivot document.
            for c in cursors[:pivot]:
                if c.cur_doc < pivot_doc:
                    c.skip_to(pivot_doc)
    return sorted(heap, key=lambda t: (-t[0], -t[1]))


def wand_topk_and(
    cursors: list[TermCursor], k: int = 10
) -> list[tuple[float, int]]:
    """Conjunctive (posting-list intersection) block-max top-k."""
    heap: list[tuple[float, int]] = []
    if not cursors or any(c.exhausted for c in cursors):
        return []
    while True:
        if any(c.exhausted for c in cursors):
            break
        candidate = max(c.cur_doc for c in cursors)
        aligned = True
        for c in cursors:
            if c.cur_doc < candidate:
                c.skip_to(candidate)
                if c.exhausted or c.cur_doc != candidate:
                    aligned = False
                    break
        if not aligned:
            continue
        if any(c.cur_doc != candidate for c in cursors):
            continue
        theta = _theta(heap, k)
        block_acc = sum(c.cur_block_upper() for c in cursors)
        if (block_acc, candidate) <= theta:
            # Whole aligned position cannot win; skip to the next doc
            # after the earliest-ending current block.
            nxt = min(c.cur_block_max_doc() for c in cursors) + 1
            for c in cursors:
                c.skip_to(max(nxt, candidate + 1))
            continue
        score = sum(c.cur_score() for c in cursors)
        key = (score, candidate)
        if key > theta:
            _heap_push(heap, key, k)
        for c in cursors:
            c.advance()
    return sorted(heap, key=lambda t: (-t[0], -t[1]))


def exhaustive_topk(
    cursors: list[TermCursor], k: int = 10, mode: str = "or"
) -> list[tuple[float, int]]:
    """Oracle: decode everything, brute-force the same rank key."""
    acc: dict[int, float] = {}
    counts: dict[int, int] = {}
    for c in cursors:
        for b in c.blocks:
            b.ensure_decoded()
            for i, d in enumerate(b.doc_ids):
                d = int(d)
                s = c.scorer.score(int(b.tfs[i]), int(b.payload[i]))
                acc[d] = acc.get(d, 0.0) + s
                counts[d] = counts.get(d, 0) + 1
    items = [
        (s, d)
        for d, s in acc.items()
        if mode == "or" or counts[d] == len(cursors)
    ]
    items.sort(key=lambda t: (-t[0], -t[1]))
    return items[:k]


def stats_for_bm25(n_docs: int, df: int) -> float:
    return math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)
