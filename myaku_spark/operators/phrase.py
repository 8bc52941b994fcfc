"""Positional phrase search over posting segments.

The segments already carry per-posting (start, len) position lists
(codec.py stores them in each block exactly for this); phrase
evaluation is the standard positional-intersection: intersect the
phrase terms' doc sets, then chain-match positions so each next term
starts where the previous one ended (+ a separator ``gap`` — 1 for
space-separated corpora, 0 for Japanese text, mirroring how the
reference's found-lexical-item positions are raw char offsets,
myaku/datatypes.py ArticleTextPosition).

One evaluator, ``phrase_topk``: numpy over the decoded blocks of the
phrase's terms (``codec.decode_blocks_batch`` then ``term_postings``).
Positions are keyed by (doc rank, start) and each chain step is a
``searchsorted`` probe, the vectorized block intersection of the
columnar inverted-index literature instead of a row-at-a-time match.
It runs in two places:

- ``IndexSearcher.search_phrase``, on the driver: the searcher's blob
  store reads the blocks one doc-range window at a time, so an
  interactive phrase runs no Spark job.
- ``batch_phrase_search``, in Spark: the batch front ``batch_search``
  uses (explode (query_id, term), join the term-pruned segment blocks,
  repartition by query_id) feeds each query's blocks to the kernel in
  ``groupBy("query_id").applyInArrow``. ``phrase_search`` is a batch
  of one.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from myaku_spark.functions.widthnorm import normalize_char_width
from myaku_spark.session import local_frame

POSTINGS_SCHEMA = (
    "term string, doc_id long, tf long, starts array<int>, lens array<int>, "
    "payload long"
)


def _positions_per_posting(dec: dict) -> np.ndarray:
    """Position-list length per posting of a ``decode_blocks_batch``
    result: its tf when its block stores positions, else 0."""
    has_pos = np.diff(dec["pos_off"]) > 0
    return np.where(np.repeat(has_pos, dec["n_per"]), dec["tfs"], 0)


def decode_postings(segments: DataFrame) -> DataFrame:
    """Segment block rows → (term, doc_id, tf, starts, lens, payload)
    postings.

    mapInArrow kernel with NO per-posting Python loop: the codec hands
    back flat position arrays, and the output position lists are Arrow
    ListArrays assembled directly from numpy offsets — the decode-side
    mirror of segments._encode_rows. Python touches one object per
    BLOCK, never per posting or position."""

    def gen(batches):
        from myaku_spark.operators.codec import decode_blocks_batch

        out_schema = pa.schema(
            [
                ("term", pa.string()),
                ("doc_id", pa.int64()),
                ("tf", pa.int64()),
                ("starts", pa.list_(pa.int32())),
                ("lens", pa.list_(pa.int32())),
                ("payload", pa.int64()),
            ]
        )
        for rb in batches:
            names = rb.schema.names
            terms = rb.column(names.index("term")).to_pylist()
            blobs = rb.column(names.index("blob")).to_pylist()
            if not blobs:
                continue
            # One vectorized decode for the whole batch of blocks.
            dec = decode_blocks_batch(blobs)
            ptf = _positions_per_posting(dec)
            offsets = pa.array(
                np.concatenate(([0], np.cumsum(ptf))).astype(np.int32)
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(
                        np.repeat(np.asarray(terms, dtype=object), dec["n_per"]),
                        type=pa.string(),
                    ),
                    pa.array(dec["doc_ids"]),
                    pa.array(dec["tfs"]),
                    pa.ListArray.from_arrays(
                        offsets, pa.array(dec["pos_starts"].astype(np.int32))
                    ),
                    pa.ListArray.from_arrays(
                        offsets, pa.array(dec["pos_lens"].astype(np.int32))
                    ),
                    pa.array(dec["scores"]),
                ],
                schema=out_schema,
            )

    return segments.select("term", "blob").mapInArrow(gen, POSTINGS_SCHEMA)


def term_postings(dec: dict, doc_range=None, deleted=None) -> tuple:
    """One term's postings from a ``codec.decode_blocks_batch`` result as
    the ``(doc_ids, n_pos, starts, lens)`` arrays ``phrase_topk`` reads.
    ``n_pos`` is each posting's position count: its tf when its block
    stores positions, else 0. Postings outside ``doc_range`` (lo, hi)
    or in the SORTED ``deleted`` array drop with their positions."""
    ids = dec["doc_ids"]
    n_pos = _positions_per_posting(dec)
    keep = np.ones(ids.size, dtype=bool)
    if doc_range is not None:
        keep &= (ids >= doc_range[0]) & (ids <= doc_range[1])
    if deleted is not None and deleted.size:
        keep &= ~np.isin(ids, deleted)
    pos_keep = np.repeat(keep, n_pos)
    return (
        ids[keep], n_pos[keep],
        dec["pos_starts"][pos_keep], dec["pos_lens"][pos_keep],
    )


def phrase_topk(
    postings: dict,
    terms: list[str],
    gap: int = 0,
    slop: int = 0,
    k: int = 10,
) -> list[tuple[int, int, list[int]]]:
    """Top-k ``[(doc_id, phrase_tf, match_starts)]`` for the phrase
    ``terms`` (at least one) over ``postings`` ({term: the arrays of
    :func:`term_postings`}), ranked by phrase_tf desc, doc_id asc.

    Semantics: every distinct term must
    occur in the doc; the next term starts at ``end + gap`` (slop 0) or
    anywhere in ``[end + gap, end + gap + slop]``, in which case chains
    branch over every occurrence in the window and equal (head, end)
    pairs merge; ``match_starts`` lists the distinct chain heads in the
    order of the first term's positions. A repeated term re-probes its
    own positions.

    Vectorized shape: intersect the doc sets, key every position by
    (dense rank of its doc among the candidates, start) — doc ids are
    int64, so they are ranked rather than packed — then each step is
    two ``searchsorted`` probes per chain and an ``np.repeat`` branch
    over the hits."""
    uniq = list(dict.fromkeys(terms))
    if k <= 0 or any(t not in postings for t in uniq):
        return []
    docs = np.unique(postings[uniq[0]][0])
    for t in uniq[1:]:
        docs = np.intersect1d(docs, postings[t][0])
    if docs.size == 0:
        return []
    pos = {}  # term -> (doc rank, start, len) of its candidate positions
    for t in uniq:
        ids, n_pos, starts, lens = postings[t]
        rank = np.minimum(np.searchsorted(docs, ids), docs.size - 1)
        p_rank = np.repeat(np.where(docs[rank] == ids, rank, -1), n_pos)
        sel = p_rank >= 0
        pos[t] = (p_rank[sel], starts[sel], lens[sel])
    # key = rank * span + start; a probe value outside [0, span) is
    # clipped so that it can never reach a neighboring doc's keys
    span = 1 + max(
        (int(p[1].max()) for p in pos.values() if p[1].size), default=0
    )
    keyed = {}
    for t in set(terms[1:]):
        p_rank, starts, lens = pos[t]
        keys = p_rank * span + starts
        order = np.argsort(keys, kind="stable")
        keyed[t] = (keys[order], starts[order], lens[order])
    h_rank, h_start, h_len = pos[terms[0]]
    order = np.argsort(h_rank, kind="stable")  # by doc, stored order within
    h_rank, h_start = h_rank[order], h_start[order]
    c_head = np.arange(h_rank.size)  # chains: head index, doc rank, end
    c_rank, c_end = h_rank, h_start + h_len[order]
    for t in terms[1:]:
        keys, starts, lens = keyed[t]
        lo = c_end + gap
        first = np.searchsorted(keys, c_rank * span + np.clip(lo, 0, span))
        last = np.searchsorted(
            keys, c_rank * span + np.clip(lo + slop, -1, span - 1), "right"
        )
        n = np.maximum(last - first, 0)
        parent = np.repeat(np.arange(n.size), n)
        child = first[parent] + np.arange(parent.size) - np.repeat(
            np.cumsum(n) - n, n
        )
        c_head, c_rank = c_head[parent], c_rank[parent]
        c_end = starts[child] + lens[child]
        if slop and c_head.size:  # merge equal chains, or branches multiply
            order = np.lexsort((c_end, c_head))
            c_head, c_rank, c_end = c_head[order], c_rank[order], c_end[order]
            new = np.ones(order.size, dtype=bool)
            new[1:] = (np.diff(c_head) != 0) | (np.diff(c_end) != 0)
            c_head, c_rank, c_end = c_head[new], c_rank[new], c_end[new]
    heads = np.unique(c_head)
    ranks, first, tf = np.unique(
        h_rank[heads], return_index=True, return_counts=True
    )
    doc_ids = docs[ranks]
    return [
        (
            int(doc_ids[i]),
            int(tf[i]),
            h_start[heads[first[i] : first[i] + tf[i]]].tolist(),
        )
        for i in np.lexsort((doc_ids, -tf))[:k]
    ]


def phrase_search(
    spark: SparkSession,
    source,
    terms: list[str],
    k: int = 10,
    gap: int = 0,
    slop: int = 0,
) -> DataFrame:
    """Top-k (doc_id, phrase_tf, match_starts) for one phrase, ranked by
    phrase_tf desc, doc_id asc: ``batch_phrase_search`` over a batch of
    one query, with the same ``source`` argument."""
    return (
        batch_phrase_search(
            spark, source, [("q", list(terms))], k=k, gap=gap, slop=slop
        )
        .orderBy("rank")
        .select("doc_id", "phrase_tf", "match_starts")
    )


def _phrase_runner(phrases: dict, k, gap, slop, deleted_bc, schema):
    """applyInArrow kernel: one query's joined segment block rows →
    its top-k, decoded per term and matched by ``phrase_topk``.
    ``phrases``: {query_id: terms in phrase order, repeats kept}."""

    def run(table: pa.Table) -> pa.Table:
        # Imported on the worker: a closure over this module's globals
        # would pickle whatever they hold on the driver at call time.
        from myaku_spark.operators.batch_search import _deleted_ids
        from myaku_spark.operators.codec import decode_blocks_batch
        from myaku_spark.operators.phrase import phrase_topk, term_postings

        qid = table.column("query_id")[0].as_py()
        deleted = _deleted_ids(table, deleted_bc)
        blobs: dict[str, list[bytes]] = {}
        for t, b in zip(
            table.column("term").to_pylist(), table.column("blob").to_pylist()
        ):
            blobs.setdefault(t, []).append(b)
        postings = {
            t: term_postings(decode_blocks_batch(b), None, deleted)
            for t, b in blobs.items()
        }
        # A term with no blocks leaves it out of ``postings``: no rows.
        top = phrase_topk(postings, phrases[qid], gap, slop, k)
        return pa.table(
            [
                [qid] * len(top),
                list(range(1, len(top) + 1)),
                [d for d, _, _ in top],
                [tf for _, tf, _ in top],
                [starts for _, _, starts in top],
            ],
            schema=schema,
        )

    return run


def batch_phrase_search(
    spark: SparkSession,
    source,
    queries,
    k: int = 10,
    gap: int = 0,
    slop: int = 0,
) -> DataFrame:
    """Top-k phrase matches for N queries in one lazy Spark plan whose
    size is constant in N: the front ``batch_search`` uses
    (``batch_search._query_blocks``: the batch's term blocks joined to
    (query_id, term), the rarest-term doc-range prefilter when its auto
    gate says so, tombstones, one exchange on query_id), then
    ``phrase_topk`` per query in ``groupBy("query_id").applyInArrow``.

    ``source``: an index dir, or a DataFrame of segment rows (no
    tombstones, no prefilter). ``queries``: list[(query_id, [terms])];
    terms are width-normalized as the index's are, and a query with no
    terms yields no rows. Returns
    (query_id, rank, doc_id, phrase_tf, match_starts)."""
    from myaku_spark.operators.batch_search import _query_blocks
    from myaku_spark.plans import catalog

    schema = StructType.fromDDL(
        "query_id string, rank int, doc_id long, phrase_tf long,"
        " match_starts array<int>"
    )
    phrases = {
        str(qid): [normalize_char_width(t) for t in terms]
        for qid, terms in queries
    }
    paths = None if isinstance(source, DataFrame) else catalog.resolve(source)[1]
    rows, _, deleted_bc = _query_blocks(
        spark, source, paths, list(phrases.items()), "and", "auto"
    )
    if rows is None:
        return local_frame(spark, [], schema)
    return rows.groupBy("query_id").applyInArrow(
        _phrase_runner(
            phrases, k, gap, slop, deleted_bc, to_arrow_schema(schema)
        ),
        schema,
    )
