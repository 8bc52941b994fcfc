"""Distributed batched WAND: N queries evaluated in one Spark job.

The interactive path (operators/search.py) runs WAND on the driver with
lazy two-phase blob fetches — right for a single query, but a batch of
N queries pays N serial driver round-trips. Here the whole batch is one
hash exchange on query_id, then one applyInArrow stage over it:

    queries (query_id, terms[]) --explode--> (query_id, n_terms, term)
        ⋈ term segments (bucket partition pruning + parquet term
          pushdown — only the batch's terms are scanned)
        --[local master: repartition(defaultParallelism, query_id)]
        --groupBy(query_id)--> applyInArrow: block-max WAND per query
        --> (query_id, rank, doc_id, score)

A list of queries is built through Arrow as a LocalRelation, so
broadcasting it runs a one-task JVM job instead of a job on the Python
workers. Stage width: on a local master the exchange is a repartition
BY NUMBER into ``defaultParallelism`` partitions (one WAND task per
core), which AQE does not coalesce — a batch's blob shuffle is small
(about 150 KB for 128 queries over 480 blocks), and coalescing by bytes
would put every query in one Python task. The group-by reuses that
partitioning, so no second exchange is added. On a cluster master the
group-by's own exchange stays, sized by AQE and
``spark.sql.shuffle.partitions``: ``defaultParallelism`` there is the
cores registered at call time (few, under dynamic allocation), and the
fixed width was measured only on a local master.

Each query's candidate blocks ship to exactly one task, where the SAME
WAND evaluator the driver uses (operators/wand.py — one code path, one
correctness proof: tests assert batch == per-query == exhaustive) runs
with all block-max skipping intact. Scale shape: the shuffle volume is
Σ_q Σ_{t∈q} segment_bytes(t) — bounded by the batch's term footprint,
never the corpus; head terms shared by many queries are re-shipped per
query, the price of perfect per-query locality (a term-at-a-time
pre-score pass could trade that off, but loses conjunctive skipping).
Tombstones ride a broadcast sorted array applied at block decode.

The phrase batch (``phrase.batch_phrase_search``) shares this front,
``_query_blocks``, and differs only in its runner: ``phrase_topk`` in
place of WAND.

Reference anchor: this is the Spark-native form of Myaku's per-term
indexed query (datastore/index_search.py:207-248) lifted to query SETS,
the shape the north rule's 10^12-doc batch evaluation needs.
"""

from __future__ import annotations

import logging

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from myaku_spark.functions.widthnorm import normalize_char_width
from myaku_spark.operators.segments import read_term_segments, term_rows
from myaku_spark.session import local_frame

log = logging.getLogger(__name__)

BATCH_RESULT_SCHEMA = StructType(
    [
        StructField("query_id", StringType()),
        StructField("rank", IntegerType()),
        StructField("doc_id", LongType()),
        StructField("score", DoubleType()),
    ]
)
_RESULT_ARROW = to_arrow_schema(BATCH_RESULT_SCHEMA)

_SEG_COLS = [
    "term", "group", "block_id", "n_postings", "min_doc", "max_doc",
    "max_tf", "min_dl", "max_score", "blob",
]


def _deleted_ids(table: pa.Table, deleted_bc):
    """The sorted deleted doc ids a kernel drops from one query's rows:
    the broadcast array, or, in df mode (a delete vector beyond driver
    size), the per-block ``del_ids`` that arrived IN the rows via the
    binned interval join (tombstone_block_patches), unioned over this
    query's blocks."""
    deleted = deleted_bc.value if deleted_bc is not None else None
    if "del_ids" in table.column_names:
        arrs = [
            np.asarray(a, dtype=np.int64)
            for a in table.column("del_ids").to_pylist()
            if a
        ]
        if arrs:
            deleted = np.unique(np.concatenate(arrs))
    return deleted


def _make_runner(k: int, combine: str, mode: str, deleted_bc, bm25_stats):
    """applyInArrow kernel: one query's joined segment rows → top-k."""

    def run(table: pa.Table) -> pa.Table:
        from myaku_spark.operators.wand import (
            BM25Scorer,
            MyakuScorer,
            cursors_from_segments,
            stats_for_bm25,
            wand_topk_and,
            wand_topk_or,
        )

        empty = _RESULT_ARROW.empty_table()
        if table.num_rows == 0:
            return empty
        qid = table.column("query_id")[0].as_py()
        n_terms = table.column("n_terms")[0].as_py()
        present = len(table.column("term").unique())
        # Conjunctive contract: a term with no postings at all means no
        # document can match (search.py:321 parity).
        if combine == "and" and present < n_terms:
            return empty
        deleted = _deleted_ids(table, deleted_bc)
        if mode == "myaku":
            scorer_for_term = lambda term: MyakuScorer()  # noqa: E731
        else:
            n_docs, avgdl, df_map = bm25_stats
            scorer_for_term = lambda term: BM25Scorer(  # noqa: E731
                idf=stats_for_bm25(n_docs, df_map.get(term, 0)), avgdl=avgdl
            )
        rows = table.select(_SEG_COLS).to_pylist()
        cursors = list(
            cursors_from_segments(rows, scorer_for_term, deleted=deleted).values()
        )
        top = (
            wand_topk_and(cursors, k)
            if combine == "and"
            else wand_topk_or(cursors, k)
        )
        if not top:
            return empty
        return pa.table(
            [
                [qid] * len(top),
                list(range(1, len(top) + 1)),
                [d for _, d in top],
                [s for s, _ in top],
            ],
            schema=_RESULT_ARROW,
        )

    return run


def _joined_blocks(
    spark: SparkSession,
    paths: dict,
    qterms: DataFrame,
    terms: list[str],
    combine: str,
    prefilter_and: bool,
) -> DataFrame:
    """(query_id, term) → candidate segment block rows (with blobs).

    For conjunctive batches, ``prefilter_and`` prunes every term's
    blocks to the doc ranges of the query's RAREST term BEFORE the
    shuffle: any doc matching all terms appears in the rarest term's
    postings, so blocks of other terms whose [min_doc, max_doc] overlaps
    none of the rare term's block ranges cannot contribute — at
    10^12-doc scale this is the difference between shipping a head
    term's full block set per query and shipping only the slices around
    the intersection. The rare ranges come off a metadata-only scan
    (blob column pruned) and broadcast back; results are provably
    unchanged (tests assert prefiltered == unfiltered == exhaustive)."""
    base = read_term_segments(spark, paths["segments"], terms)
    joined = base.select(*_SEG_COLS).join(F.broadcast(qterms), "term")
    if combine != "and" or not prefilter_and:
        return joined
    # Metadata-only pass (blob column pruned): per (query, term) gather
    # total postings + block ranges in one aggregation, then min_by picks
    # the rarest term's ranges per query — ONE small shuffle, no window,
    # no join back against the metadata. The explicit repartition on
    # query_id lets BOTH aggregations run on the same exchange
    # (hash(query_id) clusters (query_id, term) too); shuffle volume is
    # unchanged — collect_list partials ship every block range either
    # way. The price is skew: the first aggregation's parallelism is the
    # number of distinct query ids, so a batch of one or a few
    # conjunctive head-term queries funnels each query's block ranges
    # through one reducer.
    meta = base.select("term", "n_postings", "min_doc", "max_doc").join(
        F.broadcast(qterms.select("query_id", "term")), "term"
    )
    qt = meta.repartition("query_id").groupBy("query_id", "term").agg(
        F.sum("n_postings").alias("tp"),
        F.collect_list(F.struct("min_doc", "max_doc")).alias("ranges"),
    )
    rare_ranges = qt.groupBy("query_id").agg(
        F.min_by("ranges", F.struct("tp", "term")).alias("_ranges")
    )
    return (
        joined.join(F.broadcast(rare_ranges), "query_id", "left")
        .filter(
            F.col("_ranges").isNull()
            | F.expr(
                "exists(_ranges, r -> r.min_doc <= max_doc"
                " AND r.max_doc >= min_doc)"
            )
        )
        .drop("_ranges")
    )


# Below this segment footprint the prefilter's fixed stages (metadata
# scan + two small shuffles) cost more than the blob shuffle they avoid;
# above it the avoided shuffle grows with posting-list size while the
# fixed cost stays flat. 256 MB ≈ the point where one head term's blobs
# outweigh the metadata pass on a 32-core box.
PREFILTER_MIN_SEGMENT_BYTES = 256 * 1024 * 1024


def _segment_bytes(path: str, cap: int) -> int | None:
    """Parquet bytes under a local segments dir, counted until they reach
    ``cap`` (early exit). None for a non-local store (no listable dir):
    callers assume large — at real cluster scale the prefilter always
    pays."""
    import os

    if not os.path.isdir(path):
        return None
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    continue
                if total >= cap:
                    return total
    return total


def _auto_prefilter(segments_path: str) -> bool:
    """``prefilter_and="auto"``: prefilter when the segment footprint
    reaches PREFILTER_MIN_SEGMENT_BYTES; logs the decision and why."""
    seen = _segment_bytes(segments_path, PREFILTER_MIN_SEGMENT_BYTES)
    on = seen is None or seen >= PREFILTER_MIN_SEGMENT_BYTES
    log.info(
        "batch prefilter_and=auto -> %s: segment footprint %s against "
        "PREFILTER_MIN_SEGMENT_BYTES=%d B",
        on,
        "unknown (not a local dir; assume large)" if seen is None
        else f"{'>= ' if on else ''}{seen} B",
        PREFILTER_MIN_SEGMENT_BYTES,
    )
    return on


def _query_blocks(
    spark: SparkSession, source, paths, queries, combine: str, prefilter_and
):
    """The shared front of both batches: ``(rows, terms, deleted_bc)``,
    where ``rows`` are each query's candidate segment blocks, laid out
    for a per-query ``groupBy("query_id").applyInArrow`` kernel that
    reads its deletes through ``_deleted_ids(table, deleted_bc)``.
    ``rows`` is None when the batch names no term.

    ``source`` is an index dir with its ``catalog.resolve`` ``paths``,
    or a DataFrame of segment rows with ``paths`` None (no tombstones;
    not prefiltered). ``queries``: list[(query_id,
    [terms])], already width-normalized, or a DataFrame with columns
    (query_id string, terms array<string>). ``terms`` is the batch's
    distinct term list."""
    from myaku_spark.plans.incremental import (
        resolve_tombstones,
        tombstone_block_patches,
    )

    if paths is None:
        prefilter_and = False
    elif prefilter_and == "auto":
        prefilter_and = _auto_prefilter(paths["segments"])
    terms: list[str] | None = None
    if not isinstance(queries, DataFrame):
        # List input: the distinct term set is already driver-local —
        # no Spark job needed to recover it (the DataFrame path below
        # pays one collect). The Arrow-built frame is a LocalRelation:
        # its broadcast reads it in one JVM task, not one Python-worker
        # task per core.
        terms = sorted({t for _, ts in queries for t in ts})
        queries = local_frame(
            spark, queries, "query_id string, terms array<string>"
        ).coalesce(1)
    qterms = queries.select(
        "query_id",
        F.size(F.array_distinct("terms")).alias("n_terms"),
        F.explode(F.array_distinct("terms")).alias("term"),
    )
    # Driver-side term list for bucket partition pruning (batch term sets
    # are driver-sized by construction; the segment rows are not).
    if terms is None:
        terms = [r.term for r in qterms.select("term").distinct().collect()]
    if not terms:
        return None, terms, None
    if paths is None:
        rows = term_rows(source, terms).join(F.broadcast(qterms), "term")
    else:
        rows = _joined_blocks(
            spark, paths, qterms, terms, combine, prefilter_and
        )

    deleted_bc = None
    if paths is not None:
        tmode, tpayload = resolve_tombstones(
            spark, source, path=paths["tombstones"]
        )
        if tmode == "array":
            deleted_bc = spark.sparkContext.broadcast(tpayload)
        elif tmode == "df":
            # Distributed delete-vector application: per-block deleted-id
            # arrays ride the joined rows (binned interval join keyed by
            # block), so the kernels see exactly the deletes their blocks
            # can contain — the vector itself never leaves the executors.
            seg_meta = read_term_segments(
                spark, paths["segments"], terms
            ).select("group", "bucket", "term", "block_id", "min_doc", "max_doc")
            patches = tombstone_block_patches(seg_meta, tpayload).drop(
                "bucket"
            )
            rows = rows.join(patches, ["group", "term", "block_id"], "left")
    sc = spark.sparkContext
    if sc.master.startswith("local"):
        # One kernel task per core: see the module docstring.
        rows = rows.repartition(sc.defaultParallelism, "query_id")
    return rows, terms, deleted_bc


def batch_search(
    spark: SparkSession,
    index_dir: str,
    queries,
    k: int = 10,
    combine: str = "and",
    mode: str = "myaku",
    prefilter_and="auto",
) -> DataFrame:
    """Top-k per query for a batch of queries; returns
    (query_id, rank, doc_id, score).

    ``queries``: list[(query_id, [terms])] or a DataFrame with columns
    (query_id string, terms array<string>). Terms are width-normalized
    with the same P6 function the index applies (symmetry contract).
    ``prefilter_and``: True/False force the conjunctive block prefilter;
    "auto" (default) enables it only when the segment footprint is big
    enough that the avoided blob shuffle beats the prefilter's fixed
    stage cost."""
    from myaku_spark.plans import catalog

    _, paths = catalog.resolve(index_dir)
    if not isinstance(queries, DataFrame):
        queries = [
            (str(qid), [normalize_char_width(t) for t in terms])
            for qid, terms in queries
        ]
    rows, terms, deleted_bc = _query_blocks(
        spark, index_dir, paths, queries, combine, prefilter_and
    )
    if rows is None:
        return local_frame(spark, [], BATCH_RESULT_SCHEMA)
    bm25_stats = None
    if mode == "bm25":
        r = spark.read.parquet(paths["corpus_stats"]).collect()[0]
        df_rows = (
            spark.read.parquet(paths["term_stats"])
            .filter(F.col("term").isin(terms))
            .groupBy("term")
            .agg(F.sum("df").alias("df"))
            .collect()
        )
        bm25_stats = (
            int(r.n_docs),
            float(r.avgdl),
            {x.term: int(x.df) for x in df_rows},
        )
    return rows.groupBy("query_id").applyInArrow(
        _make_runner(k, combine, mode, deleted_bc, bm25_stats),
        BATCH_RESULT_SCHEMA,
    )
