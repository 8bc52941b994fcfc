"""Term-partitioned, block-compressed posting segments.

This is the explicit materialization of what MongoDB's compound indexes
gave the reference implicitly (pre-sorted posting lists per term,
/root/reference/myaku/datastore/database.py:296-323), re-designed for a
10^12-doc corpus:

Segment row = one posting BLOCK:
    (bucket, term, block_id, n_postings, min_doc, max_doc,
     max_tf, min_dl, max_score, blob)

- ``bucket`` = pmod(xxhash64(term), N_BUCKETS): the parquet partition
  key → term-partition pruning at query time; parquet min/max +
  dictionary filters prune ``term`` within a bucket.
- Skew split (the north rule's head-term handling): terms with
  df > head_df_threshold are blocked by doc-id RANGE
  (block_id = doc_id div block_doc_range) so a けれども-class head term
  becomes thousands of independently-aggregated blocks — the
  groupBy(term, block_id) key is never hot. Tail terms (the vast
  majority) form one block each via a single grouped aggregation whose
  per-group size is bounded by the threshold.
- Block metadata carries the block-max values WAND needs: exact
  ``max_score`` for the Myaku integer rank mode, and (max_tf, min_dl)
  for a sound BM25 upper bound at query time.
- Blobs are codec.py posting blocks; their payload stream carries the
  integer payload of the index mode (quality score or dl).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

N_BUCKETS = 64
HEAD_DF_THRESHOLD = 4096
BLOCK_DOC_RANGE = 4096

SEGMENT_SCHEMA = StructType(
    [
        StructField("bucket", IntegerType()),
        StructField("term", StringType()),
        StructField("block_id", LongType()),
        StructField("n_postings", IntegerType()),
        StructField("min_doc", LongType()),
        StructField("max_doc", LongType()),
        StructField("max_tf", IntegerType()),
        StructField("min_dl", LongType()),
        StructField("max_score", LongType()),
        StructField("sum_tf", LongType()),
        StructField("blob", BinaryType()),
    ]
)
# A segments dir as it is read back: the segment rows plus the
# ``group=G`` partition column. Explicit, so that a segments dir with no
# part files (an index built from no pages) reads as zero rows.
SEGMENT_DIR_SCHEMA = StructType(
    [*SEGMENT_SCHEMA.fields, StructField("group", IntegerType())]
)


def term_bucket_col(term_col):
    return F.pmod(F.xxhash64(term_col), F.lit(N_BUCKETS)).cast("int")


def _encode_rows(batches):
    """mapInArrow: one input row per (term, block) with pre-aggregated
    primitive-list columns → one segment row. Flat value buffers + list
    offsets come straight off the Arrow arrays, and the whole batch of
    blocks encodes in ONE codec.encode_blocks_batch call — no
    per-posting Python objects."""
    import pyarrow as pa

    from myaku_spark.operators.codec import encode_blocks_batch

    out_schema = pa.schema(
        [
            ("bucket", pa.int32()),
            ("term", pa.string()),
            ("block_id", pa.int64()),
            ("n_postings", pa.int32()),
            ("min_doc", pa.int64()),
            ("max_doc", pa.int64()),
            ("max_tf", pa.int32()),
            ("min_dl", pa.int64()),
            ("max_score", pa.int64()),
            ("sum_tf", pa.int64()),
            ("blob", pa.binary()),
        ]
    )

    def list_parts(col):
        """(offsets int64 np, flat values np) of a ListArray column."""
        arr = col.combine_chunks() if hasattr(col, "combine_chunks") else col
        offs = np.asarray(arr.offsets)
        vals = np.asarray(arr.values)
        return offs, vals

    for rb in batches:
        n = rb.num_rows
        if n == 0:
            continue
        names = rb.schema.names
        has_pos = "pos_starts" in names
        terms = rb.column(names.index("term"))
        block_ids = np.asarray(rb.column(names.index("block_id")))
        buckets = np.asarray(rb.column(names.index("bucket")))
        min_dls = np.asarray(rb.column(names.index("min_dl")))
        d_off, d_vals = list_parts(rb.column(names.index("doc_ids")))
        t_off, t_vals = list_parts(rb.column(names.index("tfs")))
        p_off, p_vals = list_parts(rb.column(names.index("payloads")))
        # Rebase each flat array to its own offset 0 (sliced Arrow
        # arrays may start mid-buffer); per-row lengths are identical
        # across the parallel list columns by construction.
        d_vals = d_vals[d_off[0] : d_off[-1]]
        t_vals = t_vals[t_off[0] : t_off[-1]]
        p_vals = p_vals[p_off[0] : p_off[-1]]
        doc_off = (d_off - d_off[0]).astype(np.int64)
        if has_pos:
            # list<list<int32>>: outer offsets per block, inner per posting.
            ps_outer = rb.column(names.index("pos_starts"))
            pl_outer = rb.column(names.index("pos_lens"))
            if hasattr(ps_outer, "combine_chunks"):
                ps_outer = ps_outer.combine_chunks()
                pl_outer = pl_outer.combine_chunks()
            ps_oo = np.asarray(ps_outer.offsets)
            ps_io = np.asarray(ps_outer.values.offsets)
            ps_flat = np.asarray(ps_outer.values.values)
            pl_oo = np.asarray(pl_outer.offsets)
            pl_io = np.asarray(pl_outer.values.offsets)
            pl_flat = np.asarray(pl_outer.values.values)
            pos_off = ps_io[ps_oo].astype(np.int64)
            pl_off = pl_io[pl_oo].astype(np.int64)
            pos_starts = ps_flat[pos_off[0] : pos_off[-1]].astype(np.int64)
            pos_lens = pl_flat[pl_off[0] : pl_off[-1]].astype(np.int64)
            pos_off = pos_off - pos_off[0]
        else:
            pos_off = pos_starts = pos_lens = None
        blobs, meta = encode_blocks_batch(
            doc_off, d_vals, t_vals, p_vals, pos_off, pos_starts, pos_lens
        )
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(buckets.astype(np.int32)),
                terms.cast(pa.string()) if terms.type != pa.string() else terms,
                pa.array(block_ids.astype(np.int64)),
                pa.array(meta["n_postings"].astype(np.int32)),
                pa.array(meta["min_doc"]),
                pa.array(meta["max_doc"]),
                pa.array(meta["max_tf"].astype(np.int32)),
                pa.array(min_dls.astype(np.int64)),
                pa.array(meta["max_score"].astype(np.int64)),
                pa.array(meta["sum_tf"].astype(np.int64)),
                pa.array(blobs, type=pa.binary()),
            ],
            schema=out_schema,
        )


def build_segments(
    scored_postings: DataFrame,
    payload_col: str = "score",
    head_df_threshold: int = HEAD_DF_THRESHOLD,
    block_doc_range: int = BLOCK_DOC_RANGE,
    with_positions: bool = True,
) -> DataFrame:
    """postings (term, doc_id, tf[, positions], payload[, dl]) → segment rows.

    Two-path skew split on per-term df, then one applyInPandas over
    (term, block_id) groups — a shuffle whose hottest key holds at most
    max(head block population, head_df_threshold) rows.
    """
    tstats = scored_postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    p = (
        scored_postings.withColumnRenamed(payload_col, "payload")
        .join(tstats, "term")
        .withColumn("bucket", term_bucket_col(F.col("term")))
        # Single-pass head/tail block split: a filter-pair + union here
        # would compute the tstats join subtree twice (ReusedExchange
        # dedups only the shuffle write, not the join) — one
        # conditional block_id keeps one subtree and lets the
        # groupBy(term, block_id) below reuse the join's term
        # partitioning (term ⊆ grouping key ⇒ no second exchange).
        .withColumn(
            "block_id",
            F.when(
                F.col("df") > head_df_threshold,
                (F.col("doc_id") / F.lit(block_doc_range)).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        )
    )
    # Positions arrive either as struct arrays ('positions') or as
    # pre-split primitive arrays ('starts'/'lens', the ja_posting_rows
    # fast path).
    has_struct_pos = with_positions and "positions" in p.columns
    has_flat_pos = with_positions and "starts" in p.columns
    cols = ["bucket", "term", "block_id", "doc_id", "tf", "payload"]
    if has_struct_pos:
        cols.append("positions")
    if has_flat_pos:
        cols += ["starts", "lens"]
    has_dl = "dl" in p.columns
    if has_dl:
        cols.append("dl")
    both = p.select(*cols)

    # JVM-side block assembly: sort postings into one struct list per
    # (term, block), then peel aligned primitive arrays with transform()
    # so Arrow ships plain int lists (no per-posting Python objects).
    struct_fields = [F.col("doc_id"), F.col("tf"), F.col("payload")]
    if has_struct_pos:
        struct_fields.append(F.col("positions"))
    if has_flat_pos:
        struct_fields += [F.col("starts"), F.col("lens")]
    agg = both.groupBy("term", "block_id").agg(
        F.first("bucket").alias("bucket"),
        (F.min("dl") if has_dl else F.min(F.lit(0))).alias("min_dl"),
        F.array_sort(F.collect_list(F.struct(*struct_fields))).alias("plist"),
    )
    sel = [
        "term",
        "block_id",
        "bucket",
        "min_dl",
        F.expr("transform(plist, x -> x.doc_id)").alias("doc_ids"),
        F.expr("transform(plist, x -> x.tf)").alias("tfs"),
        F.expr("transform(plist, x -> x.payload)").alias("payloads"),
    ]
    if has_struct_pos:
        sel.append(
            F.expr(
                "transform(plist, x -> transform(x.positions, p -> p.start))"
            ).alias("pos_starts")
        )
        sel.append(
            F.expr(
                "transform(plist, x -> transform(x.positions, p -> p.len))"
            ).alias("pos_lens")
        )
    elif has_flat_pos:
        sel.append(F.expr("transform(plist, x -> x.starts)").alias("pos_starts"))
        sel.append(F.expr("transform(plist, x -> x.lens)").alias("pos_lens"))
    # NOTE: doc-range head blocking assumes DENSE doc ids (ids.py);
    # sparse/hashed ids would fragment head terms into 1-posting blocks.
    #
    # Encode-stage parallelism: the encode inherits the aggregation's
    # partitioning — the groupBy(term, block_id) runs on the tstats
    # join's term-hash exchange (no exchange of its own), and the
    # batch-vectorized encoder (codec.encode_blocks_batch) amortizes
    # per-task cost. A fixed 2x-cores fan-out before the encode measured
    # as a net loss: an extra exchange of the heavy array rows, +0.7 to
    # 1.4 s at bench scale.
    return agg.select(*sel).mapInArrow(_encode_rows, SEGMENT_SCHEMA)


def write_segments(segments: DataFrame, path: str, mode: str = "overwrite"):
    """Parquet partitioned by bucket; sorted by term within files so
    parquet row-group min/max stats prune term lookups."""
    (
        segments.repartition("bucket")
        .sortWithinPartitions("term", "block_id")
        .write.mode(mode)
        .partitionBy("bucket")
        .parquet(path)
    )


def term_rows(segments: DataFrame, terms: list[str]) -> DataFrame:
    """Only the buckets/rows of ``terms`` in a segments relation
    (partition pruning + parquet predicate pushdown on term). Buckets
    are computed driver-side with the pure-Python xxhash64 twin — no
    Spark job per lookup."""
    from myaku_spark.functions.xxh import term_bucket

    buckets = sorted({term_bucket(t, N_BUCKETS) for t in terms})
    return segments.filter(
        F.col("bucket").isin(buckets) & F.col("term").isin(terms)
    )


def read_term_segments(spark, path: str, terms: list[str]) -> DataFrame:
    """A fresh read of the segments dir at ``path``, cut to ``terms``."""
    return term_rows(spark.read.schema(SEGMENT_DIR_SCHEMA).parquet(path), terms)
