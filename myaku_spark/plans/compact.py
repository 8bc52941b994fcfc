"""Compaction: fold incremental delta groups + tombstones back into a
clean segment set (the k-way sorted segment merge, SURVEY §4 custom
work #3 — the reference delegates this to MongoDB upserts S6).

- a term's segment rows whose doc ranges overlap merge across groups in
  one applyInPandas kernel (newest run wins per doc — upsert-replace
  semantics), decoding and re-encoding through the batch codec;
- tombstoned postings are dropped during the merge re-encode;
- the docs table is rewritten without tombstoned rows;
- tombstones are cleared and corpus stats refreshed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from myaku_spark.operators.codec import decode_blocks_batch, encode_blocks_batch
from myaku_spark.operators.segments import SEGMENT_SCHEMA, write_segments


def _merge_with_tombstones(deleted):
    """``deleted``: a sorted int64 array of doc ids (driver-sized delete
    vectors, shipped in the closure), or None when the rows carry their
    own per-block ``del_ids`` arrays (df-mode: the vector stayed
    distributed and arrived via tombstone_block_patches).

    The kernel merges one (term, block_id) group: its blocks (one per
    group run) decode in one call, each doc keeps its posting from the
    newest run, tombstoned docs drop, and the survivors re-encode as
    one block."""

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        dels = [] if deleted is None else [deleted]
        if "del_ids" in pdf.columns:
            dels += [
                np.asarray(a, dtype=np.int64)
                for a in pdf["del_ids"]
                if isinstance(a, (list, np.ndarray))
            ]
        pdf = pdf.sort_values("run_order")
        dec = decode_blocks_batch([bytes(b) for b in pdf["blob"]])
        ids = dec["doc_ids"]
        m_per = np.diff(dec["pos_off"])
        ptf = np.where(np.repeat(m_per > 0, dec["n_per"]), dec["tfs"], 0)
        # Newest run wins: a stable sort by doc id keeps run order
        # within a doc, so its last posting is the newest.
        order = np.argsort(ids, kind="stable")
        last = np.ones(order.size, dtype=bool)
        last[:-1] = ids[order][1:] != ids[order][:-1]
        keep = order[last]
        if dels:
            keep = keep[~np.isin(ids[keep], np.concatenate(dels))]
        if keep.size == 0:
            return pd.DataFrame(
                [], columns=[f.name for f in SEGMENT_SCHEMA.fields]
            )
        # Gather the kept postings' position runs in the new order.
        runs = ptf[keep]
        src_head = np.concatenate(([0], np.cumsum(ptf)))[keep]
        dst_head = np.cumsum(runs) - runs
        pos_idx = np.repeat(src_head - dst_head, runs) + np.arange(runs.sum())
        blobs, meta = encode_blocks_batch(
            np.array([0, keep.size]),
            ids[keep],
            dec["tfs"][keep],
            dec["scores"][keep],
            np.array([0, pos_idx.size]),
            dec["pos_starts"][pos_idx],
            dec["pos_lens"][pos_idx],
        )
        first = pdf.iloc[-1]
        return pd.DataFrame(
            [
                {
                    "bucket": int(first["bucket"]),
                    "term": first["term"],
                    "block_id": int(first["block_id"]),
                    **{k: int(v[0]) for k, v in meta.items()},
                    "min_dl": int(pdf["min_dl"].min()),
                    "blob": blobs[0],
                }
            ],
            columns=[f.name for f in SEGMENT_SCHEMA.fields],
        )

    return merge


def _merge_runs(segs: DataFrame) -> DataFrame:
    """``segs`` with each ``block_id`` replaced by the ordinal, within
    its term, of the run of blocks whose doc ranges overlap: those merge
    into one block, and the rest stay apart. WAND needs a term's blocks
    to hold disjoint doc ranges, and a stored block_id names a doc range
    only for a range block: a tail block is block 0 in every group, so
    merging by block_id would fold a delta group's tail block into the
    base group's first range block."""
    w = Window.partitionBy("term").orderBy("min_doc", "group", "block_id")
    reach = F.max("max_doc").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_run = F.col("min_doc") > F.coalesce(reach, F.lit(-1))
    runs = segs.select(
        "group", "term", "block_id", "min_doc",
        new_run.cast("long").alias("_new"),
    ).select(
        "group", "term", "block_id",
        (F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1)
        .alias("_run"),
    )
    return (
        segs.join(runs, ["group", "term", "block_id"])
        .withColumn("block_id", F.col("_run"))
        .drop("_run")
    )


def compact_index(
    spark: SparkSession, index_dir: str, gc_old: bool = True
) -> dict:
    """Merge all segment groups into group=0, applying tombstones.

    Snapshot-atomic: the merged segments and rewritten docs land in NEW
    versioned directories, then one catalog publish (os.replace) makes
    them live. Readers mid-compaction keep resolving the previous
    version's consistent (segments, docs, tombstones) triple; the new
    version starts with an empty tombstone set (every tombstone was
    applied in the merge). Old versions older than the previous one are
    garbage-collected after publish."""
    import os

    from myaku_spark.plans import catalog
    from myaku_spark.plans.incremental import (
        resolve_tombstones,
        tombstone_block_patches,
    )

    cat, paths = catalog.resolve(index_dir)
    version = int(cat["version"]) + 1
    # Size-guarded delete vector (r4 verdict #2): driver-sized sets ship
    # in the merge closure as before; larger sets stay a DataFrame —
    # per-block del_ids ride the rows via the binned interval join and
    # the docs rewrite anti-joins distributively.
    tmode, tpayload = resolve_tombstones(
        spark, index_dir, path=paths["tombstones"]
    )
    deleted = tpayload if tmode == "array" else None
    n_deleted = len(deleted) if deleted is not None else (
        int(tpayload.count()) if tmode == "df" else 0
    )
    segs = spark.read.parquet(paths["segments"]).withColumn(
        "run_order", F.col("group").cast("int")
    )
    if tmode == "df":
        patches = tombstone_block_patches(
            segs.select(
                "group", "bucket", "term", "block_id", "min_doc", "max_doc"
            ),
            tpayload,
        )
        segs = segs.join(
            patches, ["group", "bucket", "term", "block_id"], "left"
        )
    merged = _merge_runs(segs).groupBy("term", "block_id").applyInPandas(
        _merge_with_tombstones(deleted), SEGMENT_SCHEMA
    )
    seg_rel = f"segments_v{version}"
    docs_rel = f"docs_v{version}"
    write_segments(merged, f"{index_dir}/{seg_rel}/group=0")

    docs = spark.read.parquet(paths["docs"])
    if deleted is not None:
        tomb_df = spark.createDataFrame(
            [(int(d),) for d in deleted], ["doc_id"]
        )
        docs = docs.join(F.broadcast(tomb_df), "doc_id", "left_anti")
    elif tmode == "df":
        docs = docs.join(tpayload, "doc_id", "left_anti")
    if "group" in docs.columns:
        docs = docs.drop("group")
    docs.write.mode("overwrite").parquet(f"{index_dir}/{docs_rel}/group=0")

    # Post-merge stats are recomputed into NEW versioned dirs before the
    # publish, so a reader mid-compaction never sees stats inconsistent
    # with its snapshot (it keeps resolving the previous entry).
    # term_stats: df = postings per term (one posting = one doc),
    # cf = sum of tfs — both exact from merged block metadata, no decode.
    ts_rel = f"term_stats_v{version}"
    merged_read = spark.read.parquet(f"{index_dir}/{seg_rel}")
    merged_read.groupBy("term").agg(
        F.sum("n_postings").cast("long").alias("df"),
        F.sum("sum_tf").cast("long").alias("cf"),
    ).write.mode("overwrite").parquet(f"{index_dir}/{ts_rel}/group=0")

    cs_rel = f"corpus_stats_v{version}"
    stats = spark.read.parquet(f"{index_dir}/{docs_rel}").agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    n_docs = int(stats.n_docs)
    spark.createDataFrame(
        [(n_docs, float(stats.avgdl or 0.0))], ["n_docs", "avgdl"]
    ).write.mode("overwrite").parquet(f"{index_dir}/{cs_rel}")

    # The atomic commit point.
    entry = {
        "version": version,
        "segments": seg_rel,
        "docs": docs_rel,
        "tombstones": f"tombstones_v{version}",
        "term_stats": ts_rel,
        "corpus_stats": cs_rel,
        "previous": cat,
    }
    catalog.publish(index_dir, entry)
    if gc_old:
        keep = {
            e[c]
            for e in (entry, cat)
            for c in catalog.COMPONENTS
            if os.sep not in e[c]
        }
        catalog.gc_names(index_dir, keep)
    return {
        "n_docs": n_docs,
        "tombstones_applied": n_deleted,
        "version": version,
    }
