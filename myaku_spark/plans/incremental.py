"""Incremental re-index + recency rescore (SURVEY §3.3 / Phase 5).

Incremental semantics (S4/J4/S6, /root/reference/myaku/crawlers/
crawl_track.py:89-129 + datastore/index_build.py:116-143):

- a page whose (url, text_hash) already exists in the docs table is
  UNCHANGED → skipped (the reference's crawl-skip anti-join);
- a new url → indexed as a new doc;
- an existing url with a different text_hash → re-indexed as a new doc
  and the old doc_id is TOMBSTONED (the reference's upsert-replace,
  database.py:396-434). Tombstones are a delete-vector parquet the
  searcher applies at block-decode time — the merge-on-read model
  Iceberg uses for row-level deletes.

The delta is built as a fresh partition group (id = max existing + 1)
written under the CATALOG-RESOLVED component dirs — so a delta landed
after a compaction joins the live versioned segments/docs, never the
superseded v0 layout. Every operation resolves the catalog snapshot
ONCE and derives all component paths from it.

Rescore (A7/A8, index_rescore.py:40-53,136-180,199-235): the reference
never re-analyzes text on rescore — it recomputes the article score and
$set-updates quality_score_X = article_quality_score + mod on the FLI
docs. Only the recency factor depends on 'now', and factor scores sum
with integer weights, so the per-doc delta is exactly
(recency(new_now) - recency(old_now)) * recency_weight. rescore_index
applies that delta to the docs table and to the score payload of only
the segment blocks whose doc range contains an affected doc, then
publishes a new catalog version — no retokenization, no id
reassignment (hence no membership hazard), works identically before or
after compaction.
"""

from __future__ import annotations

import logging
import time

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myaku_spark.operators.scoring import (
    ARTICLE_FACTOR_WEIGHTS,
    RECENCY_BUCKETS,
    recency_score_col,
)
from myaku_spark.plans.build_index import (
    append_checkpoint,
    build_group,
    extract_and_dedupe,
    write_build_meta,
)

log = logging.getLogger(__name__)

DELTA_GROUP_BASE = 10_000  # delta groups live above base group ids


def detect_changes(
    spark: SparkSession,
    index_dir: str,
    new_pages: DataFrame,
    paths: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Returns (changed_pages, tombstones).

    changed_pages: pages that are new urls or changed content.
    tombstones: doc_ids of superseded versions (url re-indexed).

    Skip decisions consult only LIVE (non-tombstoned) docs: a url whose
    content reverts to a previously-indexed-then-superseded text_hash
    must be RE-indexed, not skipped, or it would stay masked by the old
    tombstone forever (the reference's replace-on-write never loses the
    live copy, database.py:396-434). Content dedup is db-wide, matching
    can_store_article (datastore/index_build.py:116-143): a page whose
    text_hash exists under ANY live url is skipped (first-writer-wins
    across the whole corpus)."""
    from myaku_spark.plans import catalog

    if paths is None:
        _, paths = catalog.resolve(index_dir)
    docs = spark.read.parquet(paths["docs"]).select(
        "doc_id", "url", "text_hash"
    )
    if catalog.parquet_exists(paths["tombstones"]):
        tombs = spark.read.parquet(paths["tombstones"]).select("doc_id")
        live = docs.join(tombs, "doc_id", "left_anti")
    else:
        live = docs
    # Hash the CANONICAL (extracted) text — the same bytes the index
    # stores — not the shipped text column, else a page whose html is
    # unchanged would be re-detected forever.
    canonical = extract_and_dedupe(new_pages).select("url", "text_hash")
    changed_urls = (
        canonical.join(
            live.select("url", "text_hash"), ["url", "text_hash"], "left_anti"
        )
        # db-wide content dedup: identical text under a different live
        # url is not re-indexed.
        .join(live.select("text_hash"), "text_hash", "left_anti")
        .select("url")
    )
    changed = new_pages.join(changed_urls, "url", "left_semi")
    # Tombstones: old doc_ids of urls being re-indexed.
    tomb = live.join(changed.select("url"), "url", "left_semi").select("doc_id")
    return changed, tomb


def incremental_update(
    spark: SparkSession,
    index_dir: str,
    new_pages: DataFrame,
    now: str,
    lexicon: set | None = None,
    blogs: DataFrame | None = None,
    blog_map: DataFrame | None = None,
    auto_compact_tombstones: int | None = None,
) -> dict | None:
    """Index only changed/new pages; tombstone superseded docs.

    ``auto_compact_tombstones``: when set, a compaction is forced once
    the tombstone count reaches the threshold — bounding both the
    driver-side delete-vector size and the dead postings the decode
    path must filter (compaction pressure, the merge-on-read →
    rewrite crossover every delete-vector design needs).

    Returns the delta group's metrics row, or None when nothing changed."""
    from myaku_spark.plans import catalog

    _, paths = catalog.resolve(index_dir)
    changed, tomb = detect_changes(spark, index_dir, new_pages, paths=paths)
    if changed.limit(1).count() == 0:
        return None
    meta = spark.read.parquet(f"{index_dir}/build_meta").collect()[0]
    if catalog.parquet_exists(f"{index_dir}/checkpoints"):
        prev = spark.read.parquet(f"{index_dir}/checkpoints")
        max_group = prev.agg(F.max("group")).collect()[0][0]
    else:
        max_group = -1
    group = max(int(max_group) + 1, DELTA_GROUP_BASE)
    row = build_group(
        spark,
        changed,
        index_dir,
        group,
        run_id=f"incr-{int(time.time())}",
        now=now,
        lexicon=lexicon,
        id_offset=group * (1 << 40),
        mode=meta.mode,
        blogs=blogs,
        blog_map=blog_map,
        paths=paths,
    )
    row["status"] = "incremental"
    append_checkpoint(spark, index_dir, row)
    tomb.write.mode("append").parquet(paths["tombstones"])
    # Refresh corpus stats from LIVE docs (docs minus tombstones), the
    # same way compact_index does — summing checkpoint rows would keep
    # counting superseded docs and drift n_docs/avgdl upward with every
    # re-index, skewing BM25 idf and length normalization.
    tombs_df = spark.read.parquet(paths["tombstones"]).select("doc_id")
    live = spark.read.parquet(paths["docs"]).join(
        tombs_df, "doc_id", "left_anti"
    )
    live.groupBy().agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    ).write.mode("overwrite").parquet(paths["corpus_stats"])
    if auto_compact_tombstones is not None:
        n_tomb = tombs_df.count()
        if n_tomb >= auto_compact_tombstones:
            from myaku_spark.plans.compact import compact_index

            row["compacted"] = compact_index(spark, index_dir)
    return row


def load_tombstones(
    spark: SparkSession, index_dir: str, path: str | None = None
) -> set[int]:
    from myaku_spark.plans import catalog

    if path is None:
        path = catalog.path_of(index_dir, "tombstones")
    if not catalog.parquet_exists(path):
        return set()
    return {r.doc_id for r in spark.read.parquet(path).collect()}


# Above this many tombstone rows the delete vector stays a DataFrame
# (r4 verdict #2): a collect-then-broadcast of 10^9+ deleted doc_ids is
# a driver OOM regardless of compaction pressure. Below it the sorted-
# array broadcast is both smaller and faster (one vectorized np.isin at
# block decode vs an anti-join/patch join).
TOMBSTONE_DRIVER_MAX = 1_000_000


def resolve_tombstones(
    spark: SparkSession,
    index_dir: str,
    path: str | None = None,
    max_driver_rows: int | None = None,
):
    """Size-guarded delete-vector access: ('none', None) when empty,
    ('array', sorted int64 ndarray) when the set is driver-sized, else
    ('df', DataFrame[doc_id]) — the count is the only driver-side
    datum above the threshold. No mode runs a Spark job: the count
    comes from parquet footers, the array is a pyarrow read and the
    DataFrame has an explicit schema. Serving paths dispatch on the
    mode: arrays feed the decode kernels; df mode applies the deletes
    distributively (postings anti-join on the batch phrase path,
    binned-interval del_ids attach on the batch-WAND path,
    per-fetch-window semi-joins on the interactive WAND and phrase
    paths)."""
    from myaku_spark.plans import catalog

    if max_driver_rows is None:  # late-bound so tests can tune the knob
        max_driver_rows = TOMBSTONE_DRIVER_MAX
    if path is None:
        path = catalog.path_of(index_dir, "tombstones")
    if not catalog.parquet_exists(path):
        return "none", None
    import pyarrow.dataset as ds

    files = ds.dataset(path, format="parquet")
    n = files.count_rows()  # parquet footers: no data page is read
    if n == 0:
        return "none", None
    mode = "array" if n <= max_driver_rows else "df"
    log.info(
        "tombstones -> %s: %d deleted docs against "
        "TOMBSTONE_DRIVER_MAX=%d (max_driver_rows=%d)",
        mode, n, TOMBSTONE_DRIVER_MAX, max_driver_rows,
    )
    if mode == "array":
        ids = files.to_table(columns=["doc_id"]).column("doc_id")
        return "array", np.unique(ids.to_numpy().astype(np.int64))
    # explicit schema: no inference job
    return "df", spark.read.schema("doc_id long").parquet(path)


def tombstone_block_patches(segs: DataFrame, tombs: DataFrame) -> DataFrame:
    """(group, bucket, term, block_id, del_ids): per-block sorted
    deleted-doc arrays via the SAME binned interval join the rescore
    path uses (_block_patches) — the delete vector never materializes
    on the driver, and each block meets only its own group's deletes
    (dense per-group ids; see _block_patches' scale note)."""
    p = _block_patches(
        segs, tombs.select("doc_id", F.lit(0).cast("long").alias("_delta"))
    )
    return p.select(
        "group", "bucket", "term", "block_id",
        F.col("patch_ids").alias("del_ids"),
    )


def _recency_days(ts_col, now_col):
    return F.floor(
        (now_col.cast("timestamp").cast("double") - ts_col.cast("double"))
        / F.lit(86400.0)
    )


def _recency_bucket(days_col):
    expr = None
    for i, (upper, _) in enumerate(RECENCY_BUCKETS):
        if upper is None:
            expr = expr.otherwise(F.lit(i))
        else:
            cond = days_col <= F.lit(upper)
            expr = F.when(cond, i) if expr is None else expr.when(cond, i)
    return expr


def docs_needing_rescore(
    docs: DataFrame, old_now: str, new_now: str
) -> DataFrame:
    """A8 boundary-window scan: docs whose recency bucket differs between
    the two instants (index_rescore.py:136-180 semantics — only
    tier-boundary crossers are touched)."""
    old_b = _recency_bucket(_recency_days(F.col("doc_ts"), F.lit(old_now)))
    new_b = _recency_bucket(_recency_days(F.col("doc_ts"), F.lit(new_now)))
    return docs.filter(old_b != new_b)


def _score_delta_col(old_now: str, new_now: str):
    """Exact per-doc score delta between the two instants: the recency
    factor is the ONLY 'now'-dependent factor in the weighted sum
    (scorer/__init__.py:27-60), and factor scores are integers summed
    with integer weights, so the rest of the score cancels exactly —
    including blog/video factors the docs table doesn't even store."""
    w = ARTICLE_FACTOR_WEIGHTS["recency"]
    return (
        recency_score_col(F.col("doc_ts"), F.lit(new_now))
        - recency_score_col(F.col("doc_ts"), F.lit(old_now))
    ) * F.lit(w)


# Binned interval join (rescore): level-l bin width = 4096 * 64^l, a
# block registers at the smallest level where it overlaps < 64 bins
# (so block replication is capped at 64 rows), an affected doc probes
# exactly one bin per level. Final width is a catch-all single bin.
_PATCH_BIN_WIDTHS = [4096 * 64**l for l in range(6)] + [1 << 62]
_PATCH_MAX_BINS = 64


def _block_patches(segs: DataFrame, affected: DataFrame) -> DataFrame:
    """Per-block patch arrays from a DISTRIBUTED delta set.

    (group, bucket, term, block_id) → (patch_ids, patch_deltas), the
    sorted affected doc ids falling inside the block's [min_doc,
    max_doc] plus their score deltas. The point-in-range join is a
    binned equi-join (multi-resolution binning, the classic interval-
    join shape): block-side replication ≤ _PATCH_MAX_BINS rows, probe-
    side replication = one row per level, and the delta set never
    touches the driver. Join OUTPUT is Σ_blocks |affected ∩ [min_doc,
    max_doc]| — the information each block minimally needs (the kernel
    re-checks true membership) — which stays bounded because doc ids
    are DENSE per group (ids.py; delta groups offset by group·2^40) and
    segments never span groups: a block's range covers at most its own
    group's docs, so even a tail term's single block meets only that
    group's affected docs, never the global delta set. AQE's skew
    split handles a genuinely hot bin."""
    widths = _PATCH_BIN_WIDTHS
    lvl = None
    for l, w in enumerate(widths):
        fits = F.expr(
            f"(max_doc div {w}) - (min_doc div {w}) < {_PATCH_MAX_BINS}"
        )
        lvl = F.when(fits, l) if lvl is None else lvl.when(fits, l)
    blocks = (
        segs.select(
            "group", "bucket", "term", "block_id", "min_doc", "max_doc"
        )
        .withColumn("lvl", lvl)
        .withColumn(
            "w",
            F.element_at(
                F.array(*[F.lit(w).cast("long") for w in widths]),
                F.col("lvl") + 1,
            ),
        )
        .withColumn(
            "bin", F.explode(F.expr("sequence(min_doc div w, max_doc div w)"))
        )
    )
    probes = affected.select(
        "doc_id",
        "_delta",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(l).alias("lvl"),
                        F.expr(f"doc_id div {w}").alias("bin"),
                    )
                    for l, w in enumerate(widths)
                ]
            )
        ).alias("lb"),
    ).select(
        "doc_id",
        "_delta",
        F.col("lb.lvl").alias("lvl"),
        F.col("lb.bin").alias("bin"),
    )
    pairs = blocks.join(probes, ["lvl", "bin"]).filter(
        F.col("doc_id").between(F.col("min_doc"), F.col("max_doc"))
    )
    return (
        pairs.groupBy("group", "bucket", "term", "block_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("doc_id"), F.col("_delta")))
            ).alias("p")
        )
        .select(
            "group",
            "bucket",
            "term",
            "block_id",
            F.expr("transform(p, x -> x.doc_id)").alias("patch_ids"),
            F.expr("transform(p, x -> x._delta)").alias("patch_deltas"),
        )
    )


def _patch_blocks(batches):
    """mapInPandas kernel: apply per-row patch arrays to block score
    payloads. Rows with no patch (left-join null) pass through
    UNDECODED; a batch's patched rows decode in one call, add deltas via
    a per-block searchsorted, and the blocks a delta hit re-encode in
    one call. The delta data arrives IN the rows (from _block_patches),
    not in the closure — no driver state."""
    from myaku_spark.operators.codec import (
        decode_blocks_batch,
        encode_blocks_batch,
    )

    for pdf in batches:
        out = pdf.drop(columns=["patch_ids", "patch_deltas"])
        rows = np.flatnonzero(pdf["patch_ids"].notna().to_numpy())
        if rows.size == 0:
            yield out
            continue
        dec = decode_blocks_batch([bytes(pdf["blob"].iat[i]) for i in rows])
        doc_ids, doc_off, scores = dec["doc_ids"], dec["doc_off"], dec["scores"]
        hit_blk = np.zeros(rows.size, dtype=bool)
        for j, i in enumerate(rows):
            ids = np.asarray(pdf["patch_ids"].iat[i], dtype=np.int64)
            dls = np.asarray(pdf["patch_deltas"].iat[i], dtype=np.int64)
            lo, hi = doc_off[j], doc_off[j + 1]
            idx = np.clip(np.searchsorted(ids, doc_ids[lo:hi]), 0, len(ids) - 1)
            hit = ids[idx] == doc_ids[lo:hi]
            scores[lo:hi][hit] += dls[idx[hit]]
            hit_blk[j] = hit.any()
        if hit_blk.any():
            m_per = np.diff(dec["pos_off"])
            sel = np.repeat(hit_blk, dec["n_per"])
            psel = np.repeat(hit_blk, m_per)
            blobs, meta = encode_blocks_batch(
                np.concatenate(([0], np.cumsum(dec["n_per"][hit_blk]))),
                doc_ids[sel],
                dec["tfs"][sel],
                scores[sel],
                np.concatenate(([0], np.cumsum(m_per[hit_blk]))),
                dec["pos_starts"][psel],
                dec["pos_lens"][psel],
            )
            hit_rows = rows[hit_blk]
            blob_col = out["blob"].tolist()
            for i, b in zip(hit_rows, blobs):
                blob_col[i] = b
            max_score = out["max_score"].to_numpy(copy=True)
            max_score[hit_rows] = meta["max_score"]
            out["blob"] = blob_col
            out["max_score"] = max_score
        yield out


def rescore_index(
    spark: SparkSession,
    index_dir: str,
    new_now: str,
    gc_old: bool = True,
) -> dict:
    """Score-delta recency rescore; returns {'n_affected', 'version'}.

    Snapshot-atomic: new docs (and, in myaku mode, segments) versions are
    written, then one catalog publish swaps them in. term_stats,
    corpus_stats and tombstones are 'now'-independent and carry over
    unchanged."""
    from myaku_spark.plans import catalog

    cat, paths = catalog.resolve(index_dir)
    meta = spark.read.parquet(f"{index_dir}/build_meta").collect()[0]
    old_now = str(meta.now)
    docs = spark.read.parquet(paths["docs"])
    delta = _score_delta_col(old_now, new_now)
    # The affected-doc delta set stays a DataFrame end to end: it is
    # counted (one scalar), joined to block metadata (_block_patches),
    # and never collected — at 10^12 docs a daily rescore's tier-
    # boundary crossers are far beyond driver memory.
    affected = (
        docs.withColumn("_delta", delta)
        .filter(F.col("_delta") != 0)
        .select("doc_id", "_delta")
    )
    n_affected = int(affected.count())
    version = int(cat["version"]) + 1
    entry = {
        "version": version,
        "segments": cat["segments"],
        "docs": cat["docs"],
        "tombstones": cat["tombstones"],
        "term_stats": cat["term_stats"],
        "corpus_stats": cat["corpus_stats"],
        "previous": cat,
    }
    if n_affected:
        # Docs rewrite: pure Catalyst (the delta column recomputes from
        # doc_ts — no broadcast needed for this side).
        docs_rel = f"docs_v{version}"
        entry["docs"] = docs_rel
        group_cols = [c for c in docs.columns if c == "group"]
        new_docs = docs.withColumn(
            "doc_score", (F.col("doc_score") + delta).cast("long")
        )
        writer = new_docs.write.mode("overwrite")
        if group_cols:
            writer = writer.partitionBy("group")
        writer.parquet(f"{index_dir}/{docs_rel}")

        if meta.mode == "myaku":
            # Segment payload rewrite: per-block patch arrays come from
            # the distributed binned interval join (_block_patches); only
            # blocks that received a patch are decoded (_patch_blocks).
            seg_rel = f"segments_v{version}"
            entry["segments"] = seg_rel
            segs = spark.read.parquet(paths["segments"])
            patched = segs.join(
                _block_patches(segs, affected),
                ["group", "bucket", "term", "block_id"],
                "left",
            )
            rescored = patched.mapInPandas(_patch_blocks, segs.schema)
            (
                rescored.repartition("group", "bucket")
                .sortWithinPartitions("term", "block_id")
                .write.mode("overwrite")
                .partitionBy("group", "bucket")
                .parquet(f"{index_dir}/{seg_rel}")
            )
    catalog.publish(index_dir, entry)
    write_build_meta(
        spark, index_dir, meta.n_groups, new_now, meta.mode,
        f"rescore-{int(time.time())}",
    )
    if gc_old:
        keep = set()
        for e in (entry, cat):
            for c in catalog.COMPONENTS:
                keep.add(e[c])
        catalog.gc_names(index_dir, keep)
    return {"n_affected": n_affected, "version": version}
