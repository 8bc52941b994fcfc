"""Index→index copy with FK remap + collision handling (S9).

The reference's copy_db_data (/root/reference/myaku/datastore/
database.py:34-128) copies collections in FK order, SKIPS docs already
present in the destination, mints new _ids on collision, and remaps
downstream foreign keys through the new-id maps. Re-expressed over the
segment layout:

1. docs to copy = source LIVE docs anti-joined against destination
   (url, text_hash) — the 'already in the destination' skip;
2. colliding doc_ids (already used by the destination) get fresh ids
   above both indexes' max — the DuplicateKeyError → new-_id path;
3. postings re-key DISTRIBUTED: source blocks decode to posting rows
   (phrase.decode_postings), inner-join the (old_id → new_id, dl)
   mapping — the join simultaneously drops skipped docs and remaps the
   article FK with no driver-side id set — then rebuild through the
   standard build_segments path and land as a NEW destination group
   (exactly how incremental deltas land, so a later compact_index folds
   everything);
4. destination corpus stats refresh from live docs; a checkpoint row
   (status='copied') records lineage.

At 10^12 docs every step is a scan/join/aggregate — nothing collects
posting data to the driver.
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

COPY_GROUP_BASE = 20_000  # copy groups live above incremental deltas


def copy_index(
    spark: SparkSession, src_dir: str, dst_dir: str
) -> dict:
    """Copy the live contents of ``src_dir`` into ``dst_dir``.

    Returns {'copied', 'skipped', 'collisions', 'group'}."""
    from myaku_spark.operators.phrase import decode_postings
    from myaku_spark.operators.segments import build_segments, write_segments
    from myaku_spark.plans import catalog
    from myaku_spark.plans.build_index import append_checkpoint
    from myaku_spark.plans.incremental import load_tombstones

    src_meta = spark.read.parquet(f"{src_dir}/build_meta").collect()[0]
    dst_meta = spark.read.parquet(f"{dst_dir}/build_meta").collect()[0]
    if src_meta.mode != dst_meta.mode:
        raise ValueError(
            f"mode mismatch: src={src_meta.mode!r} dst={dst_meta.mode!r}"
        )
    _, src_paths = catalog.resolve(src_dir)
    _, dst_paths = catalog.resolve(dst_dir)

    def live_docs(paths, index_dir):
        docs = spark.read.parquet(paths["docs"])
        tombs = load_tombstones(spark, index_dir, path=paths["tombstones"])
        if tombs:
            tdf = spark.createDataFrame([(int(t),) for t in tombs], ["doc_id"])
            docs = docs.join(F.broadcast(tdf), "doc_id", "left_anti")
        return docs

    src_live = live_docs(src_paths, src_dir)
    dst_live = live_docs(dst_paths, dst_dir)
    # Collision domain = ALL destination ids INCLUDING tombstoned ones:
    # a copied doc reusing a tombstoned id would be masked by the
    # delete-vector at decode time.
    dst_all_ids = spark.read.parquet(dst_paths["docs"]).select("doc_id")

    # 1. Skip docs already in the destination (url + content hash).
    to_copy = src_live.join(
        dst_live.select("url", "text_hash"), ["url", "text_hash"], "left_anti"
    ).persist()
    n_src = src_live.count()
    n_copy = to_copy.count()
    if n_copy == 0:
        to_copy.unpersist()
        return {"copied": 0, "skipped": n_src, "collisions": 0, "group": None}

    # 2. Collision remap: ids already used in dst mint fresh ids above
    #    BOTH indexes' max (so they also cannot hit a non-colliding
    #    copied id). Non-colliding ids copy verbatim, like the
    #    reference's insert-then-rename-on-DuplicateKeyError.
    base = (
        max(
            dst_all_ids.agg(F.max("doc_id")).collect()[0][0] or 0,
            to_copy.agg(F.max("doc_id")).collect()[0][0] or 0,
        )
        + 1
    )
    colliding = to_copy.join(dst_all_ids, "doc_id", "left_semi")
    # Unpartitioned window over COLLIDING rows only — bounded by the
    # collision count, which the reference handles one insert_one at a
    # time (database.py:120-126); not a corpus-sized exchange.
    w = Window.orderBy("doc_ts", "url")
    remap = colliding.select(
        F.col("doc_id").alias("old_id"),
        (F.row_number().over(w) + F.lit(base - 1)).cast("long").alias("new_id"),
    )
    n_coll = remap.count()
    # One aliased join yields BOTH the id mapping and the rewritten doc
    # rows (a second to_copy⋈mapping join would be an ambiguous
    # self-join — remap derives from to_copy).
    tc, rm = to_copy.alias("tc"), remap.alias("rm")
    joined_docs = tc.join(
        rm, F.col("tc.doc_id") == F.col("rm.old_id"), "left"
    ).persist()
    dst_id = F.coalesce(F.col("rm.new_id"), F.col("tc.doc_id"))
    mapping = joined_docs.select(
        F.col("tc.doc_id").alias("src_id"),
        dst_id.alias("dst_id"),
        F.col("tc.dl").alias("dl"),
    )

    # 3. Postings re-key: decode src blocks → rows, inner join the
    #    mapping (drops skipped docs + remaps the doc FK), rebuild
    #    segments, land as a new dst group.
    if catalog.parquet_exists(f"{dst_dir}/checkpoints"):
        prev = spark.read.parquet(f"{dst_dir}/checkpoints")
        max_group = int(prev.agg(F.max("group")).collect()[0][0] or 0)
    else:
        max_group = 0
    group = max(max_group + 1, COPY_GROUP_BASE)
    postings = decode_postings(spark.read.parquet(src_paths["segments"]))
    rekeyed = (
        postings.join(mapping, postings["doc_id"] == mapping["src_id"])
        .select(
            "term",
            mapping["dst_id"].alias("doc_id"),
            F.col("tf").cast("int").alias("tf"),
            F.col("payload").alias("score"),
            "starts",
            "lens",
            "dl",
        )
    )
    segments = build_segments(rekeyed, payload_col="score")
    write_segments(segments, f"{dst_paths['segments']}/group={group}")

    new_docs = joined_docs.select(
        dst_id.alias("doc_id"),
        F.col("tc.url").alias("url"),
        F.col("tc.text_hash").alias("text_hash"),
        F.col("tc.dl").alias("dl"),
        F.col("tc.alnum").alias("alnum"),
        F.col("tc.doc_score").alias("doc_score"),
        F.col("tc.doc_ts").alias("doc_ts"),
    )
    new_docs.write.mode("overwrite").parquet(
        f"{dst_paths['docs']}/group={group}"
    )
    tstats = rekeyed.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("cf"),
    )
    tstats.write.mode("overwrite").parquet(
        f"{dst_paths['term_stats']}/group={group}"
    )

    # 4. Stats + lineage.
    live = live_docs(dst_paths, dst_dir)
    live.groupBy().agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    ).write.mode("overwrite").parquet(dst_paths["corpus_stats"])
    row = {
        "run_id": f"copy-{int(time.time())}",
        "group": group,
        "status": "copied",
        "docs": n_copy,
        "terms": 0,
        "postings": 0,
        "bytes": 0,
        "sum_dl": 0,
        "wall_ms": 0,
    }
    append_checkpoint(spark, dst_dir, row)
    to_copy.unpersist()
    joined_docs.unpersist()
    return {
        "copied": n_copy,
        "skipped": n_src - n_copy,
        "collisions": n_coll,
        "group": group,
    }
