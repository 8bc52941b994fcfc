"""Structured Streaming incremental indexing over a landing directory."""

import pytest
from pyspark.sql import functions as F

from myaku_spark.operators.search import IndexSearcher
from myaku_spark.plans.build_index import build_index
from myaku_spark.sources.pages import synth_pages_df
from myaku_spark.streaming.pages_stream import stream_pages_to_index

NOW = "2026-08-01 00:00:00"


def test_stream_drains_landing_zone_into_index(spark, tmp_path):
    landing = str(tmp_path / "landing")
    idx = str(tmp_path / "sidx")
    ckpt = str(tmp_path / "ckpt")

    # Base index from the first 30 pages.
    base = synth_pages_df(spark, 30, partitions=2)
    build_index(spark, base, idx, n_groups=1, now=NOW)
    n0 = spark.read.parquet(f"{idx}/docs").count()

    # Land two file batches: 10 re-delivered (unchanged) + 15 new pages.
    base.limit(10).write.mode("append").parquet(landing)
    import pandas as pd  # noqa: F401

    new_pages = (
        synth_pages_df(spark, 45, partitions=2)
        .filter(F.col("url").isin(
            [r.url for r in synth_pages_df(spark, 45, partitions=2)
             .select("url").subtract(base.select("url")).collect()]
        ))
    )
    new_pages.write.mode("append").parquet(landing)

    q = stream_pages_to_index(spark, landing, idx, ckpt, now=NOW)
    q.awaitTermination(240)

    docs = spark.read.parquet(f"{idx}/docs")
    n1 = docs.count()
    assert n1 == n0 + 15  # unchanged re-deliveries deduped, new indexed
    # New docs are searchable.
    s = IndexSearcher(spark, idx)
    term = (
        spark.read.parquet(f"{idx}/term_stats")
        .groupBy("term").agg(F.sum("df").alias("df"))
        .orderBy(F.desc("df")).limit(1).collect()[0].term
    )
    hits = s.search([term], k=50)
    assert len(hits) > 0

    # Restarting the drained stream is a no-op (checkpointed).
    q2 = stream_pages_to_index(spark, landing, idx, ckpt, now=NOW)
    q2.awaitTermination(120)
    assert spark.read.parquet(f"{idx}/docs").count() == n1


def test_stateful_dedup_across_microbatches(spark, tmp_path):
    """applyInPandasWithState cross-batch exact dedup: a content hash
    seen in micro-batch 1 is dropped when re-delivered in micro-batch 2
    (group state), within-batch duplicates keep the smallest doc_id, and
    the surviving set equals the batch first-writer-wins twin."""
    from myaku_spark.streaming.stateful_dedup import dedup_stream

    land = str(tmp_path / "dd_landing")
    ckpt = str(tmp_path / "dd_ckpt")
    out = str(tmp_path / "dd_out")
    schema = "doc_id long, text_hash string"

    # Batch 1: hashes A, B (B duplicated in-batch: docs 2 and 3).
    b1 = [(1, "A"), (2, "B"), (3, "B")]
    # Batch 2: A re-delivered (doc 4), new hash C.
    b2 = [(4, "A"), (5, "C")]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(land)

    def drain():
        stream = spark.readStream.schema(schema).parquet(land)
        q = (
            dedup_stream(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)

    drain()
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(land)
    drain()

    rows = {r.text_hash: r.doc_id for r in spark.read.parquet(out).collect()}
    assert rows == {"A": 1, "B": 2, "C": 5}


def test_warc_shard_stream_incrementally_indexes(spark, tmp_path):
    """Continuous archive ingestion (r6): .warc.gz shards landing in a
    watched dir flow through binaryFile streaming → shared parse kernel
    → incremental_update. New shards index, a re-delivered shard dedups
    against (url, content-hash) state, and the checkpoint makes a
    restarted stream a no-op."""
    import gzip

    from myaku_spark.sources.warc import (
        read_warc,
        warc_record_bytes,
        warc_to_pages,
    )
    from myaku_spark.streaming.warc_stream import stream_warc_to_index

    wdir = tmp_path / "cc"
    wdir.mkdir()
    idx = str(tmp_path / "widx")
    ckpt = str(tmp_path / "wckpt")

    def shard(name, pages):
        (wdir / name).write_bytes(
            b"".join(
                gzip.compress(
                    warc_record_bytes(
                        r.url,
                        r.warc_ts.isoformat() + "Z",
                        bytes(r.html),
                    )
                )
                for r in pages.collect()
            )
        )

    allp = synth_pages_df(spark, 45, partitions=2).orderBy("url").persist()
    rows = allp.collect()
    first = spark.createDataFrame(rows[:20], allp.schema)
    shard("cc-00000.warc.gz", first)

    # Base index from the first shard via the BATCH warc path.
    build_index(
        spark, warc_to_pages(read_warc(spark, str(wdir))), idx,
        n_groups=1, now=NOW,
    )
    n0 = spark.read.parquet(f"{idx}/docs").count()
    assert n0 == 20

    # Land: one new shard + one re-delivery of already-indexed pages.
    shard("cc-00001.warc.gz", spark.createDataFrame(rows[20:45], allp.schema))
    shard("cc-00000-redelivered.warc.gz", first)

    q = stream_warc_to_index(
        spark, str(wdir), idx, ckpt, now=NOW, max_files_per_trigger=1
    )
    q.awaitTermination(240)

    # NOTE: the base shard was consumed by the BATCH path, so the
    # stream re-reads it — the (url, content-hash) dedup makes that a
    # no-op, same as the redelivered copy. Only the 25 new pages index.
    n1 = spark.read.parquet(f"{idx}/docs").count()
    assert n1 == 45

    s = IndexSearcher(spark, idx)
    term = (
        spark.read.parquet(f"{idx}/term_stats")
        .groupBy("term").agg(F.sum("df").alias("df"))
        .orderBy(F.desc("df")).limit(1).collect()[0].term
    )
    assert s.search([term], k=50)

    # Restart: checkpoint remembers every consumed shard — no-op.
    q2 = stream_warc_to_index(
        spark, str(wdir), idx, ckpt, now=NOW, max_files_per_trigger=1
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(f"{idx}/docs").count() == n1
    allp.unpersist()


def test_warc_shard_stream_bootstraps_empty_index(spark, tmp_path):
    """A fresh deployment needs no batch pre-build: the first non-empty
    micro-batch full-builds the index, later batches take the
    incremental path (review finding r6)."""
    import gzip

    from myaku_spark.sources.warc import warc_record_bytes
    from myaku_spark.streaming.warc_stream import stream_warc_to_index

    wdir = tmp_path / "cc0"
    wdir.mkdir()
    idx = str(tmp_path / "fresh_idx")
    ckpt = str(tmp_path / "fresh_ckpt")

    allp = synth_pages_df(spark, 24, partitions=2).orderBy("url").persist()
    rows = allp.collect()

    def shard(name, rs):
        (wdir / name).write_bytes(
            b"".join(
                gzip.compress(
                    warc_record_bytes(
                        r.url, r.warc_ts.isoformat() + "Z", bytes(r.html)
                    )
                )
                for r in rs
            )
        )

    shard("cc-00000.warc.gz", rows[:12])
    shard("cc-00001.warc.gz", rows[12:])

    # maxFilesPerTrigger=1: batch 0 bootstraps (full build), batch 1
    # goes through incremental_update against the fresh index.
    q = stream_warc_to_index(
        spark, str(wdir), idx, ckpt, now=NOW, max_files_per_trigger=1
    )
    q.awaitTermination(240)

    assert spark.read.parquet(f"{idx}/docs").count() == 24
    s = IndexSearcher(spark, idx)
    term = (
        spark.read.parquet(f"{idx}/term_stats")
        .groupBy("term").agg(F.sum("df").alias("df"))
        .orderBy(F.desc("df")).limit(1).collect()[0].term
    )
    assert s.search([term], k=30)
    allp.unpersist()
