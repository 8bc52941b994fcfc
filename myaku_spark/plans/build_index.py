"""Resumable, checkpointed inverted-index build over the ``pages`` table.

Pipeline (SURVEY §3.1 Spark re-architecture):

    pages → [resume filter: skip checkpointed partition groups]
          → extract UDF (P1-P5, byte-identical per url)
          → storability filter (len <= 65536) + first-writer-wins dedup
            on text_hash (P9/J4)
          → dense doc_id assignment ordered by (warc_ts, url)
          → tokenize UDF (T1-T4, ja) → postings (A1, salted/skew-split)
          → doc stats (dl, alnum, quality score A5/A6) + term stats (A2-A4)
          → block-compressed segments (codec + segments.py)
          → per-group checkpoint row with lineage + doc/term/byte metrics
            (A9; FIXTURES.md §5)

Resumability model: the url space is hashed into ``n_groups`` partition
groups; each group is built as an independent job slice whose outputs
land under group=<g> paths, and a checkpoint row (group, run_id, docs,
terms, bytes, wall_ms, status) commits its completion. A re-run skips
groups whose checkpoint row says 'done' — the Spark-native analog of the
reference's crawl tracking (crawl_track.py:89-129) and rescore tracking
(index_rescore.py:332-343). On Iceberg, each group commit would be a
snapshot; parquet directories stand in here.

Output layout under ``index_dir``:
    docs/group=G/        doc table (doc_id, url, text_hash, dl, alnum,
                         doc_score, doc_ts)
    segments/group=G/    posting segments (bucket-partitioned)
    term_stats/group=G/  per-term df/cf (A2)
    checkpoints/         one parquet row per completed group
    corpus_stats/        N docs, avgdl (recomputed from checkpoints)
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from myaku_spark.functions.html_extract import extract_text_udf
from myaku_spark.functions.textfns import alnum_count_udf, text_hash_col
from myaku_spark.functions.tokenize import ja_posting_rows
from myaku_spark.operators.ids import assign_doc_ids
from myaku_spark.operators.postings import term_stats
from myaku_spark.operators.scoring import (
    article_quality_score_col,
    tf_score_mod_col,
)
from myaku_spark.operators.segments import build_segments, write_segments
from myaku_spark.session import local_frame

MAX_DOC_LEN = 65536  # MAX_ALLOWED_ARTICLE_LEN, index_build.py:48


def _group_col(url_col, n_groups: int):
    return F.pmod(F.xxhash64(url_col), F.lit(n_groups)).cast("int")


def extract_and_dedupe(pages: DataFrame, source_col=None) -> DataFrame:
    """pages → (url, warc_ts, text, text_hash) extracted + deduped.

    When the pages table carries pre-extracted ``text`` (the Common-Crawl
    shape), ``html`` extraction is verified on demand instead; here we
    prefer the html path when a source is identifiable, else use text."""
    if source_col is None:
        # Infer source from url host (golden + synth corpora).
        source_col = (
            F.when(F.col("url").contains("kakuyomu"), F.lit("kakuyomu"))
            .when(F.col("url").contains("synth.example.jp"), F.lit("kakuyomu"))
            .when(F.col("url").contains("asahi"), F.lit("asahi"))
            .when(F.col("url").contains("nhk"), F.lit("nhk"))
            .otherwise(F.lit("unknown"))
        )
    extracted = pages.withColumn(
        "text_extracted", extract_text_udf(F.col("html"), source_col)
    )
    docs = (
        extracted.withColumn(
            "text", F.coalesce(F.col("text_extracted"), F.col("text"))
        )
        .filter(F.col("text").isNotNull())
        .filter(F.length("text") <= MAX_DOC_LEN)  # P9
        .withColumn("text_hash", text_hash_col(F.col("text")))
        # Drop the raw bytes BEFORE the dedup shuffle — html is dead
        # weight from here on and would double the shuffle volume.
        .drop("html", "text_extracted")
    )
    # First-writer-wins dedup on content hash (index_build.py:116-143):
    # earliest (warc_ts, url) keeps the doc.
    from pyspark.sql import Window

    w = Window.partitionBy("text_hash").orderBy("warc_ts", "url")
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _observed(obs) -> dict:
    """An Observation's metrics, or {} when the observed plan ran no
    task: AQE folds a stage over empty input into an empty relation, and
    the observation is then left holding an empty row, which
    ``Observation.get`` cannot convert."""
    if obs._jo.getRow().length() == 0:
        return {}
    return obs.get


def build_group(
    spark: SparkSession,
    pages_group: DataFrame,
    index_dir: str,
    group: int,
    run_id: str,
    now,
    lexicon: set | None = None,
    id_offset: int = 0,
    mode: str = "myaku",
    with_analysis: bool = False,
    blogs: DataFrame | None = None,
    blog_map: DataFrame | None = None,
    head_df_threshold: int | None = None,
    block_doc_range: int | None = None,
    paths: dict | None = None,
) -> dict:
    """Build one partition group end-to-end; returns its metrics row.

    mode='myaku' stores the integer quality score as the posting payload
    (rank key (score, doc_ts→doc_id, doc_id)); mode='bm25' stores dl so
    query-time BM25 can be computed posting-locally.

    ``paths`` are the catalog-resolved component base dirs (one resolve
    per caller); outputs land under ``{paths[comp]}/group=G`` so a delta
    group written AFTER a compaction joins the catalog's live versioned
    dirs instead of the superseded v0 layout (which nothing reads)."""
    t0 = time.time()
    if paths is None:
        from myaku_spark.plans import catalog

        _, paths = catalog.resolve(index_dir)
    # Persist the extraction output BEFORE id assignment: assign_doc_ids
    # runs a bucket-count action, which would otherwise re-run the
    # extract UDF + dedup shuffle a second time. When build_index has
    # already materialized the corpus-wide extracted/deduped stage, the
    # group arrives pre-extracted (text_hash present) and extraction is
    # skipped here.
    if "text_hash" in pages_group.columns:
        extracted = pages_group.persist()
    else:
        extracted = extract_and_dedupe(pages_group).persist()
    par = spark.sparkContext.defaultParallelism
    docs = assign_doc_ids(extracted, ["warc_ts", "url"]).repartition(par * 2)
    # Group-local ids are made globally unique by a group prefix.
    docs = docs.withColumn(
        "doc_id", F.col("doc_id") + F.lit(id_offset).cast("long")
    )
    docs = docs.withColumn("alnum", alnum_count_udf(F.col("text")))
    if blogs is not None and blog_map is not None:
        # J2 blog dimension: broadcast hydration join feeding the full
        # 5-factor score (length/blog_order/blog_rating/video/recency).
        from myaku_spark.operators.scoring import (
            attach_blog_dimension,
            full_article_score_col,
        )

        docs = attach_blog_dimension(docs, blog_map, blogs).withColumn(
            "doc_score", full_article_score_col(F.lit(now).cast("timestamp"))
        )
    else:
        docs = docs.withColumn(
            "doc_score",
            article_quality_score_col(
                F.col("alnum"), F.col("warc_ts"), F.lit(now).cast("timestamp")
            ),
        )
    docs.persist()

    # Tokenize + per-doc posting reduce in ONE mapInPandas pass (A1 is
    # doc-local, so no token-level shuffle exists at all); postings feed
    # three consumers (segments, doc stats, term stats) → persist.
    postings = ja_posting_rows(docs, "text", "doc_id", lexicon).persist()
    dstats = postings.groupBy("doc_id").agg(F.first("dl").alias("dl"))

    dstats = dstats.persist()
    scored = (
        postings.join(
            docs.select("doc_id", "doc_score", F.col("warc_ts").alias("doc_ts")),
            "doc_id",
        )
        .withColumn("score_mod", tf_score_mod_col(F.col("tf")))
        .withColumn("score", (F.col("doc_score") + F.col("score_mod")).cast("long"))
    )  # dl already rides on each posting row
    from myaku_spark.operators.segments import (
        BLOCK_DOC_RANGE,
        HEAD_DF_THRESHOLD,
    )

    segments = build_segments(
        scored,
        payload_col="score" if mode == "myaku" else "dl",
        head_df_threshold=head_df_threshold or HEAD_DF_THRESHOLD,
        block_doc_range=block_doc_range or BLOCK_DOC_RANGE,
    )
    doc_out = docs.join(dstats, "doc_id", "left").select(
        "doc_id",
        "url",
        "text_hash",
        F.coalesce(F.col("dl"), F.lit(0)).cast("long").alias("dl"),
        F.col("alnum").cast("long").alias("alnum"),
        F.col("doc_score").cast("long").alias("doc_score"),
        F.col("warc_ts").alias("doc_ts"),
    )
    tstats = term_stats(postings)
    # Materialize the shared cached inputs ONCE (dstats forces postings
    # too), then run the three independent writes from a small thread
    # pool (guide §2.6): each write's task tail back-fills cores freed
    # by the others instead of serializing three stragglers.
    # Checkpoint metrics ride the write jobs as CollectMetrics
    # observations (accumulator-backed) instead of two separate
    # post-write aggregation jobs: segment bytes/postings/blocks off the
    # segments write, (n_docs, sum_dl) off the docs write, and the
    # distinct-term count off the term_stats write (tstats has exactly
    # one row per term with >= 1 posting — the same set countDistinct
    # over segments produced; asserted by test_build_index metrics).
    dstats.count()
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import Observation

    seg_obs, doc_obs, tst_obs = Observation(), Observation(), Observation()

    def _w_segments():
        write_segments(
            segments.observe(
                seg_obs,
                F.sum(F.length("blob")).alias("bytes"),
                F.sum("n_postings").alias("postings"),
            ),
            f"{paths['segments']}/group={group}",
        )

    def _w_docs():
        doc_out.observe(
            doc_obs,
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").alias("sum_dl"),
        ).write.mode("overwrite").parquet(f"{paths['docs']}/group={group}")

    def _w_tstats():
        tstats.observe(tst_obs, F.count(F.lit(1)).alias("terms")).write.mode(
            "overwrite"
        ).parquet(f"{paths['term_stats']}/group={group}")

    with ThreadPoolExecutor(max_workers=3) as pool:
        futs = [pool.submit(w) for w in (_w_segments, _w_docs, _w_tstats)]
        for f in futs:
            f.result()

    if with_analysis:
        # Interp-analysis sidecar (§1.3 posting fields the reference keeps
        # in its FLI docs: per-position interp sources, datatypes.py:307-
        # 342). Stored as token rows (doc_id, term, start, len, pos,
        # sources) so interp_position_map-style lookups are a filter; the
        # extra tokenize pass runs only when analysis is requested.
        from myaku_spark.functions.tokenize import explode_ja_tokens

        analysis = explode_ja_tokens(
            docs, "text", "doc_id", lexicon, include_analysis=True
        )
        analysis.write.mode("overwrite").parquet(
            f"{index_dir}/analysis/group={group}"
        )

    seg_stats = _observed(seg_obs)
    doc_stats = _observed(doc_obs)
    n_docs = int(doc_stats.get("n_docs") or 0)
    sum_dl = int(doc_stats.get("sum_dl") or 0)
    docs.unpersist()
    extracted.unpersist()
    postings.unpersist()
    dstats.unpersist()
    return {
        "run_id": run_id,
        "group": group,
        "status": "done",
        "docs": n_docs,
        "terms": int(_observed(tst_obs).get("terms") or 0),
        "postings": int(seg_stats.get("postings") or 0),
        "bytes": int(seg_stats.get("bytes") or 0),
        "sum_dl": int(sum_dl),
        "wall_ms": int((time.time() - t0) * 1000),
    }


# A checkpoint row's columns, in the sorted-key order and with the types
# that dict-row inference gave them when rows were pickled: every build,
# update and copy appends to the same ``checkpoints`` dir.
CHECKPOINT_SCHEMA = StructType(
    [
        StructField(c, StringType() if c in ("run_id", "status") else LongType())
        for c in ("bytes", "docs", "group", "postings", "run_id", "status",
                  "sum_dl", "terms", "wall_ms")
    ]
)


def append_checkpoint(spark: SparkSession, index_dir: str, row: dict) -> None:
    """Append one checkpoint row, stamped with ``completed_ts``."""
    local_frame(
        spark, [tuple(row[f.name] for f in CHECKPOINT_SCHEMA.fields)],
        CHECKPOINT_SCHEMA,
    ).withColumn("completed_ts", F.current_timestamp()).write.mode(
        "append"
    ).parquet(f"{index_dir}/checkpoints")


def write_build_meta(
    spark: SparkSession, index_dir: str, n_groups: int, now: str, mode: str,
    run_id: str,
) -> None:
    """Persist the build config read by the incremental and rescore plans."""
    local_frame(
        spark, [(int(n_groups), str(now), mode, run_id)],
        "n_groups long, now string, mode string, run_id string",
    ).write.mode("overwrite").parquet(f"{index_dir}/build_meta")


def completed_groups(spark: SparkSession, index_dir: str) -> set[int]:
    from myaku_spark.plans import catalog

    if not catalog.parquet_exists(f"{index_dir}/checkpoints"):
        return set()
    cp = spark.read.parquet(f"{index_dir}/checkpoints")
    return {
        r.group for r in cp.filter(F.col("status") == "done").select("group").collect()
    }


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    index_dir: str,
    n_groups: int = 4,
    now: str = "2026-08-01 00:00:00",
    lexicon: set | None = None,
    run_id: str | None = None,
    mode: str = "myaku",
    with_analysis: bool = False,
    blogs: DataFrame | None = None,
    blog_map: DataFrame | None = None,
    head_df_threshold: int | None = None,
    block_doc_range: int | None = None,
) -> list[dict]:
    """Full resumable build. Returns per-group metrics (also persisted)."""
    run_id = run_id or uuid.uuid4().hex[:12]
    write_build_meta(spark, index_dir, n_groups, now, mode, run_id)
    done = completed_groups(spark, index_dir)
    # Stage 0 (corpus-wide, checkpointed): extract + dedupe ONCE over the
    # whole pages input, so content dedup is db-wide first-writer-wins
    # like the reference's can_store_article (index_build.py:116-143) —
    # NOT group-local — and resumed runs skip re-extraction entirely.
    # Written partitioned by _group so each group build reads only its
    # partition (partition pruning on the parquet scan).
    from myaku_spark.plans import catalog

    _, paths = catalog.resolve(index_dir)
    if n_groups == 1:
        # One group IS the corpus: group-local extract+dedupe inside
        # build_group is already db-wide; skip the materialization
        # roundtrip (it exists to make multi-group dedup corpus-wide and
        # resumes extraction-free).
        tagged = pages.withColumn("_group", F.lit(0).cast("int"))
    else:
        ext_path = f"{index_dir}/extracted"
        ext = extract_and_dedupe(pages).withColumn(
            "_group", _group_col(F.col("url"), n_groups)
        )
        if not catalog.parquet_exists(ext_path):
            ext.write.mode("overwrite").partitionBy("_group").parquet(ext_path)
        # The lazy frame's schema (no job): an empty corpus writes no
        # part files, and there is then no schema to infer.
        tagged = spark.read.schema(ext.schema).parquet(ext_path)
    metrics = []
    for g in range(n_groups):
        if g in done:
            continue
        grp = tagged.filter(F.col("_group") == g).drop("_group")
        # Group 0 skips the emptiness probe job and always runs
        # build_group, which handles an empty corpus (zero-row writes,
        # zeroed observation metrics) like the empty-checkpoint
        # shortcut below. So even an index of no pages has the docs and
        # term_stats tables that copy_index reads.
        if g > 0 and grp.limit(1).count() == 0:
            # A group can be emptied by corpus-wide dedup; commit an
            # empty checkpoint row so resumes skip it too.
            row = {
                "run_id": run_id, "group": g, "status": "done",
                "docs": 0, "terms": 0, "postings": 0, "bytes": 0,
                "sum_dl": 0, "wall_ms": 0,
            }
            metrics.append(row)
            append_checkpoint(spark, index_dir, row)
            continue
        row = build_group(
            spark,
            grp,
            index_dir,
            g,
            run_id,
            now,
            lexicon,
            id_offset=g * (1 << 40),
            mode=mode,
            with_analysis=with_analysis,
            blogs=blogs,
            blog_map=blog_map,
            head_df_threshold=head_df_threshold,
            block_doc_range=block_doc_range,
            paths=paths,
        )
        metrics.append(row)
        append_checkpoint(spark, index_dir, row)
    # Refresh corpus stats from checkpoints (cheap, tiny).
    cp = spark.read.parquet(f"{index_dir}/checkpoints")
    cp.groupBy().agg(
        F.sum("docs").alias("n_docs"),
        F.try_divide(F.sum("sum_dl"), F.sum("docs")).alias("avgdl"),
    ).write.mode("overwrite").parquet(paths["corpus_stats"])
    return metrics
