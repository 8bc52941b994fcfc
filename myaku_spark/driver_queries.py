"""Driver-contract queries: the extraction, tokenizing, indexing, ranking,
search, first-writer dedup and media operators, each paired with an
ANSI-SQL DuckDB oracle over the same parquet tables.

Each query is a (spark, sf_dir) -> DataFrame callable; ORACLE[name] is the
equivalent DuckDB SQL, or ORACLE_BUILDERS[name]() builds it for the oracles
computed from pure-Python twins. Column names and types are aligned on both
sides (the driver sorts columns by name and value-hashes). Floating-point
results are rounded (3-4 dp) with identical expression shapes on both
sides so IEEE doubles agree.

The whitespace-tokenized ``documents`` table stands in for the Japanese
``pages`` path (same pipeline shape; the ja tokenizer is a UDF and is
covered by pytest + rows-only checks instead).

Ranking and search gates run the engine itself. ``_gate_index`` turns the
whitespace postings into a temp index through ``build_segments`` (block
encode with positions), and the gates rank through ``batch_search``,
``IndexSearcher.search`` / ``search_page`` / ``search_phrase`` and
``hydrate``, whose scorers are ``wand.py``'s. The posting gates read the
postings back through ``phrase.decode_postings``. So each oracle replays
the paper's ranking semantics relationally against the engine's own
encode, decode and WAND path; the gates collect their driver-sized
results before the temp index is removed.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from myaku_spark.functions.tokenize import explode_whitespace_tokens
from myaku_spark.operators import postings as post_ops
from myaku_spark.operators import scoring
from myaku_spark.session import local_frame

# Fixed query terms drawn from the synthetic vocabulary.
Q_AND_TERMS = ["spark", "join"]
Q_TOPK_TERMS = ["spark", "join", "filter", "window", "query"]
FIXED_NOW = "2026-08-01 00:00:00"  # parameterized 'utcnow' (A6 recency)

# Modulus of the ja_index_postings checksum (a prime below 2^31, so
# each tid * tf term stays inside a long).
CHECKSUM_P = 2147483647


def term_id_col(c):
    """Engine-independent 56-bit term id: int(md5(term)[:14], 16).

    A pure hash — NO global sort or single-partition window — so the
    dictionary id assignment is the same shape at any scale (this
    replaced the round-1 Window.orderBy('term') gate device). Python
    twin: term_id_py."""
    return F.conv(F.substring(F.md5(c), 1, 14), 16, 10).cast("long")


def term_id_py(term: str) -> int:
    """Python twin of term_id_col (used to build VALUES oracles)."""
    import hashlib

    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:14], 16)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return explode_whitespace_tokens(_docs(spark, sf_dir))


@contextmanager
def _gate_index(spark: SparkSession, sf_dir: str, mode: str):
    """A temp index over the whitespace postings of ``sf_dir`` in the
    layout the engine reads (``segments/group=0``, ``docs``,
    ``term_stats``, ``corpus_stats``); yields its dir and removes it on
    exit.

    Segments are ``build_segments`` blocks with (start, len) positions;
    head terms (df > 64) range-block every 64 doc ids. The posting
    payload is ``dl`` for ``bm25`` and the integer quality score
    ``length_score(n_chars)*3 + tf_score_mod(tf)`` for ``myaku``.
    ``docs`` holds (doc_id, dl, n_chars, lang, source)."""
    import shutil
    import tempfile

    from myaku_spark.operators.segments import build_segments, write_segments

    toks = _tokens(spark, sf_dir).select(
        "doc_id", "term",
        F.col("start").cast("int").alias("start"),
        F.col("len").cast("int").alias("len"),
    )
    dstats = post_ops.doc_stats(toks)
    docs = dstats.join(
        _docs(spark, sf_dir).select("doc_id", "n_chars", "lang", "source"),
        "doc_id",
    )
    payload = (
        F.col("dl") if mode == "bm25"
        else scoring.length_score_col(F.col("n_chars")) * 3
        + scoring.tf_score_mod_col(F.col("tf"))
    )
    # persist: build_segments reads the postings twice (df + blocks)
    postings = (
        post_ops.build_postings(toks)
        .join(docs.select("doc_id", "dl", "n_chars"), "doc_id")
        .withColumn("payload", payload.cast("long"))
        .persist()
    )
    d = tempfile.mkdtemp(prefix=f"gate_idx_{mode}_")
    try:
        write_segments(
            build_segments(
                postings, payload_col="payload",
                head_df_threshold=64, block_doc_range=64,
            ),
            f"{d}/segments/group=0",
        )
        docs.write.parquet(f"{d}/docs")
        post_ops.term_stats(postings).write.parquet(f"{d}/term_stats")
        post_ops.corpus_stats(dstats).write.parquet(f"{d}/corpus_stats")
        yield d
    finally:
        postings.unpersist()
        shutil.rmtree(d, ignore_errors=True)


def _term_topk(spark, sf_dir, mode: str, k: int) -> list:
    """One-term ``batch_search`` queries, one per Q_TOPK_TERMS term:
    (query_id = term, rank, doc_id, score) rows."""
    from myaku_spark.operators.batch_search import batch_search

    with _gate_index(spark, sf_dir, mode) as d:
        return batch_search(
            spark, d, [(t, [t]) for t in Q_TOPK_TERMS], k=k, mode=mode
        ).collect()


def _decoded_postings(spark, sf_dir, schema: str, *cols) -> DataFrame:
    """``cols`` of the gate index's postings, decoded from its segment
    blocks by ``phrase.decode_postings``."""
    from myaku_spark.operators.phrase import decode_postings

    with _gate_index(spark, sf_dir, "bm25") as d:
        rows = decode_postings(spark.read.parquet(f"{d}/segments")).select(
            *cols
        ).collect()
    return local_frame(spark, rows, schema)


# SQL fragment: token stream with char offsets (mirrors
# tokenize_whitespace_col exactly: offsets count empty tokens' separators).
_SQL_TOKS = """
toks_raw AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
         generate_subscripts(string_split(text, ' '), 1) AS ord
  FROM documents
),
toks_off AS (
  SELECT doc_id, term, ord,
         CAST(coalesce(sum(length(term) + 1) OVER (
             PARTITION BY doc_id ORDER BY ord
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT)
           AS start
  FROM toks_raw
),
toks AS (
  SELECT doc_id, term, start, CAST(length(term) AS INT) AS len
  FROM toks_off WHERE length(term) > 0
)
"""

_SQL_POSTINGS = (
    _SQL_TOKS
    + """,
postings AS (
  SELECT term, doc_id, CAST(count(*) AS INT) AS tf
  FROM toks GROUP BY term, doc_id
)
"""
)

_SQL_BM25 = (
    _SQL_POSTINGS
    + """,
dstats AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
cstats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dstats),
tstats AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM postings GROUP BY term),
scored AS (
  SELECT p.term, p.doc_id, p.tf,
         ((ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * p.tf) * 2.2)
           / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl / c.avgdl)) AS bm25
  FROM postings p JOIN dstats d USING (doc_id)
                  JOIN tstats USING (term), cstats c
)
"""
)


# --- queries ---------------------------------------------------------------


def q_token_positions(spark, sf_dir):
    """T1/T2 analog: offset-preserving tokenization (Catalyst aggregate HOF)."""
    return _tokens(spark, sf_dir).select(
        "doc_id", "term", F.col("start").cast("int").alias("start"),
        F.col("len").cast("int").alias("len"),
    )


def q_postings_build(spark, sf_dir):
    """A1: posting build — (term, doc_id) → tf, as encoded into segment
    blocks and decoded back."""
    return _decoded_postings(
        spark, sf_dir, "term string, doc_id long, tf int",
        "term", "doc_id", F.col("tf").cast("int"),
    )


def q_posting_positions(spark, sf_dir):
    """A1 positions: first occurrence offset per (term, doc) (list head),
    as encoded into segment blocks and decoded back."""
    return _decoded_postings(
        spark, sf_dir,
        "term string, doc_id long, first_start int, n_positions int",
        "term", "doc_id", F.col("starts")[0], F.size("starts"),
    )


def q_doc_stats(spark, sf_dir):
    """Doc length stats (BM25 dl; A9 per-doc metrics)."""
    toks = _tokens(spark, sf_dir)
    return post_ops.doc_stats(toks).select(
        "doc_id", F.col("dl").cast("long").alias("dl")
    )


def q_term_stats(spark, sf_dir):
    """A2/A4: document frequency + collection frequency per term."""
    p = post_ops.build_postings(_tokens(spark, sf_dir))
    return post_ops.term_stats(p).select(
        "term",
        F.col("df").cast("long").alias("df"),
        F.col("cf").cast("long").alias("cf"),
    )


def q_term_dictionary(spark, sf_dir):
    """A3: distinct term dictionary."""
    p = post_ops.build_postings(_tokens(spark, sf_dir))
    return post_ops.term_dictionary(p)


def q_bm25_topk(spark, sf_dir):
    """K1: per-term BM25 top-10 for the fixed query terms — one-term
    ``batch_search`` queries over the bm25 gate index, each hit's tf
    joined back from the whitespace postings."""
    top = local_frame(
        spark,
        [(r.query_id, r.doc_id, r.rank, r.score)
         for r in _term_topk(spark, sf_dir, "bm25", 10)],
        "term string, doc_id long, rank int, score double",
    )
    p = post_ops.build_postings(_tokens(spark, sf_dir))
    return top.join(p, ["term", "doc_id"]).select(
        "term", "doc_id", F.col("tf").cast("int").alias("tf"), "rank",
        F.round("score", 3).alias("bm25_r"),
    )


E2E_TERMS = ["spark", "query"]  # exactly 2 → float-sum order-safe
E2E_PAGE = 2
E2E_K = 10


def q_segment_search_e2e(spark, sf_dir):
    """r4 verdict #7 — ONE gate row covering the full serving path
    THROUGH the codec: the bm25 gate index (range-blocked head terms) →
    IndexSearcher(mode='bm25') two-phase WAND (metadata-only plan, lazy
    blob windows) → page-2 slice → hydration join. The oracle replays
    it relationally in DuckDB: per-doc BM25 sum over the query terms,
    ORDER BY (score, doc_id) DESC, rows 11-20."""
    from myaku_spark.operators.search import IndexSearcher

    with _gate_index(spark, sf_dir, "bm25") as d:
        page = IndexSearcher(spark, d, mode="bm25").search_page(
            E2E_TERMS, page_num=E2E_PAGE, k=E2E_K, combine="or"
        )
        rows = [
            (int(r.rank) + E2E_K * (E2E_PAGE - 1), int(r.doc_id),
             int(r.dl), round(float(r.score), 3))
            for r in page.collect()
        ]
    return local_frame(
        spark, rows, "rank int, doc_id long, dl long, score_r double"
    )


def q_search_and(spark, sf_dir):
    """J7: posting-list intersection (multi-term AND) + summed BM25 —
    conjunctive WAND over the bm25 gate index, k = every doc."""
    from myaku_spark.operators.search import IndexSearcher

    with _gate_index(spark, sf_dir, "bm25") as d:
        s = IndexSearcher(spark, d, mode="bm25")
        hits = s.search(Q_AND_TERMS, k=s.n_docs, combine="and")
    return local_frame(
        spark,
        [(doc, len(Q_AND_TERMS), score) for score, doc in hits],
        "doc_id long, n_matched long, score double",
    ).select("doc_id", "n_matched", F.round("score", 3).alias("score_r"))


def q_rank_key_topk(spark, sf_dir):
    """K1/K3 Myaku rank mode: integer quality score, (score,doc_id) DESC.

    Integer-exact across engines: the myaku gate index's payload is
    length-bucket(n_chars)*3 + tf-bucket(tf)*3 (A5/A6 arithmetic), and
    one-term ``batch_search`` queries rank it by (score DESC, doc_id
    DESC)."""
    return local_frame(
        spark,
        [(r.query_id, r.doc_id, int(r.score), r.rank)
         for r in _term_topk(spark, sf_dir, "myaku", 10)],
        "term string, doc_id long, score int, rank int",
    )


_SQL_LENGTH_SCORE = """
CASE WHEN {v} <= 100 THEN -1000 WHEN {v} <= 200 THEN -500
     WHEN {v} <= 300 THEN 0 WHEN {v} <= 400 THEN 200
     WHEN {v} <= 500 THEN 600 WHEN {v} <= 700 THEN 800
     WHEN {v} <= 1000 THEN 1000 WHEN {v} <= 1300 THEN 800
     WHEN {v} <= 1500 THEN 600 WHEN {v} <= 1700 THEN 400
     WHEN {v} <= 1900 THEN 200 WHEN {v} <= 2100 THEN 0
     WHEN {v} <= 2500 THEN -500 ELSE -1000 END
"""

_SQL_TF_MOD = """
(CASE WHEN {v} <= 1 THEN 0 WHEN {v} <= 2 THEN 250 WHEN {v} <= 3 THEN 500
      WHEN {v} <= 4 THEN 750 ELSE 1000 END) * 3
"""


def q_quality_scores(spark, sf_dir):
    """A5/A6: bucketed article quality scoring (length + recency factors)."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        (scoring.length_score_col(F.col("n_chars")) * 3)
        .cast("int")
        .alias("length_score"),
    )


def q_recency_scores(spark, sf_dir):
    """A6 recency buckets over events.ts with parameterized 'now' (A8)."""
    ev = _events(spark, sf_dir)
    now = F.to_timestamp(F.lit(FIXED_NOW))
    return ev.select(
        "event_id",
        (scoring.recency_score_col(F.col("ts"), now) * 2)
        .cast("int")
        .alias("recency_score"),
    )


def q_dedup_exact(spark, sf_dir):
    """P9/J4: exact dedup via content hash, first-writer-wins (min doc_id)."""
    docs = _docs(spark, sf_dir)
    h = docs.select(F.md5(F.encode(F.col("text"), "UTF-8")).alias("h"), "doc_id")
    return h.groupBy("h").agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).cast("long").alias("n_dupes"),
    )


def q_anti_join_skip(spark, sf_dir):
    """S4/J5: incremental-crawl skip — LEFT ANTI JOIN vs a skip list."""
    docs = _docs(spark, sf_dir)
    skip = docs.filter(F.col("doc_id") % 20 == 0).select("doc_id")
    return docs.join(skip, "doc_id", "left_anti").select("doc_id", "lang")


def q_hydrate_topk(spark, sf_dir):
    """J1/J2: hydration of each fixed term's myaku top-10
    (``IndexSearcher.search`` → ``hydrate``) with doc metadata."""
    from myaku_spark.operators.search import IndexSearcher

    rows = []
    with _gate_index(spark, sf_dir, "myaku") as d:
        s = IndexSearcher(spark, d, mode="myaku")
        for t in Q_TOPK_TERMS:
            rows += [
                (t, r.doc_id, r.rank, r.lang, r.source, r.n_chars)
                for r in s.hydrate(s.search([t], k=10)).collect()
            ]
    return local_frame(
        spark, rows,
        "term string, doc_id long, rank int, lang string, source string,"
        " n_chars long",
    )


def q_incremental_merge(spark, sf_dir):
    """S6/J4 semantics: first-writer-wins upsert of docs by text hash.

    Simulates a re-crawl: docs with doc_id % 7 == 0 arrive 'again' with a
    new id offset; MERGE keeps the earliest doc per content hash."""
    docs = _docs(spark, sf_dir)
    recrawl = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    combined = docs.select("doc_id", "text").unionByName(recrawl)
    h = combined.select(
        "doc_id", F.md5(F.encode(F.col("text"), "UTF-8")).alias("h")
    )
    w = Window.partitionBy("h").orderBy("doc_id")
    return (
        h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("h", F.col("doc_id").alias("keeper_doc_id"))
    )


def q_ja_index_postings(spark, sf_dir):
    """Japanese pipeline over deterministic synthetic pages: extract UDF →
    ja tokenize UDF → posting build → per-url rollup with an
    md5-term-id checksum. The oracle is a VALUES table computed at
    oracle-build time by the pure-Python twins (synth_page text +
    tokenize_ja_text + hashlib), so the gate catches any drift in the
    Spark-side extraction/tokenization/aggregation plumbing."""
    from myaku_spark.functions.tokenize import explode_ja_tokens
    from myaku_spark.plans.build_index import extract_and_dedupe
    from myaku_spark.sources.pages import synth_pages_df

    pages = synth_pages_df(spark, 60, partitions=4)
    docs = extract_and_dedupe(pages).withColumn(
        "doc_id", F.xxhash64("url")
    )
    toks = explode_ja_tokens(docs, "text", "doc_id")
    p = post_ops.build_postings(toks)
    tid_p = term_id_col(F.col("term")) % CHECKSUM_P
    rolled = p.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_postings"),
        F.sum("tf").cast("long").alias("sum_tf"),
        (F.sum((tid_p * F.col("tf")) % CHECKSUM_P) % CHECKSUM_P)
        .cast("long")
        .alias("checksum"),
    )
    return rolled.join(docs.select("doc_id", "url"), "doc_id").select(
        "url", "n_postings", "sum_tf", "checksum"
    )


def q_extraction_parity(spark, sf_dir):
    """Byte-identical extraction invariant: per-url SHA-256 of the
    extract-UDF output (oracle = VALUES of the expected hashes computed
    from the deterministic synth corpus; a single changed byte anywhere
    in the extraction pipeline fails the value-hash compare)."""
    from myaku_spark.functions.html_extract import extract_text_udf
    from myaku_spark.sources.pages import synth_pages_df

    pages = synth_pages_df(spark, 60, partitions=4)
    src = F.lit("kakuyomu")
    out = pages.withColumn("ext", extract_text_udf(F.col("html"), src))
    return out.select(
        "url",
        F.sha2(F.encode(F.col("ext"), "UTF-8"), 256).alias("ext_hash"),
        (
            F.sha2(F.encode(F.col("ext"), "UTF-8"), 256)
            == F.sha2(F.encode(F.col("text"), "UTF-8"), 256)
        ).alias("is_match"),
    )


def q_media_features(spark, sf_dir):
    """Multimodal plumbing: binary payload → mapInPandas feature extraction
    (deterministic stub kernel; oracle = VALUES of the expected
    (media_id, kind, n_bytes, dim) from the synth generator's twin)."""
    from myaku_spark.operators.multimodal import (
        extract_features,
        synth_media_df,
    )

    media = synth_media_df(spark, 48)
    feats = extract_features(media)
    return feats.select(
        "media_id", "kind", "n_bytes", F.size("feature").cast("int").alias("dim")
    )


def q_interp_position_map(spark, sf_dir):
    """Interp structures (datatypes.py:307-505): per (url, term) rollup
    of interpretation variety — how many distinct interp source sets the
    term has in the doc (possible_interps), how many of its positions
    carry a JMdict (non-MeCab) interp, and where the first such position
    is (the interp_position_map surface). Oracle = VALUES from the
    pure-Python tokenizer twin."""
    from myaku_spark.functions.tokenize import explode_ja_tokens
    from myaku_spark.plans.build_index import extract_and_dedupe
    from myaku_spark.sources.pages import synth_pages_df

    pages = synth_pages_df(spark, 300, partitions=8)
    docs = extract_and_dedupe(pages).withColumn("doc_id", F.xxhash64("url"))
    toks = explode_ja_tokens(docs, "text", "doc_id", include_analysis=True)
    k = F.array_join(
        F.transform(F.col("sources"), lambda x: x.cast("string")), ","
    )
    agg = (
        toks.withColumn("srckey", k)
        .groupBy("doc_id", "term")
        .agg(
            F.countDistinct("srckey").cast("long").alias("n_interps"),
            F.sum(F.when(F.col("srckey") != "1", 1).otherwise(0))
            .cast("long")
            .alias("n_jmdict_positions"),
            F.min(F.when(F.col("srckey") != "1", F.col("start")))
            .cast("int")
            .alias("first_jmdict_start"),
        )
        .filter((F.col("n_interps") > 1) | (F.col("n_jmdict_positions") > 0))
    )
    return agg.join(docs.select("doc_id", "url"), "doc_id").select(
        "url", "term", "n_interps", "n_jmdict_positions", "first_jmdict_start"
    )


def _interp_position_map_values() -> str:
    from myaku_spark.functions.tokenize import tokenize_ja_text
    from myaku_spark.sources.pages import synth_page

    rows = []
    for i in range(300):
        p = synth_page(i)
        per_term: dict[str, list] = {}
        for t in tokenize_ja_text(p["text"]):
            per_term.setdefault(t["term"], []).append(
                (tuple(t["sources"]), t["start"])
            )
        for term, occ in per_term.items():
            keys = {k for k, _ in occ}
            jm = [s for k, s in occ if k != (1,)]
            if len(keys) > 1 or jm:
                rows.append(
                    (
                        p["url"],
                        term,
                        len(keys),
                        len(jm),
                        min(jm) if jm else None,
                    )
                )
    return _values_sql(
        rows,
        ["url", "term", "n_interps", "n_jmdict_positions", "first_jmdict_start"],
    )


def q_conj_interp_rollup(spark, sf_dir):
    """Conjugation-interp surface in the gate (round 4): per (url, term)
    over the synth corpus, how many DISTINCT conjugated forms the
    term's dictionary interps take in the doc, how many positions carry
    a conjugation tag, and where the first tagged position is — the
    MecabLexicalItemInterp conjugated_type/form fields
    (datatypes.py:329-342) that the ipadic word layer now threads
    through the analysis sidecar. Oracle = VALUES from the pure-Python
    tokenizer twin."""
    from myaku_spark.functions.tokenize import explode_ja_tokens
    from myaku_spark.plans.build_index import extract_and_dedupe
    from myaku_spark.sources.pages import synth_pages_df

    pages = synth_pages_df(spark, 300, partitions=8)
    docs = extract_and_dedupe(pages).withColumn("doc_id", F.xxhash64("url"))
    toks = explode_ja_tokens(docs, "text", "doc_id", include_analysis=True)
    agg = (
        toks.groupBy("doc_id", "term")
        .agg(
            F.countDistinct("conj_form").cast("long").alias("n_conj_forms"),
            F.sum(F.when(F.col("conj_form").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_tagged_positions"),
            F.min(F.when(F.col("conj_form").isNotNull(), F.col("start")))
            .cast("int")
            .alias("first_tagged_start"),
        )
        .filter(F.col("n_tagged_positions") > 0)
    )
    return agg.join(docs.select("doc_id", "url"), "doc_id").select(
        "url", "term", "n_conj_forms", "n_tagged_positions",
        "first_tagged_start",
    )


def _conj_interp_rollup_values() -> str:
    from myaku_spark.functions.tokenize import tokenize_ja_text
    from myaku_spark.sources.pages import synth_page

    rows = []
    for i in range(300):
        p = synth_page(i)
        per_term: dict[str, list] = {}
        for t in tokenize_ja_text(p["text"]):
            per_term.setdefault(t["term"], []).append(
                (t.get("conj_form"), t["start"])
            )
        for term, occ in per_term.items():
            tagged = [(f, s) for f, s in occ if f is not None]
            if tagged:
                rows.append(
                    (
                        p["url"],
                        term,
                        len({f for f, _ in tagged}),
                        len(tagged),
                        min(s for _, s in tagged),
                    )
                )
    return _values_sql(
        rows,
        [
            "url", "term", "n_conj_forms", "n_tagged_positions",
            "first_tagged_start",
        ],
    )


def q_fli_rollup(spark, sf_dir):
    """FLI-document surface in the gate: build the reference-shaped
    found-lexical-item documents (operators/fli_docs.py) over the synth
    corpus and roll them up per url — FLI count, position totals,
    multi-interp count, and the max exact quality score. Oracle = VALUES
    from the pure-Python twins (tokenizer + bucket scorer)."""
    from myaku_spark.functions.textfns import alnum_count_udf
    from myaku_spark.functions.tokenize import explode_ja_tokens
    from myaku_spark.operators.fli_docs import build_fli_documents
    from myaku_spark.plans.build_index import extract_and_dedupe
    from myaku_spark.sources.pages import synth_pages_df

    pages = synth_pages_df(spark, 60, partitions=4)
    docs = (
        extract_and_dedupe(pages)
        .withColumn("doc_id", F.xxhash64("url"))
        .withColumn("alnum", alnum_count_udf(F.col("text")))
        .withColumn(
            "doc_score",
            scoring.article_quality_score_col(
                F.col("alnum"), F.col("warc_ts"),
                F.lit(FIXED_NOW).cast("timestamp"),
            ),
        )
        .withColumn("doc_ts", F.col("warc_ts"))
    )
    fli = build_fli_documents(
        explode_ja_tokens(docs, "text", "doc_id", include_analysis=True), docs
    )
    return fli.groupBy(F.col("article_url").alias("url")).agg(
        F.count(F.lit(1)).cast("long").alias("n_flis"),
        F.sum("found_positions_exact_count").cast("long").alias("sum_positions"),
        F.sum(
            F.when(F.size("possible_interps") > 1, 1).otherwise(0)
        ).cast("long").alias("n_multi_interp"),
        F.max("quality_score_exact").cast("long").alias("max_score_exact"),
    )


def _fli_rollup_values() -> str:
    import datetime as dt
    import math

    from myaku_spark.functions.textfns import alnum_count_py
    from myaku_spark.functions.tokenize import tokenize_ja_text
    from myaku_spark.operators.scoring import (
        ARTICLE_FACTOR_WEIGHTS,
        LENGTH_BUCKETS,
        RECENCY_BUCKETS,
        TF_BUCKETS,
        TF_MOD_WEIGHT,
        bucket_score,
    )
    from myaku_spark.sources.pages import synth_page

    now = dt.datetime.fromisoformat(FIXED_NOW)
    rows = []
    for i in range(60):
        p = synth_page(i)
        days = math.floor((now - p["warc_ts"]).total_seconds() / 86400.0)
        art_score = (
            bucket_score(alnum_count_py(p["text"]), LENGTH_BUCKETS)
            * ARTICLE_FACTOR_WEIGHTS["length"]
            + bucket_score(days, RECENCY_BUCKETS)
            * ARTICLE_FACTOR_WEIGHTS["recency"]
        )
        per_term: dict[str, dict] = {}
        for t in tokenize_ja_text(p["text"]):
            e = per_term.setdefault(t["term"], {"pos": set(), "interps": set()})
            e["pos"].add((t["start"], t["length"]))
            # Interp identity as in fli_docs.build_fli_documents: the
            # conjugation type/form are part of it.
            e["interps"].add(
                (
                    ",".join(str(s) for s in t["sources"]),
                    t.get("entry_id") or "",
                    t.get("pos") or "",
                    t.get("conj_type") or "",
                    t.get("conj_form") or "",
                )
            )
        n_flis = len(per_term)
        sum_positions = sum(len(e["pos"]) for e in per_term.values())
        n_multi = sum(1 for e in per_term.values() if len(e["interps"]) > 1)
        max_score = max(
            art_score
            + bucket_score(len(e["pos"]), TF_BUCKETS) * TF_MOD_WEIGHT
            for e in per_term.values()
        )
        rows.append((p["url"], n_flis, sum_positions, n_multi, max_score))
    return _values_sql(
        rows, ["url", "n_flis", "sum_positions", "n_multi_interp", "max_score_exact"]
    )


def q_fli_field_families(spark, sf_dir):
    """DEFINITE/POSSIBLE field families (document_convert.py:204-222):
    the reference stores three match-group / positions-count /
    score-mod / score column families per FLI document, equal in value
    because the alt-form query types are declared but unimplemented.
    This gate rolls up EACH family from its OWN stored columns (three
    aggregations over genuinely different fields, unioned); the oracle
    pins the equal-values contract numerically."""
    from myaku_spark.functions.textfns import alnum_count_udf
    from myaku_spark.functions.tokenize import explode_ja_tokens
    from myaku_spark.operators.fli_docs import (
        QUERY_TYPE_COUNT_FIELD,
        QUERY_TYPE_MOD_FIELD,
        QUERY_TYPE_QUERY_FIELD,
        QUERY_TYPE_SCORE_FIELD,
        build_fli_documents,
    )
    from myaku_spark.plans.build_index import extract_and_dedupe
    from myaku_spark.sources.pages import synth_pages_df

    pages = synth_pages_df(spark, 60, partitions=4)
    docs = (
        extract_and_dedupe(pages)
        .withColumn("doc_id", F.xxhash64("url"))
        .withColumn("alnum", alnum_count_udf(F.col("text")))
        .withColumn(
            "doc_score",
            scoring.article_quality_score_col(
                F.col("alnum"), F.col("warc_ts"),
                F.lit(FIXED_NOW).cast("timestamp"),
            ),
        )
        .withColumn("doc_ts", F.col("warc_ts"))
    )
    fli = build_fli_documents(
        explode_ja_tokens(docs, "text", "doc_id", include_analysis=True), docs
    )
    fams = None
    for fam in ("exact", "definite", "possible"):
        agg = (
            fli.agg(
                F.countDistinct(QUERY_TYPE_QUERY_FIELD[fam])
                .cast("long")
                .alias("n_terms"),
                F.count(F.lit(1)).cast("long").alias("n_flis"),
                F.sum(QUERY_TYPE_COUNT_FIELD[fam])
                .cast("long")
                .alias("sum_positions"),
                F.sum(QUERY_TYPE_MOD_FIELD[fam]).cast("long").alias("sum_mods"),
                F.max(QUERY_TYPE_SCORE_FIELD[fam]).cast("long").alias("max_score"),
            )
            .withColumn("family", F.lit(fam))
            .select(
                "family", "n_terms", "n_flis", "sum_positions", "sum_mods",
                "max_score",
            )
        )
        fams = agg if fams is None else fams.unionByName(agg)
    return fams


def _fli_field_families_values() -> str:
    import datetime as dt
    import math

    from myaku_spark.functions.textfns import alnum_count_py
    from myaku_spark.functions.tokenize import tokenize_ja_text
    from myaku_spark.operators.scoring import (
        ARTICLE_FACTOR_WEIGHTS,
        LENGTH_BUCKETS,
        RECENCY_BUCKETS,
        TF_BUCKETS,
        TF_MOD_WEIGHT,
        bucket_score,
    )
    from myaku_spark.sources.pages import synth_page

    now = dt.datetime.fromisoformat(FIXED_NOW)
    terms: set[str] = set()
    n_flis = 0
    sum_positions = 0
    sum_mods = 0
    max_score = None
    for i in range(60):
        p = synth_page(i)
        days = math.floor((now - p["warc_ts"]).total_seconds() / 86400.0)
        art_score = (
            bucket_score(alnum_count_py(p["text"]), LENGTH_BUCKETS)
            * ARTICLE_FACTOR_WEIGHTS["length"]
            + bucket_score(days, RECENCY_BUCKETS)
            * ARTICLE_FACTOR_WEIGHTS["recency"]
        )
        per_term: dict[str, set] = {}
        for t in tokenize_ja_text(p["text"]):
            per_term.setdefault(t["term"], set()).add((t["start"], t["length"]))
        terms.update(per_term)
        n_flis += len(per_term)
        for pos in per_term.values():
            sum_positions += len(pos)
            mod = bucket_score(len(pos), TF_BUCKETS) * TF_MOD_WEIGHT
            sum_mods += mod
            score = art_score + mod
            max_score = score if max_score is None else max(max_score, score)
    rows = [
        (fam, len(terms), n_flis, sum_positions, sum_mods, max_score)
        for fam in ("exact", "definite", "possible")
    ]
    return _values_sql(
        rows,
        ["family", "n_terms", "n_flis", "sum_positions", "sum_mods",
         "max_score"],
    )


def q_blog_rollup(spark, sf_dir):
    """J2 blog dimension end-to-end: synth pages ⋈ article→blog map ⋈
    broadcast blogs dimension → full 5-factor quality score → per-blog
    rollup. Oracle = VALUES computed by the pure-Python scorer twin
    (bucket_score + the same weights), so every factor's bucket table and
    the broadcast hydration path are value-checked."""
    from myaku_spark.functions.textfns import alnum_count_udf
    from myaku_spark.operators.scoring import (
        attach_blog_dimension,
        full_article_score_col,
    )
    from myaku_spark.plans.build_index import extract_and_dedupe
    from myaku_spark.sources.blogs import synth_blog_map_df, synth_blogs_df
    from myaku_spark.sources.pages import synth_pages_df

    pages = synth_pages_df(spark, 60, partitions=4)
    docs = extract_and_dedupe(pages).withColumn(
        "alnum", alnum_count_udf(F.col("text"))
    )
    scored = attach_blog_dimension(
        docs, synth_blog_map_df(spark, 60), synth_blogs_df(spark)
    ).withColumn(
        "score", full_article_score_col(F.lit(FIXED_NOW).cast("timestamp"))
    )
    return scored.groupBy("blog_url").agg(
        F.count(F.lit(1)).cast("long").alias("n_articles"),
        F.sum("score").cast("long").alias("sum_score"),
        F.max("score").cast("long").alias("max_score"),
    )


def _blog_rollup_values() -> str:
    """Python twin of q_blog_rollup: the exact factor arithmetic
    (scorer/__init__.py:27-60 weights × factor_scorers bucket tables)
    over the deterministic synth corpus."""
    import datetime as dt
    import math

    from myaku_spark.functions.textfns import alnum_count_py
    from myaku_spark.operators.scoring import (
        ARTICLE_FACTOR_WEIGHTS,
        KAKUYOMU_STAR_BUCKETS,
        LENGTH_BUCKETS,
        RECENCY_BUCKETS,
        bucket_score,
    )
    from myaku_spark.sources.blogs import synth_blog_map_rows
    from myaku_spark.sources.pages import synth_page

    now = dt.datetime.fromisoformat(FIXED_NOW)
    bmap = {r[0]: r for r in synth_blog_map_rows(60)}
    rollup: dict[str, list] = {}
    for i in range(60):
        p = synth_page(i)
        url, blog_url, _, order, section, video = bmap[p["url"]]
        k = int(blog_url.rsplit("-", 1)[1])
        rating = (k * 13) % 120
        days = math.floor((now - p["warc_ts"]).total_seconds() / 86400.0)
        score = (
            bucket_score(alnum_count_py(p["text"]), LENGTH_BUCKETS)
            * ARTICLE_FACTOR_WEIGHTS["length"]
            + (1000 if order == 1 else (500 if section == 1 else 0))
            * ARTICLE_FACTOR_WEIGHTS["blog_order"]
            + bucket_score(rating, KAKUYOMU_STAR_BUCKETS)
            * ARTICLE_FACTOR_WEIGHTS["blog_rating"]
            + (1000 if video else 0) * ARTICLE_FACTOR_WEIGHTS["video"]
            + bucket_score(days, RECENCY_BUCKETS)
            * ARTICLE_FACTOR_WEIGHTS["recency"]
        )
        agg = rollup.setdefault(blog_url, [0, 0, None])
        agg[0] += 1
        agg[1] += score
        agg[2] = score if agg[2] is None else max(agg[2], score)
    rows = [
        (b, n, s, mx) for b, (n, s, mx) in sorted(rollup.items())
    ]
    return _values_sql(rows, ["blog_url", "n_articles", "sum_score", "max_score"])


def q_pagination_page2(spark, sf_dir):
    """K2 pagination: page 2 (ranks 11-20) of the rank-key retrieval."""
    return local_frame(
        spark,
        [(r.query_id, r.doc_id, int(r.score), r.rank)
         for r in _term_topk(spark, sf_dir, "myaku", 20) if r.rank > 10],
        "term string, doc_id long, score int, rank int",
    )


# Phrase gate: 5 occurrences in 5 docs, at sf0.001 and at sf0.01.
PHRASE = ["small", "query", "line"]
PHRASE_K = 10


def _phrase_gate(spark, sf_dir, terms, slop=0):
    """Shared phrase/proximity gate: ``IndexSearcher.search_phrase``
    (gap=1 for the space separator) over the gate index, top-k by
    phrase_tf. match_starts is canonicalized to a comma-joined string:
    engines may stringify lists differently in the driver's
    normalizer."""
    from myaku_spark.operators.search import IndexSearcher

    with _gate_index(spark, sf_dir, "myaku") as d:
        hits = IndexSearcher(spark, d).search_phrase(
            terms, k=PHRASE_K, gap=1, slop=slop
        )
    return local_frame(
        spark,
        [(doc, tf, ",".join(map(str, starts))) for doc, tf, starts in hits],
        "doc_id long, phrase_tf long, match_starts string",
    )


def q_phrase_search(spark, sf_dir):
    """Positional phrase search end-to-end THROUGH the segment codec;
    the oracle replays the adjacency join relationally over the same
    token offsets."""
    return _phrase_gate(spark, sf_dir, PHRASE)


PROX = ["slow", "batch"]  # proximity gate: ordered within-window pair
PROX_SLOP = 8  # window admits one intervening token of <= 7 chars


def q_proximity_search(spark, sf_dir):
    """Ordered proximity search (slop=8): 'slow' followed by 'batch'
    within the window — catches both the adjacent pair and pairs with
    one short token between them. Same engine path as phrase_search;
    chains branch over every in-window occurrence."""
    return _phrase_gate(spark, sf_dir, PROX, slop=PROX_SLOP)


FUZZY_QUERIES = [
    ("q1", "windoe"),   # window, 1 sub+1 swap-ish
    ("q2", "streem"),   # stream
    ("q3", "custmer"),  # customer, deletion
    ("q4", "qury"),     # query, deletion
    ("q5", "sparc"),    # spark, substitution
]


def q_fuzzy_terms(spark, sf_dir):
    """Fuzzy term lookup ("did you mean"): top-3 dictionary terms within
    2 edits of each misspelled query term, ranked by (distance, df,
    term). The Spark plan is the lossless q-gram-pruned candidate join
    (operators/fuzzy.py — Gravano et al. VLDB'01 count filter plus the
    short-string leg); the oracle replays it brute-force, so the gate
    also proves the prune drops no true match."""
    from myaku_spark.operators.fuzzy import fuzzy_term_lookup

    p = post_ops.build_postings(_tokens(spark, sf_dir))
    terms = post_ops.term_stats(p).select(
        "term", F.col("df").cast("long").alias("df")
    )
    queries = spark.createDataFrame(
        FUZZY_QUERIES, "query_id string, q string"
    )
    return fuzzy_term_lookup(terms, queries, max_dist=2, k=3)


PREFIX_QUERIES = [
    ("p1", "s"),     # scan/sort/stream/spark/... — contested top-5
    ("p2", "co"),    # column/...
    ("p3", "qu"),    # query/...
    ("p4", "pa"),    # part/...
    ("p5", "zzzz"),  # no completions — must contribute zero rows
]
PREFIX_K = 5


def q_prefix_terms(spark, sf_dir):
    """Autocomplete: top-5 term-dictionary completions per prefix,
    ranked by (df desc, term). The Spark plan broadcasts the prefix
    set against the term dictionary (operators/fuzzy.py
    prefix_term_lookup — a persisted dictionary prunes the scan via
    StringStartsWith pushdown); the oracle replays it with LIKE."""
    from myaku_spark.operators.fuzzy import prefix_term_lookup

    p = post_ops.build_postings(_tokens(spark, sf_dir))
    terms = post_ops.term_stats(p).select(
        "term", F.col("df").cast("long").alias("df")
    )
    queries = spark.createDataFrame(
        PREFIX_QUERIES, "query_id string, prefix string"
    )
    return prefix_term_lookup(terms, queries, k=PREFIX_K)


QUERIES = {
    "phrase_search": q_phrase_search,
    "proximity_search": q_proximity_search,
    "ja_index_postings": q_ja_index_postings,
    "extraction_parity": q_extraction_parity,
    "media_features": q_media_features,
    "interp_position_map": q_interp_position_map,
    "fli_rollup": q_fli_rollup,
    "fli_field_families": q_fli_field_families,
    "segment_search_e2e": q_segment_search_e2e,
    "fuzzy_terms": q_fuzzy_terms,
    "prefix_terms": q_prefix_terms,
    "blog_rollup": q_blog_rollup,
    "pagination_page2": q_pagination_page2,
    "conj_interp_rollup": q_conj_interp_rollup,
    "token_positions": q_token_positions,
    "postings_build": q_postings_build,
    "posting_positions": q_posting_positions,
    "doc_stats": q_doc_stats,
    "term_stats": q_term_stats,
    "term_dictionary": q_term_dictionary,
    "bm25_topk": q_bm25_topk,
    "search_and": q_search_and,
    "rank_key_topk": q_rank_key_topk,
    "quality_scores": q_quality_scores,
    "recency_scores": q_recency_scores,
    "dedup_exact": q_dedup_exact,
    "anti_join_skip": q_anti_join_skip,
    "hydrate_topk": q_hydrate_topk,
    "incremental_merge": q_incremental_merge,
}


# --- DuckDB oracles ---------------------------------------------------------


def _values_sql(rows: list[tuple], cols: list[str]) -> str:
    """Literal VALUES oracle (expected output precomputed in Python)."""

    def lit(v):
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, (int, float)):
            return repr(v)
        if v is None:
            return "NULL"
        return "'" + str(v).replace("'", "''") + "'"

    vals = ",\n".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    return (
        f"SELECT * FROM (VALUES\n{vals}\n) AS t({', '.join(cols)})"
    )


def _extraction_parity_values() -> str:
    """Expected (url, sha256(text), TRUE) for the 60 synth pages — the
    byte-identical extraction invariant computed driver-free in Python."""
    import hashlib

    from myaku_spark.sources.pages import synth_page

    rows = []
    for i in range(60):
        p = synth_page(i)
        h = hashlib.sha256(p["text"].encode("utf-8")).hexdigest()
        rows.append((p["url"], h, True))
    return _values_sql(rows, ["url", "ext_hash", "is_match"])


def _ja_postings_values() -> str:
    """Expected per-url posting rollups for the 60 synth pages, computed
    by the pure-Python tokenizer twin (tokenize_ja_text + hashlib term
    ids) — validates the whole Spark extract→tokenize→reduce path."""
    from myaku_spark.functions.tokenize import tokenize_ja_text
    from myaku_spark.sources.pages import synth_page

    rows = []
    for i in range(60):
        p = synth_page(i)
        tf: dict[str, set] = {}
        for t in tokenize_ja_text(p["text"]):
            tf.setdefault(t["term"], set()).add((t["start"], t["length"]))
        n_postings = len(tf)
        sum_tf = sum(len(v) for v in tf.values())
        checksum = (
            sum(
                (term_id_py(term) % CHECKSUM_P) * len(v) % CHECKSUM_P
                for term, v in tf.items()
            )
            % CHECKSUM_P
        )
        rows.append((p["url"], n_postings, sum_tf, checksum))
    return _values_sql(rows, ["url", "n_postings", "sum_tf", "checksum"])


def _media_features_values() -> str:
    """Expected (media_id, kind, n_bytes, dim) from the synth media
    generator's deterministic payloads (multimodal.py). Image rows are
    real PNG/BMP containers whose DECODED pixels feed the feature
    kernel; their byte sizes come from the same stdlib encoders the
    generator uses (pixel-exact decode correctness is pinned by the
    imagecodec roundtrip pytest suite, not this size oracle)."""
    from myaku_spark.functions.imagecodec import encode_bmp, encode_png
    from myaku_spark.operators.multimodal import synth_image_raster

    kinds = ["image", "audio", "video"]
    rows = []
    for i in range(48):
        kind = kinds[i % 3]
        if kind == "image":
            raster = synth_image_raster(i)
            payload = (
                encode_png(raster) if (i // 3) % 2 == 0 else encode_bmp(raster)
            )
            nb = len(payload)
        else:
            nb = 64 * (4 + i % 5)
        rows.append((i, kind, nb, 64))
    return _values_sql(rows, ["media_id", "kind", "n_bytes", "dim"])


ORACLE = {
    "token_positions": f"WITH {_SQL_TOKS} SELECT doc_id, term, start, len FROM toks",
    "postings_build": f"WITH {_SQL_POSTINGS} SELECT term, doc_id, tf FROM postings",
    "posting_positions": f"""
WITH {_SQL_TOKS}
SELECT term, doc_id, CAST(min(start) AS INT) AS first_start,
       CAST(count(*) AS INT) AS n_positions
FROM toks GROUP BY term, doc_id
""",
    "doc_stats": f"WITH {_SQL_TOKS} SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id",
    "term_stats": f"""
WITH {_SQL_POSTINGS}
SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS cf
FROM postings GROUP BY term
""",
    "term_dictionary": f"WITH {_SQL_POSTINGS} SELECT DISTINCT term FROM postings",
    "segment_search_e2e": f"""
WITH {_SQL_BM25},
qdoc AS (
  SELECT doc_id, sum(bm25) AS score FROM scored
  WHERE term IN ({",".join(repr(t) for t in E2E_TERMS)})
  GROUP BY doc_id
),
ranked AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id DESC) AS rank
  FROM qdoc
)
SELECT CAST(rank AS INT) AS rank, r.doc_id, d.dl, round(score, 3) AS score_r
FROM ranked r JOIN dstats d USING (doc_id)
WHERE rank > {E2E_K * (E2E_PAGE - 1)} AND rank <= {E2E_K * E2E_PAGE}
""",
    "fuzzy_terms": f"""
WITH {_SQL_POSTINGS},
term_df AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM postings GROUP BY term
),
queries(query_id, q) AS (
  VALUES {",".join(f"({qid!r}, {qt!r})" for qid, qt in FUZZY_QUERIES)}
),
pairs AS (
  SELECT query_id, q, term,
         CAST(levenshtein(term, q) AS INT) AS dist, df
  FROM term_df CROSS JOIN queries
  WHERE levenshtein(term, q) <= 2
)
SELECT query_id, q, term, dist, df FROM pairs
QUALIFY row_number() OVER (
  PARTITION BY query_id ORDER BY dist, df DESC, term) <= 3
""",
    "prefix_terms": f"""
WITH {_SQL_POSTINGS},
term_df AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM postings GROUP BY term
),
pq(query_id, prefix) AS (
  VALUES {",".join(f"({qid!r}, {p!r})" for qid, p in PREFIX_QUERIES)}
)
SELECT query_id, prefix, CAST(rank AS INT) AS rank, term, df FROM (
  SELECT query_id, prefix, term, df,
         row_number() OVER (
           PARTITION BY query_id ORDER BY df DESC, term) AS rank
  FROM term_df JOIN pq ON starts_with(term, prefix)
) WHERE rank <= {PREFIX_K}
""",
    "bm25_topk": f"""
WITH {_SQL_BM25},
ranked AS (
  SELECT term, doc_id, tf, bm25,
         row_number() OVER (PARTITION BY term ORDER BY bm25 DESC, doc_id DESC) AS rank
  FROM scored WHERE term IN ({",".join(repr(t) for t in Q_TOPK_TERMS)})
)
SELECT term, doc_id, tf, CAST(rank AS INT) AS rank, round(bm25, 3) AS bm25_r
FROM ranked WHERE rank <= 10
""",
    "search_and": f"""
WITH {_SQL_BM25}
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matched, round(sum(bm25), 3) AS score_r
FROM scored WHERE term IN ({",".join(repr(t) for t in Q_AND_TERMS)})
GROUP BY doc_id HAVING count(*) = {len(Q_AND_TERMS)}
""",
    "rank_key_topk": f"""
WITH {_SQL_POSTINGS},
scored AS (
  SELECT p.term, p.doc_id,
         CAST(({_SQL_LENGTH_SCORE.format(v="d.n_chars")}) * 3
              + ({_SQL_TF_MOD.format(v="p.tf")}) AS INT) AS score
  FROM postings p JOIN documents d USING (doc_id)
  WHERE p.term IN ({",".join(repr(t) for t in Q_TOPK_TERMS)})
),
ranked AS (
  SELECT term, doc_id, score,
         row_number() OVER (PARTITION BY term ORDER BY score DESC, doc_id DESC) AS rank
  FROM scored
)
SELECT term, doc_id, score, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 10
""",
    "quality_scores": f"""
SELECT doc_id, CAST(({_SQL_LENGTH_SCORE.format(v="n_chars")}) * 3 AS INT) AS length_score
FROM documents
""",
    "recency_scores": f"""
SELECT event_id,
  CAST((CASE WHEN d <= 7 THEN 1000 WHEN d <= 30 THEN 900 WHEN d <= 90 THEN 600
        WHEN d <= 180 THEN 400 WHEN d <= 365 THEN 200 WHEN d <= 1095 THEN 0
        ELSE -200 END) * 2 AS INT) AS recency_score
FROM (SELECT event_id,
        floor((epoch(TIMESTAMP '{FIXED_NOW}') - epoch(ts)) / 86400.0) AS d
      FROM events)
""",
    "dedup_exact": """
SELECT md5(text) AS h, min(doc_id) AS keeper_doc_id,
       CAST(count(*) AS BIGINT) AS n_dupes
FROM documents GROUP BY md5(text)
""",
    "anti_join_skip": """
SELECT doc_id, lang FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM documents WHERE doc_id % 20 = 0)
""",
    "hydrate_topk": f"""
WITH {_SQL_POSTINGS},
scored AS (
  SELECT p.term, p.doc_id,
         CAST(({_SQL_LENGTH_SCORE.format(v="d.n_chars")}) * 3
              + ({_SQL_TF_MOD.format(v="p.tf")}) AS INT) AS score
  FROM postings p JOIN documents d USING (doc_id)
  WHERE p.term IN ({",".join(repr(t) for t in Q_TOPK_TERMS)})
),
ranked AS (
  SELECT term, doc_id, score,
         row_number() OVER (PARTITION BY term ORDER BY score DESC, doc_id DESC) AS rank
  FROM scored
)
SELECT r.term, r.doc_id, CAST(r.rank AS INT) AS rank, d.lang, d.source, d.n_chars
FROM ranked r JOIN documents d USING (doc_id) WHERE r.rank <= 10
""",
    "pagination_page2": f"""
WITH {_SQL_POSTINGS},
scored AS (
  SELECT p.term, p.doc_id,
         CAST(({_SQL_LENGTH_SCORE.format(v="d.n_chars")}) * 3
              + ({_SQL_TF_MOD.format(v="p.tf")}) AS INT) AS score
  FROM postings p JOIN documents d USING (doc_id)
  WHERE p.term IN ({",".join(repr(t) for t in Q_TOPK_TERMS)})
),
ranked AS (
  SELECT term, doc_id, score,
         row_number() OVER (PARTITION BY term ORDER BY score DESC, doc_id DESC) AS rank
  FROM scored
)
SELECT term, doc_id, score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank > 10 AND rank <= 20
""",
    "incremental_merge": """
WITH combined AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
),
h AS (SELECT doc_id, md5(text) AS h FROM combined),
r AS (SELECT h, doc_id, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
      FROM h)
SELECT h, doc_id AS keeper_doc_id FROM r WHERE rn = 1
""",
}

# Oracles computed from the pure-Python twins (synth_page, the tokenizer,
# the image codec): built on lookup by __spark_entry__.oracle_sql(), so
# importing this module runs none of them.
ORACLE_BUILDERS = {
    "interp_position_map": _interp_position_map_values,
    "conj_interp_rollup": _conj_interp_rollup_values,
    "fli_rollup": _fli_rollup_values,
    "fli_field_families": _fli_field_families_values,
    "blog_rollup": _blog_rollup_values,
    "extraction_parity": _extraction_parity_values,
    "ja_index_postings": _ja_postings_values,
    "media_features": _media_features_values,
}


ORACLE["phrase_search"] = f"""
WITH {_SQL_TOKS},
t0 AS (SELECT doc_id, start, start + len AS e FROM toks
       WHERE term = '{PHRASE[0]}'),
t1 AS (SELECT doc_id, start, start + len AS e FROM toks
       WHERE term = '{PHRASE[1]}'),
t2 AS (SELECT doc_id, start, start + len AS e FROM toks
       WHERE term = '{PHRASE[2]}'),
m AS (
  SELECT t0.doc_id, t0.start AS head
  FROM t0
  JOIN t1 ON t1.doc_id = t0.doc_id AND t1.start = t0.e + 1
  JOIN t2 ON t2.doc_id = t0.doc_id AND t2.start = t1.e + 1
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS phrase_tf,
       array_to_string(list(head ORDER BY head), ',') AS match_starts
FROM m GROUP BY doc_id
ORDER BY phrase_tf DESC, doc_id
LIMIT {PHRASE_K}
"""


ORACLE["proximity_search"] = f"""
WITH {_SQL_TOKS},
t0 AS (SELECT doc_id, start, start + len AS e FROM toks
       WHERE term = '{PROX[0]}'),
t1 AS (SELECT doc_id, start FROM toks WHERE term = '{PROX[1]}'),
m AS (
  SELECT DISTINCT t0.doc_id, t0.start AS head
  FROM t0 JOIN t1 ON t1.doc_id = t0.doc_id
   AND t1.start BETWEEN t0.e + 1 AND t0.e + 1 + {PROX_SLOP}
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS phrase_tf,
       array_to_string(list(head ORDER BY head), ',') AS match_starts
FROM m GROUP BY doc_id
ORDER BY phrase_tf DESC, doc_id
LIMIT {PHRASE_K}
"""


