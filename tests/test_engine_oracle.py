"""Engine oracle: DuckDB recomputes what the engine ranks, from the
tokenize layer's postings, after every index operation.

One chain per index mode: ``build_index`` over 120 synthetic pages in 2
groups with 16-doc blocks (head terms span several blocks) →
``incremental_update`` (changed and new pages) → ``rescore_index``
(myaku only) → ``compact_index`` → ``copy_index`` into a fresh index.
After each step the test writes the oracle's inputs to parquet:
``ja_posting_rows`` over the index's docs joined to the text of the
page version each doc was built from (doc_id, term, tf, starts, lens,
dl), and the docs rows (doc_id, url, dl, doc_score). DuckDB then computes,
with no engine code:

- every posting with its payload; these must equal the postings
  ``phrase.decode_postings`` reads back from the segment blocks;
- myaku and bm25 top-k of AND and OR queries (head+head, head+tail, a
  missing term), ranked by (score, doc_id) DESC; these must equal
  ``IndexSearcher.search`` and ``batch_search``;
- phrase and proximity matches with gap=0 adjacency, ranked by
  (phrase_tf DESC, doc_id); these must equal ``search_phrase``.

Doc ids must agree exactly in rank order, scores to 1e-9.

Live docs and statistics, the rules the oracle encodes:

- a doc is live iff it has the highest doc_id of its url (an update
  builds changed pages into a newer group with larger ids and
  tombstones the old doc);
- the myaku score of a posting is the doc's ``doc_score`` plus
  tf_score_mod(tf); the bm25 score is Lucene BM25 (k1=1.2, b=0.75) of
  the posting's tf and dl;
- ``n_docs`` and ``avgdl`` count live docs only, after every step;
- ``df`` counts the postings of every doc still in the docs table,
  tombstoned ones included: an update appends the delta's term stats
  and leaves the superseded docs' counts in place, as Lucene's df keeps
  counting deleted docs until a merge. ``compact_index`` drops the
  tombstoned docs and recomputes df from the live postings.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math

import duckdb
import pytest
from pyspark.sql import functions as F

from myaku_spark.driver_queries import _SQL_TF_MOD
from myaku_spark.functions.tokenize import ja_posting_rows
from myaku_spark.operators.batch_search import batch_search
from myaku_spark.operators.phrase import decode_postings
from myaku_spark.operators.search import IndexSearcher
from myaku_spark.plans import catalog
from myaku_spark.plans.build_index import build_index
from myaku_spark.plans.compact import compact_index
from myaku_spark.plans.copy import copy_index
from myaku_spark.plans.incremental import incremental_update, rescore_index
from myaku_spark.sources.pages import PAGES_SCHEMA, synth_page

NOW = "2026-08-01 00:00:00"
# Only the update's pages (crawled 2026-07-30) change recency bucket
# between NOW and RESCORE_NOW, so the rescore patches some blocks.
RESCORE_NOW = "2026-08-20 00:00:00"
N_PAGES = 120
BLOCK = 16  # head_df_threshold = block_doc_range
K_ALL = 10_000
MISSING = "索引に無い語"
STAGES = ["build", "update", "rescore", "compact", "copy"]


def _page_row(i, url_of=None, ts=None):
    p = synth_page(i)
    url = synth_page(url_of)["url"] if url_of is not None else p["url"]
    return (url, ts or p["warc_ts"], p["html"], p["text"], p["lang"])


def _pages(spark, rows):
    return spark.createDataFrame(rows, PAGES_SCHEMA)


def _update_rows():
    """10 changed pages (old url, new text) and 10 new pages."""
    ts = dt.datetime(2026, 7, 30)
    changed = [_page_row(5_000 + i, url_of=i, ts=ts) for i in range(0, 40, 4)]
    new = [_page_row(i, ts=ts) for i in range(N_PAGES, N_PAGES + 10)]
    return changed + new


def _texts(spark, rows):
    """(url, text_hash, text) of every page version fed to the index."""
    return spark.createDataFrame(
        [
            (url, hashlib.sha256(text.encode("utf-8")).hexdigest(), text)
            for url, _, _, text, _ in rows
        ],
        "url string, text_hash string, text string",
    )


def _write_oracle_inputs(spark, index_dir, texts, out):
    _, paths = catalog.resolve(index_dir)
    docs = spark.read.parquet(paths["docs"]).select(
        "doc_id", "url", "text_hash", "dl", "doc_score"
    )
    src = docs.join(texts, ["url", "text_hash"])
    ja_posting_rows(src, "text", "doc_id").write.parquet(f"{out}/postings")
    docs.drop("text_hash").write.parquet(f"{out}/docs")


def _oracle_db(out, mode):
    con = duckdb.connect()
    con.execute(
        f"CREATE TABLE p AS SELECT * FROM read_parquet('{out}/postings/*.parquet')"
    )
    con.execute(
        f"CREATE TABLE d AS SELECT * FROM read_parquet('{out}/docs/*.parquet')"
    )
    con.execute(
        "CREATE TABLE live AS SELECT * FROM d WHERE doc_id IN "
        "(SELECT max(doc_id) FROM d GROUP BY url)"
    )
    if mode == "myaku":
        score = _payload_sql(mode)
    else:
        score = """
          ln((c.n - t.df + 0.5) / (t.df + 0.5) + 1.0) * p.tf * (1.2 + 1.0)
          / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / c.avgdl))"""
    con.execute(f"""
CREATE TABLE scored AS
WITH c AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, CAST(avg(dl) AS DOUBLE) AS avgdl
  FROM live
),
t AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM p GROUP BY term)
SELECT p.term, p.doc_id, CAST({score} AS DOUBLE) AS score
FROM p JOIN live d USING (doc_id) JOIN t USING (term), c
""")
    con.execute("""
CREATE TABLE pos AS
SELECT doc_id, term, s, s + l AS e FROM (
  SELECT doc_id, term, unnest(starts) AS s, unnest(lens) AS l
  FROM p WHERE doc_id IN (SELECT doc_id FROM live)
)
""")
    return con


def _oracle_topk(con, terms, combine, k):
    terms = list(dict.fromkeys(terms))
    having = f"HAVING count(*) = {len(terms)}" if combine == "and" else ""
    return [
        (s, d)
        for s, d in con.execute(
            f"""
SELECT sum(score) AS s, doc_id FROM scored
WHERE list_contains(?::VARCHAR[], term)
GROUP BY doc_id {having} ORDER BY s DESC, doc_id DESC LIMIT {k}""",
            [terms],
        ).fetchall()
    ]


def _oracle_phrase(con, terms, slop, k):
    steps = [
        "c0 AS (SELECT DISTINCT doc_id, s AS head, e FROM pos WHERE term = $1)"
    ]
    for i in range(1, len(terms)):
        steps.append(
            f"c{i} AS (SELECT DISTINCT c.doc_id, c.head, q.e FROM c{i - 1} c"
            f" JOIN pos q ON q.doc_id = c.doc_id AND q.term = ${i + 1}"
            f" AND q.s BETWEEN c.e AND c.e + {slop})"
        )
    last = f"c{len(terms) - 1}"
    rows = con.execute(
        f"""
WITH {", ".join(steps)}
SELECT doc_id, count(DISTINCT head) AS tf, list_sort(list(DISTINCT head))
FROM {last} GROUP BY doc_id ORDER BY tf DESC, doc_id LIMIT {k}""",
        list(terms),
    ).fetchall()
    return [(d, tf, list(hs)) for d, tf, hs in rows]


def _pick_queries(con):
    """Term and phrase queries over the built index's vocabulary: the two
    most frequent terms, a rare term that co-occurs with the first, a
    missing term, the most frequent adjacent pair and triple."""
    (h1,), (h2,) = con.execute(
        "SELECT term FROM p GROUP BY term ORDER BY count(*) DESC, term LIMIT 2"
    ).fetchall()
    (tail,) = con.execute(
        """
SELECT term FROM p GROUP BY term
HAVING count(*) = 2 AND count(*) FILTER (
  WHERE doc_id IN (SELECT doc_id FROM p WHERE term = ?)) > 0
ORDER BY term LIMIT 1""",
        [h1],
    ).fetchone()
    pair = con.execute("""
SELECT a.term, b.term FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.s = a.e
WHERE a.term <> b.term GROUP BY 1, 2 ORDER BY count(*) DESC, 1, 2 LIMIT 1
""").fetchone()
    triple = con.execute("""
SELECT a.term, b.term, c.term FROM pos a
JOIN pos b ON a.doc_id = b.doc_id AND b.s = a.e
JOIN pos c ON c.doc_id = b.doc_id AND c.s = b.e
WHERE a.term <> b.term AND b.term <> c.term
GROUP BY 1, 2, 3 ORDER BY count(*) DESC, 1, 2, 3 LIMIT 1
""").fetchone()
    terms = {
        "head": [h1],
        "head+head": [h1, h2],
        "head+tail": [h1, tail],
        "head+missing": [h2, MISSING],
    }
    phrases = {
        "pair": (list(pair), 0),
        "triple": (list(triple), 0),
        "proximity": ([triple[0], triple[2]], 8),
        "missing": ([pair[0], MISSING], 0),
    }
    return terms, phrases


def _diff(label, engine, oracle, scored=True):
    """'' when equal: doc ids in rank order exactly, scores to 1e-9."""
    if scored:
        same = [d for _, d in engine] == [d for _, d in oracle] and all(
            math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
            for (a, _), (b, _) in zip(engine, oracle)
        )
    else:
        same = engine == oracle
    if same:
        return ""
    n = next(
        (i for i, (a, b) in enumerate(zip(engine, oracle)) if a != b),
        min(len(engine), len(oracle)),
    )
    return (
        f"{label}: {len(engine)} engine vs {len(oracle)} oracle rows, first "
        f"difference at rank {n + 1}: engine {engine[n:n + 2]} oracle "
        f"{oracle[n:n + 2]}"
    )


def _payload_sql(mode):
    """The oracle's posting payload over p (postings) joined to d (docs)."""
    if mode == "myaku":
        return f"d.doc_score + {_SQL_TF_MOD.format(v='p.tf')}"
    return "p.dl"


def _check_postings(spark, index_dir, con, mode, out):
    """Every posting decoded from the index's segment blocks must equal
    the oracle's posting, payload included: a dropped block or a wrong
    payload shows here whichever term it hits."""
    _, paths = catalog.resolve(index_dir)
    decode_postings(spark.read.parquet(paths["segments"])).write.parquet(
        f"{out}/decoded"
    )
    engine = (
        "SELECT term, doc_id, CAST(tf AS BIGINT), starts, lens, payload "
        f"FROM read_parquet('{out}/decoded/*.parquet')"
    )
    oracle = (
        "SELECT p.term, p.doc_id, CAST(p.tf AS BIGINT), p.starts, p.lens, "
        f"CAST({_payload_sql(mode)} AS BIGINT) FROM p JOIN d USING (doc_id)"
    )
    extra = con.execute(f"{engine} EXCEPT ALL {oracle} LIMIT 3").fetchall()
    missing = con.execute(f"{oracle} EXCEPT ALL {engine} LIMIT 3").fetchall()
    if extra or missing:
        return [
            f"decoded postings: engine has {extra} beyond the oracle, "
            f"oracle has {missing} beyond the engine"
        ]
    return []


def _check(spark, index_dir, con, mode, terms, phrases, tmp):
    """Mismatches between the engine and the oracle over ``index_dir``."""
    s = IndexSearcher(spark, index_dir, mode=mode)
    out = _check_postings(spark, index_dir, con, mode, tmp)
    for combine in ("and", "or"):
        for name, q in terms.items():
            for k in (10, K_ALL):
                out.append(
                    _diff(
                        f"search {combine} {name} k={k}",
                        s.search(q, k=k, combine=combine),
                        _oracle_topk(con, q, combine, k),
                    )
                )
        k = 10 if combine == "and" else K_ALL
        rows = batch_search(
            spark, index_dir, list(terms.items()), k=k, combine=combine,
            mode=mode,
        ).collect()
        for name, q in terms.items():
            got = sorted(
                (r.rank, r.score, r.doc_id) for r in rows if r.query_id == name
            )
            out.append(
                _diff(
                    f"batch_search {combine} {name} k={k}",
                    [(sc, d) for _, sc, d in got],
                    _oracle_topk(con, q, combine, k),
                )
            )
    for name, (q, slop) in phrases.items():
        out.append(
            _diff(
                f"search_phrase {name} {q} slop={slop}",
                s.search_phrase(q, k=K_ALL, gap=0, slop=slop),
                _oracle_phrase(con, q, slop, K_ALL),
                scored=False,
            )
        )
    return [m for m in out if m]


def _run_chain(spark, root, mode):
    """{stage: mismatches} over one index through every operation."""
    base_rows = [_page_row(i) for i in range(N_PAGES)]
    upd_rows = _update_rows()
    texts = _texts(spark, base_rows + upd_rows).persist()
    idx, dst = f"{root}/idx", f"{root}/dst"
    build = dict(
        n_groups=2, now=NOW, mode=mode,
        head_df_threshold=BLOCK, block_doc_range=BLOCK,
    )
    ops = {
        "build": lambda: build_index(
            spark, _pages(spark, base_rows), idx, **build
        ),
        "update": lambda: incremental_update(
            spark, idx, _pages(spark, upd_rows), now=NOW
        ),
        "rescore": lambda: rescore_index(spark, idx, RESCORE_NOW),
        "compact": lambda: compact_index(spark, idx),
        # A fresh destination: an empty index built like the source.
        "copy": lambda: (
            build_index(spark, _pages(spark, []), dst, **build),
            copy_index(spark, idx, dst),
        ),
    }
    result = {}
    terms = phrases = None
    for stage in STAGES:
        if stage == "rescore" and mode != "myaku":
            continue
        info = ops[stage]()
        target = dst if stage == "copy" else idx
        out = f"{root}/oracle_{stage}"
        _write_oracle_inputs(spark, target, texts, out)
        con = _oracle_db(out, mode)
        if stage == "build":
            terms, phrases = _pick_queries(con)
            # The chain must exercise multi-block terms and real matches.
            _, paths = catalog.resolve(idx)
            blocks = (
                spark.read.parquet(paths["segments"])
                .filter(F.col("term") == terms["head"][0])
                .count()
            )
            assert blocks >= 4, blocks
            for q in ("head+head", "head+tail"):
                assert _oracle_topk(con, terms[q], "and", K_ALL), q
            for q in ("pair", "triple", "proximity"):
                assert _oracle_phrase(con, *phrases[q], K_ALL), q
        if stage == "update":
            assert info is not None
            (n_dead,) = con.execute(
                "SELECT count(*) FROM d"
                " WHERE doc_id NOT IN (SELECT doc_id FROM live)"
            ).fetchone()
            assert n_dead == 10
        if stage == "rescore":
            assert 0 < info["n_affected"] < N_PAGES, info
        result[stage] = _check(spark, target, con, mode, terms, phrases, out)
        con.close()
    texts.unpersist()
    return result


@pytest.fixture(scope="module")
def chains(spark, tmp_path_factory):
    done = {}

    def chain(mode):
        if mode not in done:
            done[mode] = _run_chain(
                spark, str(tmp_path_factory.mktemp(f"oracle_{mode}")), mode
            )
        return done[mode]

    return chain


@pytest.mark.parametrize(
    "mode,stage",
    [
        (m, s)
        for m in ("myaku", "bm25")
        for s in STAGES
        if not (m == "bm25" and s == "rescore")
    ],
)
def test_engine_matches_oracle(chains, mode, stage):
    assert chains(mode)[stage] == []
