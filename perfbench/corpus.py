"""Seeded synthetic inputs: Kakuyomu-style pages, an incremental delta,
and query mixes drawn from the built index's own df distribution.

Everything here is pure Python + NumPy (no Spark), so inputs exist
before the engine starts and the expected extraction output of every
page is known by construction.

Text model: sentences are content words drawn from a Zipf vocabulary of
synthetic kanji and katakana words, each followed by a particle or
auxiliary taken from the engine's own ``functions/ipadic_fragment.csv``
(so particles are dictionary tokens with df close to N, and content
words form a long tail). Content-word characters never occur in any
dictionary surface, so each synthetic word is one out-of-vocabulary
script-run token.
"""

from __future__ import annotations

import csv
import datetime as dt
import hashlib
import html as html_mod
import os
from dataclasses import dataclass, field

import numpy as np

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
IPADIC_CSV = os.path.join(
    REPO_ROOT, "myaku_spark", "functions", "ipadic_fragment.csv"
)
JMDICT_XML = os.path.join(
    REPO_ROOT, "myaku_spark", "functions", "jmdict_fragment.xml"
)
URL_HOST = "synth.example.jp"
BASE_TS = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)


@dataclass(frozen=True)
class CorpusSpec:
    n_pages: int = 2000
    text_bytes: int = 2000  # target UTF-8 bytes of body text per page
    vocab: int = 6000  # distinct content words
    zipf_s: float = 1.05  # content-word Zipf exponent
    dup_frac: float = 0.05  # pages repeating another page's content
    delta_frac: float = 0.10  # delta pages (half new, half changed urls)


@dataclass
class Page:
    url: str
    ts: dt.datetime
    text: str  # expected kakuyomu extraction output

    def html(self) -> bytes:
        title, _, *paras = self.text.split("\n")
        body = "\n".join(
            f'<p id="p{k + 1}">{html_mod.escape(p, quote=False)}</p>'
            for k, p in enumerate(paras)
        )
        t = html_mod.escape(title, quote=False)
        return (
            "<!DOCTYPE html>\n<html>\n<head>\n<meta charset=\"utf-8\">\n"
            f"<title>{t}</title>\n</head>\n<body>\n"
            '<div id="contentMain" role="main">\n<header>\n'
            f'<p class="widget-episodeTitle">{t}</p>\n</header>\n'
            '<div class="widget-episode">\n'
            f'<div class="widget-episodeBody js-episode-body">\n{body}\n</div>\n'
            "</div>\n</div>\n</body>\n</html>\n"
        ).encode("utf-8")


@dataclass
class Corpus:
    spec: CorpusSpec
    seed: int
    pages: list[Page]  # the initial crawl (originals + duplicates)
    delta: list[Page]  # new urls + changed content under existing urls
    n_dups: int
    n_changed: int
    words: list[str] = field(repr=False, default_factory=list)
    particles: list[str] = field(repr=False, default_factory=list)

    @property
    def originals(self) -> list[Page]:
        """Pages first-writer dedup keeps (the duplicates come later)."""
        return self.pages[: len(self.pages) - self.n_dups]

    def text_bytes(self, pages: list[Page]) -> int:
        return sum(len(p.text.encode("utf-8")) for p in pages)


def _dictionary_chars() -> set[str]:
    """Every character of every surface the tokenizer's dictionary knows."""
    chars: set[str] = set()
    with open(IPADIC_CSV, encoding="utf-8") as f:
        for row in csv.reader(f):
            chars.update(row[0])
    with open(JMDICT_XML, encoding="utf-8") as f:
        chars.update(f.read())
    return chars


def particles() -> list[str]:
    """Particle and auxiliary surfaces (助詞 / 助動詞) of the ipadic CSV."""
    out = []
    with open(IPADIC_CSV, encoding="utf-8") as f:
        for row in csv.reader(f):
            if row[4] in ("助詞", "助動詞") and row[0] not in out:
                out.append(row[0])
    # shortest first: the Zipf head becomes の/は/が-like single kana
    return sorted(out, key=len)


def _vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    banned = _dictionary_chars()
    kanji = [c for c in map(chr, range(0x5000, 0x6000)) if c not in banned]
    kata = [c for c in map(chr, range(0x30A1, 0x30F7)) if c not in banned]
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        m = n - len(words)
        is_kanji = rng.random(m) < 0.7
        lens = np.where(
            is_kanji, rng.integers(2, 4, size=m), rng.integers(3, 6, size=m)
        )
        ki = rng.integers(len(kanji), size=(m, 3))
        ti = rng.integers(len(kata), size=(m, 5))
        for j in range(m):
            if is_kanji[j]:
                w = "".join(kanji[x] for x in ki[j, : lens[j]])
            else:
                w = "".join(kata[x] for x in ti[j, : lens[j]])
            if w not in seen:
                seen.add(w)
                words.append(w)
    return words


def _zipf_p(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


class _TextGen:
    def __init__(self, rng, words, parts, spec: CorpusSpec):
        self.rng = rng
        self.words = np.array(words, dtype=object)
        self.parts = np.array(parts, dtype=object)
        self.wp = _zipf_p(len(words), spec.zipf_s)
        self.pp = _zipf_p(len(parts), 1.0)
        self.target = spec.text_bytes

    def body(self) -> list[str]:
        """Paragraphs ("　"-indented) of about ``target`` UTF-8 bytes."""
        rng = self.rng
        # ~12 bytes per (word, particle) pair; draw a little extra
        n = self.target // 12 + 16
        ws = rng.choice(self.words, size=n, p=self.wp)
        ps = rng.choice(self.parts, size=n, p=self.pp)
        lens = rng.integers(3, 9, size=n)
        paras, sents, used, i, size = [], [], 0, 0, 0
        while size < self.target and i < n:
            k = min(int(lens[used]), n - i)
            s = "".join(ws[j] + ps[j] for j in range(i, i + k)) + "。"
            used, i = used + 1, i + k
            sents.append(s)
            size += len(s.encode("utf-8"))
            if len(sents) >= 3:
                paras.append("　" + "".join(sents))
                sents = []
        if sents:
            paras.append("　" + "".join(sents))
        return paras


def _page(url_id: int, ts_min: int, title_no: int, paras: list[str]) -> Page:
    title = f"Synth Series {title_no % 97} Episode {title_no}"
    return Page(
        url=f"https://{URL_HOST}/series-{url_id % 97}/episode-{url_id}",
        ts=BASE_TS + dt.timedelta(minutes=ts_min),
        text="\n".join([title, ""] + paras),
    )


def make_corpus(seed: int, spec: CorpusSpec = CorpusSpec()) -> Corpus:
    """Same seed → byte-identical pages; pages are returned in url order
    of generation (originals, then duplicates of earlier originals)."""
    rng = np.random.default_rng(seed)
    words = _vocabulary(rng, spec.vocab)
    parts = particles()
    gen = _TextGen(rng, words, parts, spec)
    n_dups = int(spec.n_pages * spec.dup_frac)
    n_orig = spec.n_pages - n_dups
    pages = [_page(i, i, i, gen.body()) for i in range(n_orig)]
    # Duplicates: another page's exact text under a later url/timestamp,
    # so first-writer-wins keeps the original.
    for j, src in enumerate(rng.choice(n_orig, size=n_dups, replace=False)):
        o = pages[int(src)]
        pages.append(
            Page(
                url=f"https://{URL_HOST}/mirror/episode-{n_orig + j}",
                ts=BASE_TS + dt.timedelta(minutes=spec.n_pages + j),
                text=o.text,
            )
        )
    n_delta = max(2, int(spec.n_pages * spec.delta_frac))
    n_changed = n_delta // 2
    later = 2 * spec.n_pages
    delta = []
    for j, src in enumerate(
        sorted(rng.choice(n_orig, size=n_changed, replace=False))
    ):
        # changed content under an existing url (title keeps its number)
        delta.append(_page(int(src), later + j, int(src), gen.body()))
    for j in range(n_delta - n_changed):
        i = spec.n_pages + j  # fresh url ids
        delta.append(_page(i, later + n_changed + j, i, gen.body()))
    return Corpus(spec, seed, pages, delta, n_dups, n_changed, words, parts)


def write_parquet(pages: list[Page], path: str) -> None:
    """Write pages in the engine's ``pages`` schema (url, warc_ts, html,
    text, lang) with pyarrow — no Spark job, so it stays out of timing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    tbl = pa.table(
        {
            "url": pa.array([p.url for p in pages], pa.string()),
            "warc_ts": pa.array(
                [p.ts for p in pages], pa.timestamp("us", tz="UTC")
            ),
            "html": pa.array([p.html() for p in pages], pa.binary()),
            "text": pa.array([p.text for p in pages], pa.string()),
            "lang": pa.array(["ja"] * len(pages), pa.string()),
        }
    )
    pq.write_table(tbl, os.path.join(path, "part-00000.parquet"))


def sha256(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


# --- queries ------------------------------------------------------------------


@dataclass
class TermClasses:
    """Index terms split by document frequency (df, over live docs)."""

    head: list[str]
    mid: list[str]
    tail: list[str]
    rare: list[str]


def classify_terms(df_by_term: dict[str, int], n_docs: int) -> TermClasses:
    ranked = sorted(df_by_term.items(), key=lambda kv: (-kv[1], kv[0]))
    head = [t for t, d in ranked if d >= 0.5 * n_docs]
    mid = [t for t, d in ranked if 0.02 * n_docs <= d < 0.2 * n_docs]
    tail = [t for t, d in ranked if 3 <= d < 0.005 * n_docs + 3]
    rare = [t for t, d in ranked if d == 1]
    return TermClasses(head, mid, tail, rare)


class _Draw:
    """Term draws by class; ``fresh`` draws repeat no term (head terms
    excepted, and a class starts over once it runs out)."""

    def __init__(self, rng, tc: TermClasses, fresh: bool):
        self.rng, self.fresh = rng, fresh
        self.all = {k: [str(t) for t in v] for k, v in vars(tc).items()}
        self.pools = {k: [] for k in self.all}

    def term(self, cls: str) -> str:
        xs = self.all[cls]
        if not self.fresh or cls == "head":
            return xs[int(self.rng.integers(len(xs)))]
        pool = self.pools[cls]
        if not pool:
            pool.extend(xs[int(i)] for i in self.rng.permutation(len(xs)))
        return pool.pop()


QUERY_KINDS = ("rare", "head_and_tail", "head_and_mid", "mid_or_mid")


def _query(d: _Draw, kind: str) -> tuple[str, list[str]]:
    """(combine, terms) for one of the four WAND query kinds."""
    if kind == "rare":
        return "and", [d.term("rare")]
    if kind == "head_and_tail":
        return "and", [d.term("head"), d.term("tail")]
    if kind == "head_and_mid":
        return "and", [d.term("head"), d.term("mid")]
    a = d.term("mid")
    b = d.term("mid")
    while b == a:
        b = d.term("mid")
    return "or", [a, b]


def queries(
    seed: int,
    tc: TermClasses,
    phrases: list[list[str]],
    hot_per_kind: int = 8,
    flood: int = 256,
    n_requests: int = 64,
    batch_q: int = 128,
) -> dict:
    """The serve mix of one run: a hot set that fits the searcher's
    256-term metadata LRU, plus a tail that overflows it.

    Request ``i`` has kind ``QUERY_KINDS[i % 4]``. The head AND tail
    requests (one in four) use a tail term never used before in the run;
    the other kinds cycle through a hot pool of ``hot_per_kind`` queries
    each (at most 5·hot_per_kind distinct terms). ``flood_terms`` are
    ``flood`` other tail terms and ``hot_terms`` the hot pool's terms:
    set-up searches the flood and then the hot set, so the LRU starts
    full, with the hot set most recent, and every fresh tail term evicts
    an entry.

    Returns requests [(kind, combine, terms)], one WAND batch
    [(qid, terms)] of ``batch_q`` queries drawn like the requests,
    phrase_batch [(qid, terms)] of distinct phrases, phrase_requests (a
    prefix of phrase_batch, so each has a batch twin), hot_terms and
    flood_terms."""
    rng = np.random.default_rng([seed, 1])
    hot_kinds = [k for k in QUERY_KINDS if k != "head_and_tail"]
    d = _Draw(rng, tc, fresh=False)
    pool = {k: [_query(d, k) for _ in range(hot_per_kind)] for k in hot_kinds}
    hot_terms = sorted({t for qs in pool.values() for _, ts in qs for t in ts})
    # the hot kinds draw no tail term, so fresh tail draws miss the hot set
    cold = _Draw(rng, tc, fresh=True)
    flood_terms = [cold.term("tail") for _ in range(flood)]

    def mix(i: int) -> tuple[str, list[str]]:
        kind = QUERY_KINDS[i % 4]
        if kind == "head_and_tail":
            return _query(cold, kind)
        return pool[kind][(i // 4) % hot_per_kind]

    requests = [(QUERY_KINDS[i % 4],) + mix(i) for i in range(n_requests)]
    batch = [(f"q{i}", mix(n_requests + i)[1]) for i in range(batch_q)]
    phrase_batch = [(f"p{i}", ph) for i, ph in enumerate(phrases[:batch_q])]
    return {
        "requests": requests,
        "batch": batch,
        "phrase_batch": phrase_batch,
        "phrase_requests": phrase_batch[:16],
        "hot_terms": hot_terms,
        "flood_terms": flood_terms,
    }


def phrase_candidates(corpus: Corpus, n: int = 256) -> list[list[str]]:
    """(content word, particle) bigrams, which abut in generated text:
    a random word of the 512 most frequent, with the 8 most frequent
    particles in turn (so the i-th phrase's cost class is fixed)."""
    rng = np.random.default_rng([corpus.seed, 3])
    ws = corpus.words[:512]
    ps = corpus.particles[:8]
    return [[ws[int(rng.integers(len(ws)))], ps[i % len(ps)]] for i in range(n)]
