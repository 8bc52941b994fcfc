"""Tokenization → (term, start, len) token streams with exact char offsets.

Two engines, one output contract (term, start, len token rows):

1. ``tokenize_whitespace_col`` — pure Catalyst (no Python): split on a
   single space and compute running char offsets with the ``aggregate``
   higher-order function. Used for the language-agnostic ``documents``
   driver tables; every stage is SQL-expressible, so the DuckDB oracle
   can replay it.

2. ``explode_ja_tokens`` — Arrow-batched ``mapInPandas`` kernel for
   Japanese text.
   Reproduces the reference *pipeline* (T1 block split with running
   offsets, japanese_analysis.py:172-211; MeCab-style dictionary
   tokenization with base forms T2, japanese_analysis.py:919-1059;
   known-problem tag adjustment T3, :934-940 — encoded in the lexicon's
   な entry; three-key JMdict meta lexical items T4, :248-369; width
   normalization of base forms, datatypes.py:399-405; symbol-token
   filter P10, :371-384) with a deterministic dictionary tokenizer:
   longest-leftmost match over a curated, versioned word lexicon
   (ja_lexicon.py — the ipadic-NEologd analog), falling back to
   unicode-script-run segmentation between dictionary matches. A MeCab
   backend can be dropped in for full-vocabulary parity when available;
   dictionary version is part of the index contract
   (japanese_analysis.py:50-66).

Token dict: (surface, base, term, start, length, pos, sources, entry_id)
  - base = dictionary base form (MeCab chasen tag 3 analog); defaults to
    the surface for out-of-vocabulary runs
  - term = width-normalized base form (the posting key,
    datatypes.py:399-405)
  - start/length = char offsets into the document text
    (ArticleTextPosition, datatypes.py:115-131)
  - pos = '-'-joined ipadic-style POS ('助詞-接続助詞'); None for JMdict
    meta items (which carry no MeCab interp, japanese_analysis.py:352-360)
  - sources = interp source codes (1=MECAB-analog tagger,
    2=JMDICT_MECAB_DECOMP, 3=JMDICT_SURFACE_FORM, 4=JMDICT_BASE_FORM;
    datatypes.py:33-54)
  - entry_id = JMdict entry id for meta items, else None
"""

from __future__ import annotations

import functools as _functools
import re as _re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from myaku_spark.functions.ja_lexicon import (
    JaDictionary,
    JMdictSubset,
    resolve_dictionary,
)
from myaku_spark.functions.widthnorm import normalize_char_width

# ---------------------------------------------------------------------------
# 1. Whitespace tokenizer — pure Catalyst, offsets via aggregate() HOF.
# ---------------------------------------------------------------------------

_WS_TOKENS_EXPR = """
aggregate(
  split({col}, ' '),
  named_struct(
    'off', 0,
    'toks', cast(array() as array<struct<tok:string, start:int>>)),
  (acc, t) -> named_struct(
    'off', acc.off + length(t) + 1,
    'toks', array_append(acc.toks, named_struct('tok', t, 'start', acc.off))),
  acc -> filter(acc.toks, x -> length(x.tok) > 0)
)
"""


def tokenize_whitespace_col(col_name: str) -> Column:
    """array<struct<tok,start>> of space-separated tokens with char offsets.

    Runs entirely inside whole-stage codegen — no shuffle, no Python.
    Offsets assume single-space separation (start of token i = sum of
    lengths of preceding tokens + i), matching the oracle SQL's window sum.
    """
    return F.expr(_WS_TOKENS_EXPR.format(col=col_name))


def explode_whitespace_tokens(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, term, start, len) rows — one per token occurrence.

    Vectorized mapInArrow kernel (r7): the previous pure-Catalyst
    ``aggregate``/``array_append`` fold was O(n² · token bytes) per
    document — every append re-copied the whole accumulated struct
    array including all token bytes — and its large generated method
    re-compiled per query. Here pyarrow splits the batch in one pass
    and numpy computes the running offsets with a cumsum (O(n) total,
    no per-row Python). Output is bit-identical to the Catalyst fold
    (parity-tested): offsets assume single-space separation and count
    empty tokens' separators; empty tokens are dropped; a NULL text
    yields no rows (explode-of-null semantics)."""
    id_type = dict(df.dtypes)[id_col]

    def gen(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for rb in batches:
            if rb.num_rows == 0:
                continue
            names = rb.schema.names
            ids = rb.column(names.index(id_col))
            texts = rb.column(names.index(text_col))
            lst = pc.split_pattern(texts, " ")
            if isinstance(lst, pa.ChunkedArray):
                lst = lst.combine_chunks()
            offs = np.asarray(lst.offsets)
            flat = lst.values
            lens = (
                pc.utf8_length(flat)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            n_tok = np.diff(offs)
            # start_i = exclusive cumsum of (len + 1), reset per doc
            cum = np.concatenate(([0], np.cumsum(lens + 1)[:-1]))
            doc_base = (
                cum[offs[:-1]]
                if len(offs) > 1
                else np.array([], dtype=np.int64)
            )
            starts = cum - np.repeat(doc_base, n_tok)
            row_idx = np.repeat(
                np.arange(rb.num_rows, dtype=np.int64), n_tok
            )
            keep = lens > 0
            keep_pa = pa.array(keep)
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(pa.array(row_idx[keep])),
                    flat.filter(keep_pa),
                    pa.array(starts[keep].astype(np.int32)),
                    pa.array(lens[keep].astype(np.int32)),
                ],
                names=["doc_id", "term", "start", "len"],
            )

    return df.select(
        F.col(id_col).alias(id_col), F.col(text_col).alias(text_col)
    ).mapInArrow(
        gen, f"doc_id {id_type}, term string, start int, len int"
    )


# ---------------------------------------------------------------------------
# 2. Japanese tokenizer — dictionary longest-match + script-run fallback.
# ---------------------------------------------------------------------------

# Class ranges mirror _script_class priority: hira/kata are checked
# before kanji there, so ヵヶ (inside the katakana block) stay kata.
_KANJI = r"一-鿿㐀-䶿豈-﫿々〆"
_HIRA = r"ぁ-ゟ"
_KATA = r"゠-ヿㇰ-ㇿ"
_RUN_REGEX = _re.compile(
    f"(?P<hira>[{_HIRA}]+)"
    f"|(?P<kata>[{_KATA}]+)"
    f"|(?P<kanji>[{_KANJI}]+)"
)


def _script_class(ch: str) -> str:
    o = ord(ch)
    if 0x3041 <= o <= 0x309F:
        return "hira"
    if 0x30A0 <= o <= 0x30FF or 0x31F0 <= o <= 0x31FF or ch == "ー":
        return "kata"
    if (
        0x4E00 <= o <= 0x9FFF
        or 0x3400 <= o <= 0x4DBF
        or 0xF900 <= o <= 0xFAFF
        or ch in "々〆ヵヶ"
    ):
        return "kanji"
    if ch.isalnum():
        return "alnum"
    if ch.isspace():
        return "space"
    return "sym"


_GAP_POS = {"kanji": "名詞", "kata": "名詞", "hira": "動詞"}


def _emit_other(seg: str, offset: int, tokens: list) -> None:
    """Char-wise alnum/sym/space segmentation for non-CJK gap text."""
    i, n = 0, len(seg)
    while i < n:
        ch = seg[i]
        if ch.isspace():
            j = i + 1
            while j < n and seg[j].isspace():
                j += 1
        elif ch.isalnum():
            j = i + 1
            while j < n and seg[j].isalnum() and not seg[j].isspace():
                j += 1
            tokens.append(
                dict(surface=seg[i:j], start=offset + i, length=j - i, pos="名詞")
            )
        else:
            j = i + 1
            while j < n and not seg[j].isalnum() and not seg[j].isspace():
                j += 1
            tokens.append(
                dict(surface=seg[i:j], start=offset + i, length=j - i, pos="記号")
            )
        i = j
    return None


def _emit_gap(seg: str, offset: int, tokens: list) -> None:
    """Script-run segmentation of text between dictionary matches.

    One compiled-regex pass finds CJK runs; the short remainders between
    them are segmented char-wise into alnum/symbol/space runs. Gap runs
    are out-of-vocabulary: base = surface, pos by script class."""
    pos = 0
    for m in _RUN_REGEX.finditer(seg):
        s, e = m.span()
        if s > pos:
            _emit_other(seg[pos:s], offset + pos, tokens)
        tokens.append(
            dict(
                surface=m.group(),
                start=offset + s,
                length=e - s,
                pos=_GAP_POS[m.lastgroup],
            )
        )
        pos = e
    if pos < len(seg):
        _emit_other(seg[pos:], offset + pos, tokens)


def _sentence_initial(block: str, i: int) -> bool:
    """MeCab-lattice analog: a conjunction reading wins at sentence
    starts — block start or right after a symbol/space character
    (derived from the reference golden interp expectations,
    test_crawl.py:1104-1203)."""
    return i == 0 or _script_class(block[i - 1]) in ("sym", "space")


def tokenize_ja_block(
    block: str, offset: int, dictionary: JaDictionary | None = None
) -> list[dict]:
    """Tokenize one newline-free block (offsets absolute, symbols kept).

    Dictionary surfaces are matched longest-leftmost by a dict-probe
    scanner: at each position the lengths actually present in the
    dictionary (d.match_lens, longest first) probe surface_map — a
    handful of hash lookups per character, INDEPENDENT of dictionary
    size. (The previous single-alternation regex was O(#surfaces) per
    position in CPython's backtracking engine — at the 50k+ surfaces a
    real ipadic/NEologd drop-in ships, that dominated the whole
    tokenize path.) Gaps between matches are script-run segmented;
    out-of-vocabulary tokens get base = surface."""
    d = dictionary if dictionary is not None else resolve_dictionary(None)
    smap = d.surface_map
    lens = d.match_lens
    tokens: list[dict] = []
    n = len(block)
    i = 0
    gap_start = None
    while i < n:
        rem = n - i
        matched = None
        for ln in lens:
            if ln > rem:
                continue
            cand = block[i : i + ln]
            if cand in smap:
                matched = cand
                break
        if matched is None:
            if gap_start is None:
                gap_start = i
            i += 1
            continue
        if gap_start is not None:
            _emit_gap(block[gap_start:i], offset + gap_start, tokens)
            gap_start = None
        pieces = d.pieces_for(matched, _sentence_initial(block, i))
        cur = i
        for psurf, pbase, ppos in pieces:
            conj = d.conj_map.get((psurf, pbase, ppos))
            tokens.append(
                dict(
                    surface=psurf,
                    base=pbase,
                    start=offset + cur,
                    length=len(psurf),
                    pos=ppos,
                    conj_type=conj[0] if conj else None,
                    conj_form=conj[1] if conj else None,
                )
            )
            cur += len(psurf)
        i += len(matched)
    if gap_start is not None:
        _emit_gap(block[gap_start:], offset + gap_start, tokens)
    for t in tokens:
        t.setdefault("base", t["surface"])
    return tokens


def tokenize_ja_block_slow(
    block: str, offset: int, dictionary: JaDictionary | None = None
) -> list[dict]:
    """Per-position longest-match reference walk (property-test twin of
    the regex fast path)."""
    d = dictionary if dictionary is not None else resolve_dictionary(None)
    tokens: list[dict] = []
    n = len(block)
    i = 0
    gap_start = None
    while i < n:
        matched = None
        for ln in range(min(d.max_surface_len, n - i), 0, -1):
            cand = block[i : i + ln]
            if cand in d.surface_map or cand in d.conjunction_rules:
                matched = cand
                break
        if matched is None:
            if gap_start is None:
                gap_start = i
            i += 1
            continue
        if gap_start is not None:
            _emit_gap(block[gap_start:i], offset + gap_start, tokens)
            gap_start = None
        cur = i
        for psurf, pbase, ppos in d.pieces_for(
            matched, _sentence_initial(block, i)
        ):
            conj = d.conj_map.get((psurf, pbase, ppos))
            tokens.append(
                dict(
                    surface=psurf,
                    base=pbase,
                    start=offset + cur,
                    length=len(psurf),
                    pos=ppos,
                    conj_type=conj[0] if conj else None,
                    conj_form=conj[1] if conj else None,
                )
            )
            cur += len(psurf)
        i += len(matched)
    if gap_start is not None:
        _emit_gap(block[gap_start:], offset + gap_start, tokens)
    for t in tokens:
        t.setdefault("base", t["surface"])
    return tokens


def _jmdict_meta_items(toks: list[dict], jm: JMdictSubset) -> list[dict]:
    """Scan all list-adjacent spans of ≥2 items, like
    _find_meta_lexical_items (japanese_analysis.py:248-279). Runs over
    the FULL item list including symbols (the reference probes before
    its symbol filter), so spans never bridge a dropped symbol.

    LIST adjacency, not positional adjacency, is deliberate parity: the
    reference probes ``base_lexical_items[start:end + 1]`` with no
    position check (japanese_analysis.py:268-278), and MeCab emits no
    token for whitespace — so a span CAN bridge a whitespace gap there
    too, with the meta item's length measured as the sum of surface
    lens (japanese_analysis.py:355-360). Reproducing that, including
    the length-vs-extent mismatch across a gap, keeps postings
    byte-identical to the reference.

    Fast path: a span starting at token t can only hit JMdict if
    t.surface/t.base prefixes a text form or t.base heads a decomp key
    (prefix sets precomputed in JMdictSubset) — everything else skips
    without forming spans; the surviving spans accumulate their concat
    strings incrementally instead of re-slicing/re-summing."""
    out: list[dict] = []
    n = len(toks)
    prefixes = jm.prefixes
    heads = jm.decomp_heads
    entry_map = jm.entry_map
    decomp_map = jm.decomp_map
    max_items = jm.max_decomp_len
    max_chars = jm.max_text_form_len
    for a in range(n):
        t0 = toks[a]
        if (
            t0["surface"] not in prefixes
            and t0["base"] not in prefixes
            and t0["base"] not in heads
        ):
            continue
        surf = t0["surface"]
        base = t0["base"]
        bases = [base]
        start = t0["start"]
        b = a + 1
        while b < n:
            tb = toks[b]
            surf = surf + tb["surface"]
            base = base + tb["base"]
            bases.append(tb["base"])
            if not (
                len(bases) <= max_items
                or len(base) <= max_chars
                or len(surf) <= max_chars
            ):
                break
            decomp_entries = decomp_map.get(tuple(bases), ())
            surface_entries = entry_map.get(surf, ())
            base_entries = entry_map.get(base, ())
            if decomp_entries or surface_entries or base_entries:
                seen = set()
                for ent in (
                    list(decomp_entries)
                    + list(surface_entries)
                    + list(base_entries)
                ):
                    if ent in seen:
                        continue
                    seen.add(ent)
                    sources = []
                    if ent in decomp_entries:
                        sources.append(2)
                    if ent in surface_entries:
                        sources.append(3)
                    if ent in base_entries:
                        sources.append(4)
                    out.append(
                        dict(
                            surface=surf,
                            base=ent[1],
                            start=start,
                            length=len(surf),
                            pos=None,
                            sources=sources,
                            entry_id=ent[0],
                        )
                    )
            b += 1
    return out


def _is_symbol(t: dict) -> bool:
    pos = t.get("pos")
    return pos is not None and "記号" in pos.split("-")


def tokenize_ja_text(
    text: str, lexicon=None, keep_symbols: bool = False
) -> list[dict]:
    """Full-document tokenize: T1 block split + dictionary tag + T4 meta.

    Newline handling matches japanese_analysis.py:186-209: split on
    ``str.splitlines``, empty block advances offset by 1, non-empty block
    advances by len+1. Meta lookup runs per block over all items
    (symbols included), then symbols are filtered — the reference's
    order (_find_lexical_items, japanese_analysis.py:211-246)."""
    d = resolve_dictionary(lexicon)
    blocks = text.splitlines()
    offset = 0
    out: list[dict] = []
    for block in blocks:
        if len(block) == 0:
            offset += 1
            continue
        toks = tokenize_ja_block(block, offset, dictionary=d)
        metas = _jmdict_meta_items(toks, d.jmdict)
        if not keep_symbols:
            toks = [t for t in toks if not _is_symbol(t)]
        for t in toks:
            t.setdefault("sources", [1])
            t.setdefault("entry_id", None)
        out.extend(toks)
        out.extend(metas)
        offset += len(block) + 1
    # Width-normalize the base form into the posting key
    # (datatypes.py:399-405). Bases repeat heavily → memoized.
    norm = _norm_cached
    for t in out:
        t["term"] = norm(t["base"])
    return out


@_functools.lru_cache(maxsize=1 << 16)
def _norm_cached(s: str) -> str:
    return normalize_char_width(s)


def explode_ja_tokens(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lexicon=None,
    include_analysis: bool = False,
) -> DataFrame:
    """Token rows for Japanese: (doc_id, term, start, len[, pos, sources,
    entry_id]).

    Emits rows directly from ``mapInPandas`` (Arrow columnar all the way)
    instead of array<struct> + explode — the latter materializes millions
    of short-lived JVM structs per batch and caps scaling on the GC.
    ``include_analysis`` adds the pos/sources/entry_id analysis columns."""
    import pandas as pd

    base_cols = ["doc_id", "term", "start", "len"]
    schema = "doc_id long, term string, start int, len int"
    if include_analysis:
        schema += (
            ", pos string, sources array<int>, entry_id string"
            ", conj_type string, conj_form string"
        )

    def gen(batches):
        for pdf in batches:
            out: dict[str, list] = {c: [] for c in base_cols}
            if include_analysis:
                out["pos"] = []
                out["sources"] = []
                out["entry_id"] = []
                out["conj_type"] = []
                out["conj_form"] = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                for t in tokenize_ja_text(text, lexicon=lexicon):
                    out["doc_id"].append(doc_id)
                    out["term"].append(t["term"])
                    out["start"].append(t["start"])
                    out["len"].append(t["length"])
                    if include_analysis:
                        out["pos"].append(t["pos"])
                        out["sources"].append(t.get("sources", [1]))
                        out["entry_id"].append(t.get("entry_id"))
                        # MecabLexicalItemInterp conjugated_type/form
                        # (datatypes.py:329-342), from the ipadic CSV
                        # rows' tag-5/6 analog; None for OOV runs and
                        # JMdict meta items (which carry no MeCab
                        # interp, japanese_analysis.py:352-360).
                        out["conj_type"].append(t.get("conj_type"))
                        out["conj_form"].append(t.get("conj_form"))
            yield pd.DataFrame(out)

    return df.select(
        F.col(id_col).alias(id_col), F.col(text_col).alias(text_col)
    ).mapInPandas(gen, schema)


def ja_posting_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lexicon=None,
) -> DataFrame:
    """Tokenize AND reduce per (term, doc) in one mapInPandas pass:
    (doc_id, term, tf, starts, lens, dl).

    The A1 aggregation (positions set-union + tf per (term, article),
    datatypes.py:428-505) is doc-LOCAL — the reference reduces it in
    memory per article (T5). Doing the same inside the tokenizer batch
    removes the token-level shuffle entirely: only posting rows (≈half
    the token count) ever leave the stage, and the JVM never materializes
    per-token structs. ``dl`` (doc length = token count) rides along for
    BM25 without a second pass.

    Uses mapInArrow with flat-offset ListArray construction — building
    pandas object-list columns for millions of posting rows costs more
    than the tokenization itself; RecordBatch assembly from flat numpy
    buffers is O(postings) with C-side copies only."""
    import numpy as np
    import pyarrow as pa

    schema = (
        "doc_id long, term string, tf int, starts array<int>,"
        " lens array<int>, dl long"
    )
    arrow_schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("term", pa.string()),
            ("tf", pa.int32()),
            ("starts", pa.list_(pa.int32())),
            ("lens", pa.list_(pa.int32())),
            ("dl", pa.int64()),
        ]
    )

    def gen(batches):
        for rb in batches:
            tbl = rb.to_pydict()
            doc_ids: list = []
            terms: list = []
            tfs: list = []
            flat_starts: list = []
            flat_lens: list = []
            offsets: list = [0]
            dls: list = []
            for doc_id, text in zip(tbl[id_col], tbl[text_col]):
                if text is None:
                    continue
                by_term: dict[str, set] = {}
                n_tokens = 0
                for t in tokenize_ja_text(text, lexicon=lexicon):
                    n_tokens += 1
                    by_term.setdefault(t["term"], set()).add(
                        (t["start"], t["length"])
                    )
                for term, posset in by_term.items():
                    pos = sorted(posset)
                    doc_ids.append(doc_id)
                    terms.append(term)
                    tfs.append(len(pos))
                    for p in pos:
                        flat_starts.append(p[0])
                        flat_lens.append(p[1])
                    offsets.append(len(flat_starts))
                    dls.append(n_tokens)
            off = pa.array(np.asarray(offsets, dtype=np.int32))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.asarray(doc_ids, dtype=np.int64)),
                    pa.array(terms, type=pa.string()),
                    pa.array(np.asarray(tfs, dtype=np.int32)),
                    pa.ListArray.from_arrays(
                        off, pa.array(np.asarray(flat_starts, dtype=np.int32))
                    ),
                    pa.ListArray.from_arrays(
                        off, pa.array(np.asarray(flat_lens, dtype=np.int32))
                    ),
                    pa.array(np.asarray(dls, dtype=np.int64)),
                ],
                schema=arrow_schema,
            )

    return df.select(
        F.col(id_col).alias(id_col), F.col(text_col).alias(text_col)
    ).mapInArrow(gen, schema)
