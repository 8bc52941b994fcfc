"""ipadic/NEologd dictionary-CSV parser → tokenizer word layer.

MeCab consumes ipadic-format CSV rows — ``surface, left-context-id,
right-context-id, cost, 品詞, 品詞細分類1, 品詞細分類2, 品詞細分類3,
活用型, 活用形, 原形, 読み, 発音`` — compiled into its lattice
dictionary; the reference pins ipadic-NEologd dictionary versions as
part of its index contract (/root/reference/myaku/japanese_analysis.py:
50-66), and ``MecabTagger.parse`` consumes exactly the surface /
POS-chain / conjugation type+form / base-form fields of the chasen
output those rows produce (japanese_analysis.py:1015-1090).

This module parses the same CSV format into ``JaDictionary``'s word
layer, which makes the whole tokenizer a *data drop-in*: point
``JaDictionary(ipadic_csv_path=...)`` at real ipadic / NEologd CSV
files (Verb.csv, Adj.csv, Noun.*.csv, a NEologd release — one path or a
list) and the curated builtin tables are out of the loop entirely. The
packaged ``ipadic_fragment.csv`` carries the curated vocabulary in the
same format (generated and equivalence-checked by
``scripts/gen_ipadic_fragment.py``) and is the default word source.

Lattice → longest-match compilation notes (the tokenizer is a
longest-leftmost matcher, not a Viterbi lattice, so the two
context-dependent mechanisms are resolved at compile time):

- per-surface ambiguity resolves by MIN (cost, file order) — MeCab's
  unigram word-cost term; the tokenizer's ``CONJUNCTION_RULES``
  supply the context-dependent readings (だから / けれども) that the
  lattice would pick from connection costs;
- adjective stem rows with 活用形 = ガル接続 never stand alone in a
  lattice path (their right-context id only connects to the 特殊
  nominalizing suffixes さ/み), so they are compiled into composite
  surfaces stem+suffix with the two-piece token stream (e.g. 美しさ →
  美し/美しい + さ/さ) instead of becoming standalone keys — and
  名詞-接尾-特殊 suffix rows likewise only appear through those
  composites (generic 名詞-接尾 rows stand alone, see
  _SUFFIX_POS_PREFIX);
- blank or '*' base forms fall back to the surface — the reference's
  known-problem fix for proper nouns (japanese_analysis.py:1049-1056).
"""

from __future__ import annotations

import csv
import io
import os
from importlib import resources
from typing import NamedTuple

DEFAULT_FRAGMENT = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "ipadic_fragment.csv"
)

_N_FIELDS = 13
_GARU_CONJ_FORM = "ガル接続"
# The bound-suffix class composited onto ガル接続 stems. In the ipadic
# connection matrix a ガル接続 stem's right-context only binds the
# nominalizing 特殊 suffixes (さ/み) and the がる verb suffix — NOT the
# whole 名詞-接尾 family (さん, 氏, 的, …, thousands of rows in a real
# dictionary, which stand alone after any noun). Compositing the full
# family would build |stems| x |名詞-接尾| surfaces — millions of
# surface_map keys and regex alternatives on a real ipadic/NEologd drop-
# in. Generic 名詞-接尾 rows compile as standalone surfaces instead.
_SUFFIX_POS_PREFIX = ("名詞", "接尾", "特殊")
# Belt-and-braces cap: never materialize an absurd composite set even if
# a dictionary ships a huge 特殊 class; cheapest (cost, order) pairs win.
_MAX_COMPOSITES = 2_000_000


class IpadicRow(NamedTuple):
    """One dictionary CSV row (the fields MecabTagger.parse consumes,
    japanese_analysis.py:1060-1090, plus the lattice costs).

    NamedTuple rather than a frozen dataclass: a real NEologd drop-in
    parses millions of rows and frozen-dataclass construction
    (object.__setattr__ per field) measurably dominated the parse."""

    surface: str
    left_id: int
    right_id: int
    cost: int
    pos: tuple  # '*' parts dropped: ('助詞', '接続助詞')
    conj_type: str | None  # 活用型, None when '*'
    conj_form: str | None  # 活用形, None when '*'
    base: str  # 原形; surface when blank/'*'
    reading: str | None
    pron: str | None

    @property
    def pos_joined(self) -> str:
        return "-".join(self.pos)


def default_fragment_bytes() -> bytes:
    """Packaged fragment bytes, zip-safe: executors importing
    myaku_spark from a ``--py-files`` zip (scripts/run_search.py) have a
    ``__file__`` that points INSIDE the archive, where open() fails —
    importlib.resources reads through the zip importer."""
    return (
        resources.files("myaku_spark.functions")
        .joinpath("ipadic_fragment.csv")
        .read_bytes()
    )


def parse_ipadic_csv(
    paths: str | list[str], encoding: str | None = None
) -> list[IpadicRow]:
    """Parse one or more ipadic-format CSV files into rows, file order
    preserved (order is the deterministic tie-break for equal costs).

    Each path may also be a ``(name, bytes)`` tuple of already-read file
    content (the zip-safe packaged-fragment path).

    Encoding: tries UTF-8 first (NEologd releases), then EUC-JP (the
    original ipadic distribution) unless ``encoding`` pins one.
    Malformed rows (wrong field count, non-integer cost) raise
    ValueError with the offending file/line, like the reference's
    ResourceLoadError paths.
    """
    if isinstance(paths, (str, tuple)):
        paths = [paths]
    rows: list[IpadicRow] = []
    for path in paths:
        if isinstance(path, tuple):
            path, raw = path
        else:
            raw = open(path, "rb").read()
        text = None
        for enc in ([encoding] if encoding else ["utf-8", "euc_jp"]):
            try:
                text = raw.decode(enc)
                break
            except UnicodeDecodeError:
                continue
        if text is None:
            raise ValueError(f"{path}: undecodable as utf-8 or euc_jp")
        # Hot loop: a real NEologd is millions of rows — bind the append
        # and inline the per-field '*'/blank → None mapping (a helper
        # call per field was ~10% of parse time at 300k calls per 76k
        # rows).
        _append = rows.append
        _row = IpadicRow
        _drop = ("*", "")
        for ln, fields in enumerate(csv.reader(io.StringIO(text)), 1):
            if not fields:
                continue
            if len(fields) != _N_FIELDS:
                raise ValueError(
                    f"{path}:{ln}: expected {_N_FIELDS} fields, "
                    f"got {len(fields)}"
                )
            surface = fields[0]
            if not surface:
                raise ValueError(f"{path}:{ln}: empty surface")
            try:
                lid = int(fields[1])
                rid = int(fields[2])
                cost = int(fields[3])
            except ValueError as e:
                raise ValueError(f"{path}:{ln}: non-integer id/cost") from e
            pos = tuple([p for p in fields[4:8] if p not in _drop])
            base = fields[10]
            if base in _drop:
                # Reference known-problem fix: blank base → surface
                # (japanese_analysis.py:1049-1056).
                base = surface
            f8, f9, f11, f12 = fields[8], fields[9], fields[11], fields[12]
            _append(
                _row(
                    surface,
                    lid,
                    rid,
                    cost,
                    pos,
                    None if f8 in _drop else f8,
                    None if f9 in _drop else f9,
                    base,
                    None if f11 in _drop else f11,
                    None if f12 in _drop else f12,
                )
            )
    return rows


def word_layer_from_rows(rows: list[IpadicRow]):
    """Compile parsed rows into (surface_map, conj_map).

    surface_map: surface → tuple of (surface, base, pos_joined) pieces —
    the JaDictionary word layer. Standalone rows map to one piece;
    bound ガル接続 stems × 名詞-接尾 suffixes map to composite surfaces
    with a two-piece stream (see module docstring).

    conj_map: (surface, base, pos_joined) → (conj_type, conj_form) for
    every row that carries conjugation tags — the chasen tag-5/6 analog
    (japanese_analysis.py:1060-1076), available to analysis-sidecar
    consumers.
    """
    # Min-(cost, order) winner per surface, over standalone rows only.
    best: dict[str, tuple[tuple[int, int], IpadicRow]] = {}
    stems: list[tuple[tuple[int, int], IpadicRow]] = []
    suffixes: list[tuple[tuple[int, int], IpadicRow]] = []
    conj_map: dict[tuple, tuple] = {}
    # Hot loop (millions of rows on a real NEologd): the bound-stem and
    # suffix predicates and the pos_joined property are inlined —
    # per-row function/property-call overhead measurably dominated the
    # compile on the 76k-row bench dictionary.
    _setdefault = conj_map.setdefault
    _n_sufpre = len(_SUFFIX_POS_PREFIX)
    for order, row in enumerate(rows):
        key = (row.cost, order)
        if row.conj_type or row.conj_form:
            _setdefault(
                (row.surface, row.base, "-".join(row.pos)),
                (row.conj_type, row.conj_form),
            )
        if row.conj_form == _GARU_CONJ_FORM:
            stems.append((key, row))
        elif row.pos[:_n_sufpre] == _SUFFIX_POS_PREFIX:
            suffixes.append((key, row))
        else:
            cur = best.get(row.surface)
            if cur is None or key < cur[0]:
                best[row.surface] = (key, row)

    surface_map: dict[str, tuple] = {}
    for _, row in sorted(best.values(), key=lambda kr: kr[0]):
        surface_map[row.surface] = (
            (row.surface, row.base, "-".join(row.pos)),
        )

    # Composite stem+suffix surfaces; min-(cost,order) per composite too.
    # Bounded: |stems| x |特殊 suffixes| (さ/み-class only, see
    # _SUFFIX_POS_PREFIX) with a hard cap — cheapest pairs win if a
    # dictionary somehow ships a giant 特殊 class.
    if stems and suffixes and len(stems) * len(suffixes) > _MAX_COMPOSITES:
        per_stem = max(1, _MAX_COMPOSITES // len(stems))
        suffixes = sorted(suffixes, key=lambda kr: kr[0])[:per_stem]
    comp_best: dict[str, tuple[tuple, tuple]] = {}
    for (sk, stem) in stems:
        for (xk, suf) in suffixes:
            comp = stem.surface + suf.surface
            ck = (sk[0] + xk[0], sk[1], xk[1])
            if comp not in comp_best or ck < comp_best[comp][0]:
                comp_best[comp] = (
                    ck,
                    (
                        (stem.surface, stem.base, stem.pos_joined),
                        (suf.surface, suf.base, suf.pos_joined),
                    ),
                )
    for comp, (_, pieces) in comp_best.items():
        # A standalone row for the full composite surface outranks the
        # composition (it would win the lattice path outright).
        surface_map.setdefault(comp, pieces)

    return surface_map, conj_map
