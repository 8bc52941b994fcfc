"""Character-width normalization (reference parity: P6).

Reproduces ``myaku.utils.normalize_char_width``
(/root/reference/myaku/utils/__init__.py:415-423):

    out = jaconv.h2z(s, kana=True, ascii=False, digit=False)   # hw→fw kana
    out = jaconv.z2h(out, kana=False, ascii=True, digit=True)  # fw→hw latin/digit

jaconv is not installed in this environment, so the two conversions are
implemented from the Unicode standard directly:

- h2z(kana): half-width katakana block U+FF61..U+FF9F → full-width
  katakana/punctuation, merging a trailing voiced (U+FF9E) / semi-voiced
  (U+FF9F) sound mark into the preceding kana where a precomposed
  character exists (ｶ+ﾞ → ガ), matching jaconv's table-driven behavior.
- z2h(ascii+digit): full-width ASCII block U+FF01..U+FF5E → U+0021..U+007E
  and ideographic space U+3000 → U+0020.

Applied symmetrically at index time (term base forms,
/root/reference/myaku/datatypes.py:399-405) and query time
(/root/reference/myakuweb-apiserver/search/views.py:305-310).
"""

from __future__ import annotations

# --- h2z kana tables -------------------------------------------------------

# Half-width katakana (U+FF61..U+FF9F) → full-width equivalents.
_H2Z_BASE = {
    "｡": "。", "｢": "「", "｣": "」", "､": "、", "･": "・",
    "ｦ": "ヲ", "ｧ": "ァ", "ｨ": "ィ", "ｩ": "ゥ", "ｪ": "ェ", "ｫ": "ォ",
    "ｬ": "ャ", "ｭ": "ュ", "ｮ": "ョ", "ｯ": "ッ", "ｰ": "ー",
    "ｱ": "ア", "ｲ": "イ", "ｳ": "ウ", "ｴ": "エ", "ｵ": "オ",
    "ｶ": "カ", "ｷ": "キ", "ｸ": "ク", "ｹ": "ケ", "ｺ": "コ",
    "ｻ": "サ", "ｼ": "シ", "ｽ": "ス", "ｾ": "セ", "ｿ": "ソ",
    "ﾀ": "タ", "ﾁ": "チ", "ﾂ": "ツ", "ﾃ": "テ", "ﾄ": "ト",
    "ﾅ": "ナ", "ﾆ": "ニ", "ﾇ": "ヌ", "ﾈ": "ネ", "ﾉ": "ノ",
    "ﾊ": "ハ", "ﾋ": "ヒ", "ﾌ": "フ", "ﾍ": "ヘ", "ﾎ": "ホ",
    "ﾏ": "マ", "ﾐ": "ミ", "ﾑ": "ム", "ﾒ": "メ", "ﾓ": "モ",
    "ﾔ": "ヤ", "ﾕ": "ユ", "ﾖ": "ヨ",
    "ﾗ": "ラ", "ﾘ": "リ", "ﾙ": "ル", "ﾚ": "レ", "ﾛ": "ロ",
    "ﾜ": "ワ", "ﾝ": "ン", "ﾞ": "゛", "ﾟ": "゜",
}

# Kana that combine with the voiced sound mark U+FF9E.
_VOICED = {
    "ｶ": "ガ", "ｷ": "ギ", "ｸ": "グ", "ｹ": "ゲ", "ｺ": "ゴ",
    "ｻ": "ザ", "ｼ": "ジ", "ｽ": "ズ", "ｾ": "ゼ", "ｿ": "ゾ",
    "ﾀ": "ダ", "ﾁ": "ヂ", "ﾂ": "ヅ", "ﾃ": "デ", "ﾄ": "ド",
    "ﾊ": "バ", "ﾋ": "ビ", "ﾌ": "ブ", "ﾍ": "ベ", "ﾎ": "ボ",
    "ｳ": "ヴ",
}

# Kana that combine with the semi-voiced sound mark U+FF9F.
_SEMI_VOICED = {"ﾊ": "パ", "ﾋ": "ピ", "ﾌ": "プ", "ﾍ": "ペ", "ﾎ": "ポ"}


def h2z_kana(s: str) -> str:
    """Half-width katakana → full-width, merging (semi-)voiced marks."""
    out: list[str] = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        nxt = s[i + 1] if i + 1 < n else ""
        if nxt == "ﾞ" and c in _VOICED:
            out.append(_VOICED[c])
            i += 2
            continue
        if nxt == "ﾟ" and c in _SEMI_VOICED:
            out.append(_SEMI_VOICED[c])
            i += 2
            continue
        out.append(_H2Z_BASE.get(c, c))
        i += 1
    return "".join(out)


# z2h for full-width ASCII + digits: U+FF01..U+FF5E → U+0021..U+007E,
# ideographic space → space.
_Z2H_TABLE = {cp: cp - 0xFEE0 for cp in range(0xFF01, 0xFF5F)}
_Z2H_TABLE[0x3000] = 0x20


def z2h_ascii_digit(s: str) -> str:
    """Full-width ASCII letters/digits/symbols → half-width."""
    return s.translate(_Z2H_TABLE)


def normalize_char_width(s: str) -> str:
    """Exact reimplementation of the reference normalization (P6)."""
    return z2h_ascii_digit(h2z_kana(s))
