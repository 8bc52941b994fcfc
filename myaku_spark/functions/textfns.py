"""Scalar text functions with reference-parity semantics.

Each function exists in two forms where possible:
- a pure Catalyst Column expression (JVM-side, whole-stage-codegen-able) —
  the hot path at 100 TB; and
- an exact pandas-UDF twin where Python semantics differ in corner cases
  (e.g. ``str.isalnum`` vs Java regex classes).
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

# --- alnum count (P7: /root/reference/myaku/utils/__init__.py:410-412) ------


def alnum_count_py(s: str) -> int:
    """``sum(c.isalnum() for c in s)`` — exact Python semantics."""
    return sum(c.isalnum() for c in s)


@F.pandas_udf(LongType())
def alnum_count_udf(col: pd.Series) -> pd.Series:
    # Python re ``\w`` is documented as str.isalnum() plus underscore, so
    # ``[^\W_]`` counts exactly the isalnum chars — same semantics as
    # alnum_count_py (property-tested), but the per-char loop runs inside
    # the C regex engine instead of a Python generator per character.
    return col.str.count(r"[^\W_]").astype("Int64")


# --- text hash (P8: /root/reference/myaku/datatypes.py:210-222) -------------


def text_hash_col(col: Column) -> Column:
    """SHA-256 hexdigest of the UTF-8 bytes of the text (lowercase hex)."""
    return F.sha2(F.encode(col, "UTF-8"), 256)


def text_hash_py(s: str) -> str:
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


# --- whitespace collapse (P13: article_preview.py:26-34) --------------------


def collapse_whitespace_col(col: Column) -> Column:
    r"""``\s+`` → ideographic space (U+3000), as in result previews."""
    return F.regexp_replace(col, r"\s+", "　")


# --- sentence segmentation (P12: utils/__init__.py:262-321) -----------------

JPN_SENTENCE_ENDERS = ["。", "？", "！", "?", "!", "\n"]


def find_sentence_start(text: str, pos: int) -> int:
    """Start index of the sentence containing ``pos``.

    Parity with ``find_jpn_sentence_start`` (utils/__init__.py:262-276):
    walk left through consecutive enders, then the previous ender + 1.
    """
    while (
        pos > 0
        and text[pos] in JPN_SENTENCE_ENDERS
        and text[pos - 1] in JPN_SENTENCE_ENDERS
    ):
        pos -= 1
    prev = max(text.rfind(ch, 0, pos) for ch in JPN_SENTENCE_ENDERS)
    return 0 if prev == -1 else prev + 1


def find_sentence_end(text: str, pos: int) -> int:
    """End index (inclusive) of the sentence containing ``pos``.

    Parity with ``find_jpn_sentence_end`` + ``_get_full_sentence_ender``
    (utils/__init__.py:279-321): nearest ender at/after pos, extended
    through any directly following enders; len(text)-1 when none.
    """

    def full_ender(idx: int) -> int:
        while (
            idx < len(text) - 1
            and text[idx] in JPN_SENTENCE_ENDERS
            and text[idx + 1] in JPN_SENTENCE_ENDERS
        ):
            idx += 1
        return idx

    candidates = []
    for ch in JPN_SENTENCE_ENDERS:
        i = text.find(ch, pos)
        candidates.append(len(text) - 1 if i == -1 else full_ender(i))
    return min(candidates)


# --- order-preserving unique (utils/__init__.py:247-259) --------------------


def unique_preserving(items: list) -> list:
    out = []
    for it in items:
        if it not in out:
            out.append(it)
    return out
