"""Search-result preview building (K4/P12/P13 parity).

The reference builds result previews by grouping every matched position
into its containing sentence (datatypes.py:274-304
group_text_positions_by_sentence), ranking the candidate sentences by a
quality-bucketed length key (article_preview.py:37-62: ideal 70-90 >
acceptable-short 50-69 > acceptable-long 91-100 > too-short > too-long;
longer wins within a bucket), picking the best as the main sample
(article_preview.py:142-160), and collapsing whitespace runs to an
ideographic space (article_preview.py:26-34). Here: the per-doc matched
positions come off the segment position streams, and one pandas UDF per
result row runs the grouping + quality argmax — driver ships only the
(≤ k·pages) result rows, never posting lists.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from myaku_spark.functions.textfns import (
    collapse_whitespace_col,
    find_sentence_end,
    find_sentence_start,
)

# article_preview.py:15-18
MIN_ACCEPTABLE_LEN = 50
MIN_IDEAL_LEN = 70
MAX_IDEAL_LEN = 90
MAX_ACCEPTABLE_LEN = 100


def preview_quality_key(sentence_len: int) -> tuple[int, int]:
    """_sentence_group_preview_quality_key parity
    (article_preview.py:37-62): (bucket, length), larger = better."""
    if MIN_IDEAL_LEN <= sentence_len <= MAX_IDEAL_LEN:
        return (2, sentence_len)
    if MIN_ACCEPTABLE_LEN <= sentence_len < MIN_IDEAL_LEN:
        return (1, sentence_len)
    if MAX_IDEAL_LEN < sentence_len <= MAX_ACCEPTABLE_LEN:
        return (0, sentence_len)
    if sentence_len < MIN_ACCEPTABLE_LEN:
        return (-1, sentence_len)
    return (-2, sentence_len)


def group_positions_by_sentence(
    text: str, positions: list[tuple[int, int]]
) -> list[tuple[tuple[int, int], list[tuple[int, int]]]]:
    """group_text_positions_by_sentence parity (datatypes.py:274-304):
    [(sentence (start, len), [match positions])], in sentence-start
    order (positions are scanned sorted by start; consecutive positions
    inside the same sentence reuse its extent)."""
    groups: dict[tuple[int, int], list] = {}
    end = -1
    start = 0
    for pos in sorted(positions):
        p_start, p_len = int(pos[0]), int(pos[1])
        if p_start > end:
            start = find_sentence_start(text, p_start)
            end = find_sentence_end(text, p_start + p_len)
        groups.setdefault((start, end - start + 1), []).append((p_start, p_len))
    return list(groups.items())


def build_sample_segments(
    text: str,
    sentence: tuple[int, int],
    found_positions: list[tuple[int, int]],
) -> list[tuple[bool, str]]:
    """_create_sample_segments parity (article_preview.py:235-270):
    split the sample sentence into alternating (is_query_match, text)
    runs, lstrip the first / rstrip the last segment, then collapse
    whitespace per segment — the isQueryMatch highlighting structure the
    reference API serves. (The >100-char trim / short-sentence expand
    strategies of article_preview.py:293-480 are ArticlePreview below —
    use it when full sample shaping is needed.)"""
    s_start, s_len = sentence
    segments: list[list] = []
    last_end = s_start
    for p_start, p_len in sorted(found_positions):
        if last_end != p_start:
            seg = text[last_end:p_start]
            segments.append([False, seg])
            last_end += len(seg)
        segments.append([True, text[p_start : p_start + p_len]])
        last_end += p_len
    end_text = text[last_end : s_start + s_len]
    if end_text:
        segments.append([False, end_text])
    segments[0][1] = segments[0][1].lstrip()
    segments[-1][1] = segments[-1][1].rstrip()
    import re as _re

    return [
        (bool(m), _re.sub(r"\s+", "　", t)) for m, t in segments
    ]


def best_preview_sample(
    text: str, positions
) -> tuple[str, list[tuple[bool, str]]] | None:
    """(best sentence, its match/non-match segments) — the main sample."""
    if text is None or not positions:
        return None
    groups = group_positions_by_sentence(text, list(positions))
    best = max(
        range(len(groups)),
        key=lambda i: (preview_quality_key(groups[i][0][1]), -i),
    )
    sent, in_sent = groups[best]
    return (
        text[sent[0] : sent[0] + sent[1]],
        build_sample_segments(text, sent, in_sent),
    )


def best_preview_sentence(text: str, positions) -> str:
    """The main preview sample's sentence: quality-key argmax over all
    candidate sentences containing a match. Stable-reverse sort parity:
    among equal keys the EARLIEST sentence wins, exactly like the
    reference's list.sort(key=..., reverse=True) on start-ordered
    groups (article_preview.py:148-150)."""
    if text is None:
        return None
    if not positions:
        return ""
    groups = group_positions_by_sentence(text, list(positions))
    best = max(
        range(len(groups)),
        key=lambda i: (preview_quality_key(groups[i][0][1]), -i),
    )
    s_start, s_len = groups[best][0]
    return text[s_start : s_start + s_len]


def _best_sentence_udf():
    """UDF built lazily — pandas_udf return-type parsing needs an active
    session, so module import must stay session-free."""
    from pyspark.sql.types import StringType

    @F.pandas_udf(StringType())
    def best_sentence(
        text: pd.Series, starts: pd.Series, lens: pd.Series
    ) -> pd.Series:
        return pd.Series(
            [
                best_preview_sentence(
                    t,
                    list(zip(s, ln)) if s is not None else [],
                )
                for t, s, ln in zip(text, starts, lens)
            ]
        )

    return best_sentence


def attach_ranked_previews(
    hydrated: DataFrame,
    texts: DataFrame,
    starts_col: str = "match_starts",
    lens_col: str = "match_lens",
    text_col: str = "text",
) -> DataFrame:
    """K4: results carrying ALL matched positions ⋈ texts → + preview =
    whitespace-collapsed best-quality sentence."""
    joined = hydrated.join(texts.select("doc_id", text_col), "doc_id", "left")
    sent = _best_sentence_udf()(
        F.col(text_col), F.col(starts_col), F.col(lens_col)
    )
    return joined.withColumn(
        "preview", collapse_whitespace_col(sent)
    ).drop(text_col)


def preview_for_results(
    spark,
    index_dir: str,
    results: list[tuple[float, int]],
    terms: list[str],
    pages: DataFrame,
) -> DataFrame:
    """Full preview pipeline for a search result list: recover ALL
    matched positions of the query terms per result doc from the
    segments, then pick the best-quality sentence. ``pages`` supplies
    (url, text)."""
    from myaku_spark.operators.phrase import decode_postings
    from myaku_spark.operators.segments import read_term_segments

    if not results:
        return spark.createDataFrame(
            [], "doc_id long, score double, preview string"
        )
    # Two-phase read, fully distributed (r5 verdict #1 — the old version
    # collected (term, block_id, min_doc, max_doc) for EVERY block of
    # every result term and bisected driver-side, the one serving-path
    # collect proportional to a head term's block count): the result-doc
    # set (≤ k·pages rows) broadcasts into an interval semi-join against
    # the block metadata, so only blocks whose [min_doc, max_doc] range
    # covers a result doc are ever decoded — and the decode itself runs
    # executor-side (the same mapInArrow kernel phrase search uses),
    # shipping the driver nothing but the final per-result-doc position
    # arrays. Same pattern as plans/incremental.tombstone_block_patches.
    rdoc = F.broadcast(
        spark.createDataFrame(
            [(int(d),) for _, d in sorted(results, key=lambda r: r[1])],
            "rdoc long",
        )
    )
    from myaku_spark.plans import catalog

    _, paths = catalog.resolve(index_dir)
    seg = read_term_segments(spark, paths["segments"], terms)
    needed = seg.join(
        rdoc,
        (F.col("min_doc") <= F.col("rdoc"))
        & (F.col("rdoc") <= F.col("max_doc")),
        "leftsemi",
    )
    pos = (
        decode_postings(needed)
        .join(rdoc, F.col("doc_id") == F.col("rdoc"), "leftsemi")
        .filter(F.size("starts") > 0)
        .select(
            "doc_id", F.arrays_zip("starts", "lens").alias("ps")
        )
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.flatten(F.collect_list("ps"))).alias("ps")
        )
        .select(
            "doc_id",
            F.col("ps.starts").alias("match_starts"),
            F.col("ps.lens").alias("match_lens"),
        )
    )
    rdf = (
        spark.createDataFrame(
            [(int(d), float(s)) for s, d in results],
            "doc_id long, score double",
        )
        .join(pos, "doc_id", "left")
        .select(
            "doc_id",
            "score",
            F.coalesce(
                F.col("match_starts"), F.array().cast("array<int>")
            ).alias("match_starts"),
            F.coalesce(
                F.col("match_lens"), F.array().cast("array<int>")
            ).alias("match_lens"),
        )
    )
    docs = spark.read.parquet(paths["docs"]).select("doc_id", "url")
    texts = docs.join(pages.select("url", "text"), "url").select(
        "doc_id", "text"
    )
    return attach_ranked_previews(rdf.join(docs, "doc_id"), texts)


# ---------------------------------------------------------------------------
# Full preview parity: trim (>100-char samples) + expand (short samples)
# (article_preview.py:127-827). One ArticlePreview per result row — the
# same driver/UDF-side granularity as best_preview_sample above.
# ---------------------------------------------------------------------------

TRIM_INDICATOR = "..."  # _TRIMMED_INDICATOR_STR, article_preview.py:23
MIN_CHARS_BETWEEN_MATCH_AND_TRIM = 8  # article_preview.py:24
MAX_PREVIEW_SAMPLES = 3  # _MAX_PREVIEW_ARTICLE_SAMPLES, :20
MAX_PREVIEW_ARTICLE_PERCENT = 0.15  # :21

import re as _re2


def _collapse_ws(t: str) -> str:
    """_collapse_whitespace (article_preview.py:26-34)."""
    return _re2.sub(r"\s+", "　", t)


def _seglen(segs) -> int:
    return sum(len(t) for _, t in segs)


class ArticlePreview:
    """Search-result article preview with the reference's FULL sample
    shaping (article_preview.py:127-827): quality-sorted candidate
    sentences become samples; a sample over 100 chars is trimmed around
    its densest query-match section (with '...' indicators and the
    full-left / full-right / balanced remainder strategies); a short
    sample expands with neighboring sentences — paragraph-continuation
    pass first, then unconditional, then partial-sentence force
    expansion — under the 70-90 ideal-length acceptance rule
    (_should_expand). Extra samples stop at 3 or 15% of the article.

    ``main_sample``/``extra_samples`` are dicts with ``segments``
    (list of (is_query_match, text)) and ``start`` (article char
    offset), the JSON shape the reference API serves
    (convert_sample_text_to_json, :104-119). Reference quirks are
    mirrored, not fixed, for output parity; each is marked below."""

    def __init__(self, text: str, positions, title: str = ""):
        self.text = text
        self.title = title
        groups = group_positions_by_sentence(text, list(positions))
        groups.sort(
            key=lambda g: preview_quality_key(g[0][1]), reverse=True
        )
        self._pos_map = {g[0][0]: g[1] for g in groups}
        self._used: set[int] = set()
        samples = self._create_all(groups)
        self.main_sample = samples[0] if samples else None
        self.extra_samples = samples[1:]

    # -- sample assembly (:200-270) -----------------------------------

    def _sample_segments(self, start: int, length: int, found):
        segs: list[list] = []
        last_end = start
        for p_start, p_len in found:
            if last_end != p_start:
                t = self.text[last_end:p_start]
                segs.append([False, t])
                last_end += len(t)
            segs.append([True, self.text[p_start : p_start + p_len]])
            last_end += p_len
        end_text = self.text[last_end : start + length]
        if end_text:
            segs.append([False, end_text])
        segs[0][1] = segs[0][1].lstrip()
        segs[-1][1] = segs[-1][1].rstrip()
        for s in segs:
            s[1] = _collapse_ws(s[1])
        return segs

    def _create_all(self, groups):
        out = []
        article_len = len(_collapse_ws(self.text))
        for (s_start, s_len), found in groups:
            if s_start in self._used:
                continue
            out.append(self._create_sample((s_start, s_len), found))
            total = sum(_seglen(s["segments"]) for s in out)
            if len(out) > 1 and total / article_len > (
                MAX_PREVIEW_ARTICLE_PERCENT
            ):
                out.pop()
                break
            if len(out) >= MAX_PREVIEW_SAMPLES:
                break
        return out

    def _create_sample(self, pos, found):
        segs = self._sample_segments(pos[0], pos[1], found)
        sample = {"segments": segs, "start": pos[0]}
        self._used.add(pos[0])
        if _seglen(segs) > MAX_ACCEPTABLE_LEN:
            self._trim(sample)
        else:
            self._expand(sample, pos)
        sample["segments"] = [(bool(m), t) for m, t in sample["segments"]]
        return sample

    # -- trim (:272-480) ----------------------------------------------

    @staticmethod
    def _max_match_bounds(segs):
        """_get_max_query_match_bounds (:272-316): densest contiguous
        match section within 100 chars. A segment whose length pushes
        the section to >=100 breaks BEFORE being counted as a match —
        the reference's add-then-break order."""
        best = -1
        b_start = b_end = 0
        for i, (is_match, _) in enumerate(segs):
            if not is_match:
                continue
            matches = 0
            section_len = 0
            last_match = i
            for j in range(i, len(segs)):
                section_len += len(segs[j][1])
                if section_len >= MAX_ACCEPTABLE_LEN:
                    break
                if segs[j][0]:
                    last_match = j
                    matches += 1
            if matches > best:
                best = matches
                b_start, b_end = i, last_match + 1
        return b_start, b_end

    def _trim(self, sample):
        """_trim_sample_text (:440-480)."""
        segs = sample["segments"]
        m_start, m_end = self._max_match_bounds(segs)
        trimmed = list(segs[m_start:m_end])
        trimmed_len = _seglen(trimmed)
        chars_from_start = _seglen(segs[:m_start])
        chars_to_end = _seglen(segs[m_end:])
        sample["start"] += chars_from_start
        # Boundary guards the reference lacks (it indexes
        # segs[m_start-1] / segs[m_end] unconditionally, which wraps to
        # segs[-1] when the match section starts at segment 0 and
        # IndexErrors when it ends at the last segment — both reproduced
        # by fuzzing; inside a pandas UDF the IndexError is job-fatal).
        # Deviation: out-of-range neighbors contribute nothing.
        prev_text = segs[m_start - 1][1] if m_start > 0 else ""
        next_text = segs[m_end][1] if m_end < len(segs) else ""
        if trimmed_len >= MAX_ACCEPTABLE_LEN:
            left_added = 0
        elif (
            trimmed_len + chars_from_start + MIN_CHARS_BETWEEN_MATCH_AND_TRIM
            <= MAX_ACCEPTABLE_LEN
        ):
            # full left, remainder right (:318-352). The reference
            # returns the FIRST segment's length as left_added_chars —
            # mirrored (quirk: it equals len(segs[0]), not the total
            # prepended length).
            trimmed = list(segs[:m_start]) + trimmed
            cur = _seglen(trimmed)
            if cur < MAX_ACCEPTABLE_LEN and next_text:
                trimmed.append(
                    [False, next_text[: MAX_ACCEPTABLE_LEN - cur]]
                )
            trimmed.append([False, TRIM_INDICATOR])
            left_added = len(trimmed[0][1])
        elif (
            trimmed_len + chars_to_end + MIN_CHARS_BETWEEN_MATCH_AND_TRIM
            <= MAX_ACCEPTABLE_LEN
        ):
            # full right, remainder left (:354-390)
            trimmed = trimmed + list(segs[m_end:])
            cur = _seglen(trimmed)
            left_added = 0
            if cur < MAX_ACCEPTABLE_LEN and prev_text:
                piece = prev_text[-1 * (MAX_ACCEPTABLE_LEN - cur):]
                trimmed.insert(0, [False, piece])
                left_added = len(piece)
            trimmed.insert(0, [False, TRIM_INDICATOR])
        else:
            # left/right balance (:392-438). Quirk mirrored: the
            # reference indexes a single CHAR from the left neighbor
            # (prev_text[-(rem//2 + rem%2)]), not a slice — clamped to
            # the segment length (the raw index IndexErrors on short
            # neighbors, 65/4000 fuzzed match layouts).
            remaining = MAX_ACCEPTABLE_LEN - trimmed_len
            n_left = min(remaining // 2 + remaining % 2, len(prev_text))
            left_piece = prev_text[-n_left] if n_left > 0 else ""
            if left_piece:
                trimmed.insert(0, [False, left_piece])
            left_added = len(left_piece)
            trimmed.insert(0, [False, TRIM_INDICATOR])
            right_piece = next_text[: remaining // 2]
            if right_piece:
                trimmed.append([False, right_piece])
            trimmed.append([False, TRIM_INDICATOR])
        sample["start"] -= left_added
        sample["segments"] = trimmed

    # -- expand (:480-827) --------------------------------------------

    @staticmethod
    def _should_expand(segs, expand_segs):
        """_should_expand (:480-513): accept the expansion when it
        lands in or moves toward the 70-90 ideal band."""
        cur = _seglen(segs)
        new = cur + _seglen(expand_segs)
        if MIN_IDEAL_LEN <= new <= MAX_IDEAL_LEN:
            return True
        if MIN_IDEAL_LEN <= cur <= MAX_IDEAL_LEN:
            return False
        if cur < MIN_IDEAL_LEN and new < MIN_IDEAL_LEN:
            return True
        if cur > MAX_IDEAL_LEN and new > MAX_IDEAL_LEN:
            return False
        return not (MIN_IDEAL_LEN - cur < new - MAX_IDEAL_LEN)

    def _can_expand_left(self, pos) -> bool:
        start = pos[0]
        if start == 0:
            return False
        left_start = find_sentence_start(self.text, start - 1)
        if start >= len(self.title) and left_start < len(self.title):
            return False
        return left_start not in self._used

    def _can_expand_right(self, pos) -> bool:
        end = pos[0] + pos[1]
        if end == len(self.text):
            return False
        if pos[0] < len(self.title):
            right_end = find_sentence_start(self.text, end)
            while right_end > 0 and self.text[right_end] == "\n":
                right_end -= 1
            if right_end >= len(self.title):
                return False
        return end not in self._used

    def _paragraph_continues_left(self, pos) -> bool:
        return pos[0] != 0 and not self.text[pos[0] - 1].isspace()

    def _paragraph_continues_right(self, pos) -> bool:
        end = pos[0] + pos[1]
        return end != len(self.text) and not self.text[end].isspace()

    def _left_sentence(self, pos):
        left_start = find_sentence_start(self.text, pos[0] - 1)
        found = self._pos_map.get(left_start, ())
        return (
            self._sample_segments(left_start, pos[0] - left_start, found),
            left_start,
        )

    def _right_sentence(self, pos):
        right_start = pos[0] + pos[1]
        right_end = find_sentence_end(self.text, right_start)
        found = self._pos_map.get(right_start, ())
        return (
            self._sample_segments(
                right_start, right_end - right_start + 1, found
            ),
            right_end,
        )

    def _expand_left(self, sample, pos, only_if_paragraph_continues):
        segs = sample["segments"]
        while self._can_expand_left(pos) and (
            not only_if_paragraph_continues
            or self._paragraph_continues_left(pos)
        ):
            left_segs, left_start = self._left_sentence(pos)
            if not self._should_expand(segs, left_segs):
                break
            segs[:0] = left_segs
            pos = (left_start, pos[1] + pos[0] - left_start)
            self._used.add(left_start)
        sample["start"] = pos[0]
        return pos

    def _expand_right(self, sample, pos, only_if_paragraph_continues):
        segs = sample["segments"]
        while self._can_expand_right(pos) and (
            not only_if_paragraph_continues
            or self._paragraph_continues_right(pos)
        ):
            right_start = pos[0] + pos[1]
            right_segs, right_end = self._right_sentence(pos)
            if not self._should_expand(segs, right_segs):
                break
            segs.extend(right_segs)
            pos = (pos[0], pos[1] + right_end - right_start + 1)
            self._used.add(right_start)
        sample["start"] = pos[0]
        return pos

    def _force_expand_left(self, sample, pos):
        """_force_expand_left_up_to_max (:697-743): partial-sentence
        expansion, trimming the overflowing head segment and marking it
        with the indicator."""
        segs = sample["segments"]
        while self._can_expand_left(pos):
            left_segs, left_start = self._left_sentence(pos)
            excess = 0
            for seg in reversed(left_segs):
                segs.insert(0, seg)
                new_len = _seglen(segs)
                if new_len >= MAX_ACCEPTABLE_LEN:
                    excess = new_len - MAX_ACCEPTABLE_LEN
                    segs[0][1] = segs[0][1][excess:]
                    break
            if _seglen(segs) >= MAX_ACCEPTABLE_LEN:
                if excess > 0:
                    segs.insert(0, [False, TRIM_INDICATOR])
                break
            pos = (left_start, pos[1] + pos[0] - left_start)
            self._used.add(left_start)
        sample["start"] = pos[0]
        return pos

    def _force_expand_right(self, sample, pos):
        """_force_expand_right_up_to_max (:745-793). Reference quirks
        mirrored: the loop gates on _can_expand_LEFT and the overflow
        trims segs[0] — in practice the loop never runs (force-right is
        only reached once the left side is exhausted), so this is a
        faithful no-op."""
        segs = sample["segments"]
        while self._can_expand_left(pos):
            right_start = pos[0] + pos[1]
            right_segs, right_end = self._right_sentence(pos)
            excess = 0
            for seg in right_segs:
                segs.append(seg)
                new_len = _seglen(segs)
                if new_len >= MAX_ACCEPTABLE_LEN:
                    excess = new_len - MAX_ACCEPTABLE_LEN
                    segs[0][1] = segs[0][1][: len(segs[0][1]) - excess]
                    break
            if _seglen(segs) >= MAX_ACCEPTABLE_LEN:
                if excess > 0:
                    segs.append([False, TRIM_INDICATOR])
                break
            pos = (pos[0], pos[1] + right_end - right_start + 1)
            self._used.add(right_start)
        sample["start"] = pos[0]
        return pos

    def _expand(self, sample, pos):
        """_expand_sample_text (:794-827): paragraph-continuation pass,
        unconditional pass, then force expansion — stopping as soon as
        the sample reaches the 50-char acceptable floor."""
        pos = self._expand_left(sample, pos, True)
        pos = self._expand_right(sample, pos, True)
        if _seglen(sample["segments"]) >= MIN_ACCEPTABLE_LEN:
            return
        pos = self._expand_left(sample, pos, False)
        pos = self._expand_right(sample, pos, False)
        if _seglen(sample["segments"]) >= MIN_ACCEPTABLE_LEN:
            return
        pos = self._force_expand_left(sample, pos)
        if _seglen(sample["segments"]) >= MIN_ACCEPTABLE_LEN:
            return
        self._force_expand_right(sample, pos)


def _full_preview_udf():
    """Lazily-built pandas UDF: per result row, run the FULL sample
    shaping (ArticlePreview: trim / expand / extra samples) and return
    the preview as a JSON string — the convert_sample_text_to_json
    payload (article_preview.py:104-119) with main + extra samples.
    One Arrow batch covers the ≤ k·pages result rows, so the work is
    result-sized, never corpus-sized. The per-row title gates the
    reference's title-boundary expansion rules."""
    import json as _json

    from pyspark.sql.types import StringType

    @F.pandas_udf(StringType())
    def full_preview(
        text: pd.Series, starts: pd.Series, lens: pd.Series,
        titles: pd.Series,
    ) -> pd.Series:
        def run(t, s, ln, ttl):
            if t is None or s is None or len(s) == 0:
                return None
            p = ArticlePreview(t, list(zip(s, ln)), title=ttl or "")
            def pack(sample):
                return {
                    "textStartPos": int(sample["start"]),
                    "segments": [
                        {"isQueryMatch": bool(m), "text": txt}
                        for m, txt in sample["segments"]
                    ],
                }
            return _json.dumps(
                {
                    "main": pack(p.main_sample),
                    "extra": [pack(s_) for s_ in p.extra_samples],
                },
                ensure_ascii=False,
            )

        return pd.Series(
            [
                run(t, s, ln, ttl)
                for t, s, ln, ttl in zip(text, starts, lens, titles)
            ]
        )

    return full_preview


def attach_full_previews(
    hydrated: DataFrame,
    texts: DataFrame,
    starts_col: str = "match_starts",
    lens_col: str = "match_lens",
    text_col: str = "text",
    title_col: str | None = None,
) -> DataFrame:
    """K4 full preview at scale: results carrying ALL matched positions
    ⋈ texts → + preview_json = the complete trimmed/expanded sample
    payload (main + extra samples) the reference API serves. The UDF
    sees only result rows (≤ k·pages), the text join is the same
    broadcast-sized hydration join as attach_ranked_previews.
    ``title_col``: a texts column with the article title (the reference
    full_text embeds it at the start — passing it enables the
    title-boundary expansion rules); omitted → no title gating."""
    cols = ["doc_id", text_col] + ([title_col] if title_col else [])
    joined = hydrated.join(texts.select(*cols), "doc_id", "left")
    title_c = F.col(title_col) if title_col else F.lit("")
    out = joined.withColumn(
        "preview_json",
        _full_preview_udf()(
            F.col(text_col), F.col(starts_col), F.col(lens_col), title_c
        ),
    ).drop(text_col)
    return out.drop(title_col) if title_col else out
