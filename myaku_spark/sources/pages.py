"""The ``pages`` input table and its deterministic synthesis.

Shape mandated by the driver input_hint (and FIXTURES.md §1):
    pages(url string, warc_ts timestamp, html binary, text string,
          lang string)

On a real deployment this is an Iceberg table
(``spark.read.format("iceberg").load("db.pages")``; incremental builds
read snapshot ranges). Iceberg's runtime jar is not available in this
sandbox, so ``read_pages``/``write_pages`` fall back to parquet with an
identical schema; every downstream operator is format-agnostic.

Synthesis is fully deterministic (seeded counter-based PRNG — no
wall-clock, no global random state): sentences are drawn from a fixed
pool composed of the packaged dictionary fragments' surfaces
(``functions/ipadic_fragment.csv`` and ``functions/jmdict_fragment.xml``)
so every synthetic token is a dictionary entry, and wrapped in
Kakuyomu-style episode HTML so the extraction UDF must do real work; the
expected ``text`` column is produced by construction for byte-identical
verification.
"""

from __future__ import annotations

import datetime as dt
import functools
import hashlib
import html as html_mod

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from myaku_spark.functions.ipadic_csv import (
    default_fragment_bytes,
    parse_ipadic_csv,
)
from myaku_spark.functions.jmdict_xml import (
    default_fragment_text,
    parse_jmdict_xml,
)

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), False),
        StructField("text", StringType(), False),
        StructField("lang", StringType(), False),
    ]
)

_BASE_TS = dt.datetime(2026, 1, 1, 0, 0, 0)
_POOL_SIZE = 256
# Endings appended to a conjugated verb/adjective row, by its part of
# speech and 活用形; every ending is itself a fragment surface.
_ENDINGS = {
    ("動詞", "基本形"): ("",),
    ("動詞", "連用形"): ("ました", "ません"),
    ("動詞", "連用タ接続"): ("た", "ていた"),
    ("動詞", "未然形"): ("ない",),
    ("形容詞", "基本形"): ("",),
    ("形容詞", "連用タ接続"): ("た",),
    ("形容詞", "連用テ接続"): ("ない",),
}
_COPULAS = ("です", "でした", "だ")
_CASE_PARTICLES = ("は", "が", "を", "に", "で", "と", "も", "へ", "から", "まで")


@functools.cache
def _sentences() -> list[str]:
    """Pool of ``[接続詞、]noun particle noun particle predicate。``
    sentences over the packaged dictionary fragments."""
    rows = parse_ipadic_csv(("ipadic_fragment.csv", default_fragment_bytes()))
    nouns = [
        r.surface for r in rows
        if r.pos[:2] in (("名詞", "一般"), ("名詞", "サ変接続"), ("名詞", "代名詞"))
    ] + [
        e.text_form for e in parse_jmdict_xml(default_fragment_text())
        if any(p.startswith("noun") for p in e.parts_of_speech)
    ]
    predicates = [
        r.surface + end
        for r in rows
        for end in _ENDINGS.get((r.pos[0], r.conj_form), ())
    ] + [n + c for n in nouns for c in _COPULAS]
    openers = [""] + [r.surface + "、" for r in rows if r.pos[0] == "接続詞"]

    def pick(options, k, slot):
        # Negative counters keep the pool's draws apart from synth_page's.
        return options[_prng(-1 - k, slot) % len(options)]

    return [
        pick(openers, k, 0)
        + pick(nouns, k, 1) + pick(_CASE_PARTICLES, k, 2)
        + pick(nouns, k, 3) + pick(_CASE_PARTICLES, k, 4)
        + pick(predicates, k, 5) + "。"
        for k in range(_POOL_SIZE)
    ]


def _prng(i: int, j: int) -> int:
    """Counter-based deterministic PRNG (no global state)."""
    h = hashlib.blake2b(
        f"{i}:{j}".encode(), digest_size=8, key=b"myaku_spark"
    ).digest()
    return int.from_bytes(h, "little")


def synth_page(i: int, paras_min: int = 2, paras_max: int = 6) -> dict:
    """One deterministic Kakuyomu-style page (url, warc_ts, html, text)."""
    sents = _sentences()
    n_paras = paras_min + _prng(i, 0) % (paras_max - paras_min + 1)
    title = f"Synth Series {i % 97} Episode {i}"
    paras = []
    for p in range(n_paras):
        n_s = 1 + _prng(i, 100 + p) % 4
        para = "".join(
            sents[_prng(i, 1000 + p * 10 + k) % len(sents)] for k in range(n_s)
        )
        paras.append("　" + para)
    # Expected extraction output (kakuyomu.py:656-685 assembly).
    text = "\n".join([title.strip(), ""] + paras)
    body_html = "\n".join(
        f'<p id="p{k+1}">{html_mod.escape(p, quote=False)}</p>'
        for k, p in enumerate(paras)
    )
    page_html = (
        "<!DOCTYPE html>\n<html>\n<head>\n"
        '<meta charset="utf-8">\n'
        f"<title>{html_mod.escape(title, quote=False)}</title>\n"
        "</head>\n<body>\n"
        '<div id="contentMain" role="main">\n'
        "<header>\n"
        f'<p class="widget-episodeTitle">{html_mod.escape(title, quote=False)}</p>\n'
        "</header>\n"
        '<div class="widget-episode">\n'
        f'<div class="widget-episodeBody js-episode-body">\n{body_html}\n</div>\n'
        "</div>\n</div>\n</body>\n</html>\n"
    )
    ts = _BASE_TS + dt.timedelta(minutes=i % 100_000)
    return {
        "url": f"https://synth.example.jp/series-{i % 97}/episode-{i}",
        "warc_ts": ts,
        "html": page_html.encode("utf-8"),
        "text": text,
        "lang": "ja",
    }


def synth_pages_df(
    spark: SparkSession,
    n: int,
    partitions: int | None = None,
    paras: tuple[int, int] = (2, 6),
) -> DataFrame:
    """Deterministic pages table of n rows, generated in parallel.

    Generation happens executor-side via mapInPandas over an id range, so
    a 10^12-row table is just a bigger range — no driver materialization.
    ``paras`` sets the per-page paragraph count range; (10, 30) yields
    ~2-3 KB of text per page (Common-Crawl-like), the default (2, 6)
    keeps unit tests fast.
    """
    import pandas as pd

    parts = partitions or max(8, n // 5000)
    base = spark.range(0, n, 1, parts)
    lo, hi = paras

    def gen(batches):
        for pdf in batches:
            rows = [synth_page(int(i), lo, hi) for i in pdf["id"]]
            yield pd.DataFrame(rows)

    return base.mapInPandas(gen, PAGES_SCHEMA)


def golden_pages_df(spark: SparkSession) -> DataFrame:
    """pages table built from the reference golden fixtures (tests)."""
    import sys

    sys.path.insert(0, "/root/repo/tests")
    from golden import golden_pages  # noqa: PLC0415

    rows = [
        (
            p["url"],
            _BASE_TS,
            p["html"],
            p["full_text"],
            "ja",
        )
        for p in golden_pages("initial")
    ]
    return spark.createDataFrame(rows, PAGES_SCHEMA)


def read_pages(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Landing-zone reader for every format a crawl might deliver.

    parquet/orc keep their native types; json/csv are schema-enforced
    against PAGES_SCHEMA with the binary ``html`` column carried
    base64 (text formats cannot hold raw bytes) and decoded on read, so
    downstream extraction sees identical bytes regardless of format."""
    if fmt == "iceberg":
        return spark.read.format("iceberg").load(path)
    if fmt == "avro":
        # external-but-bundled module in real distributions; the jar is
        # absent in this sandbox (gated test, like iceberg)
        return spark.read.format("avro").load(path)
    if fmt == "parquet":
        return spark.read.parquet(path)
    if fmt == "orc":
        return spark.read.orc(path)
    if fmt in ("json", "csv"):
        text_schema = (
            "url string, warc_ts timestamp, html string,"
            " text string, lang string"
        )
        reader = spark.read.schema(text_schema)
        if fmt == "csv":
            df = reader.option("header", True).option(
                "multiLine", True
            ).option(
                "timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
            ).csv(path)
        else:
            df = reader.option(
                "timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
            ).json(path)
        return df.select(
            "url", "warc_ts",
            F.unbase64("html").alias("html"),
            "text", "lang",
        )
    raise ValueError(f"unsupported pages format: {fmt}")


def write_pages(df: DataFrame, path: str, fmt: str = "parquet") -> None:
    if fmt == "iceberg":
        df.writeTo(path).createOrReplace()
    elif fmt == "avro":
        df.write.mode("overwrite").format("avro").save(path)
    elif fmt == "parquet":
        df.write.mode("overwrite").parquet(path)
    elif fmt == "orc":
        df.write.mode("overwrite").orc(path)
    elif fmt in ("json", "csv"):
        out = df.select(
            "url",
            # microsecond precision — parquet timestamps are micros and
            # the round-trip must not truncate; both sides assume one
            # session timezone (write and read under the same
            # spark.sql.session.timeZone, UTC in this repo's sessions)
            F.date_format(
                "warc_ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
            ).alias("warc_ts"),
            F.base64("html").alias("html"),
            "text", "lang",
        )
        if fmt == "csv":
            out.write.mode("overwrite").option("header", True).csv(path)
        else:
            out.write.mode("overwrite").json(path)
    else:
        raise ValueError(f"unsupported pages format: {fmt}")
