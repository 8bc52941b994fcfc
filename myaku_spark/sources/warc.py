"""WARC ingestion — the Common Crawl / web-archive landing format.

A WARC file (ISO 28500) is a sequence of records:

    WARC/1.0\\r\\n
    WARC-Type: response\\r\\n
    WARC-Target-URI: http://...\\r\\n
    WARC-Date: 2024-01-01T00:00:00Z\\r\\n
    Content-Length: N\\r\\n
    \\r\\n
    <N bytes block>\\r\\n\\r\\n

where a response record's block is the raw HTTP exchange (status line
+ headers + body). ``read_warc`` lands every record as a DataFrame
row; ``warc_to_pages`` projects the 2xx responses onto the pages
schema (url, warc_ts, html, text, lang) so the whole crawl→index
pipeline runs straight off an archive shard.

Scale shape: one task per WARC file via Spark's binaryFile source —
Common Crawl shards (~1 GB .warc.gz) are the standard unit of
parallelism, and a 100 TB crawl is ~100k independent file tasks.
Parsing is one mapInPandas pass with stdlib-only gzip/byte handling;
record framing walks Content-Length (never splits on payload bytes).
Gzipped archives are member-per-record concatenated gzip streams,
which GzipFile decodes as one logical stream.

No counterpart in the reference: NickMcL/Myaku crawls live sites
(myaku/crawlers/) and never lands archives; this is the batch-scale
ingestion surface a Spark deployment of the same pipeline needs.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

WARC_SCHEMA = (
    "warc_path string, url string, warc_ts timestamp, warc_type string,"
    " http_status int, content_type string, body binary"
)


def warc_record_bytes(
    url: str,
    ts: str,
    body: bytes,
    warc_type: str = "response",
    http_status: int = 200,
    content_type: str = "text/html; charset=utf-8",
) -> bytes:
    """One serialized WARC record (response records wrap ``body`` in a
    minimal HTTP exchange). Building block for tests and for archiving
    synthesized corpora; gzip each record separately and concatenate
    for the standard member-per-record ``.warc.gz`` layout."""
    if warc_type == "response":
        http = (
            f"HTTP/1.1 {http_status} OK\r\n"
            f"Content-Type: {content_type}\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode("latin-1") + body
    else:
        http = body
    head = [f"WARC/1.0", f"WARC-Type: {warc_type}"]
    if url:
        head.append(f"WARC-Target-URI: {url}")
    head.append(f"WARC-Date: {ts}")
    head.append(f"Content-Length: {len(http)}")
    # WARC 1.0 permits UTF-8 header values — a non-latin-1 Target-URI
    # (routine in a Japanese-web corpus) must round-trip through the
    # UTF-8 decode on the read side (_parse_stream).
    return (
        ("\r\n".join(head) + "\r\n\r\n").encode("utf-8")
        + http
        + b"\r\n\r\n"
    )


def _parse_warc_ts(ts: str | None):
    if not ts:
        return None
    try:
        d = dt.datetime.fromisoformat(ts.replace("Z", "+00:00"))
    except ValueError:
        return None
    if d.tzinfo is not None:
        d = d.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return d


def _gz_chunks(
    data: bytes, max_chunk: int = 1 << 20, in_chunk: int = 1 << 20
):
    """Decompressed chunks of a (possibly multi-member) gzip payload.
    Streaming: at most ``max_chunk`` of decompressed output exists per
    step, so a 1 GB .warc.gz shard never materializes its ~5x inflated
    text — the consumer frames records off the stream.

    Input is fed in ``in_chunk`` slices of a memoryview, NOT the whole
    remaining payload per member: decompressobj.unused_data returns a
    COPY of everything after a member's end, so feeding the full tail
    made member-per-record shards quadratic in shard size (~37k members
    in a 200 MB Common-Crawl-style shard re-copied ~100 MB each — the
    r6 bench caught it). With bounded slices, unused_data is at most
    one slice and the scan is linear."""
    import zlib

    mv = memoryview(data)
    pos = 0
    carry: bytes = b""  # unused_data spillover from the previous member
    while carry or pos < len(mv):
        d = zlib.decompressobj(31)  # 31 = gzip wrapper
        while True:
            if carry:
                feed = carry
                carry = b""
            elif pos < len(mv):
                feed = mv[pos : pos + in_chunk]
                pos += len(feed)
            else:
                return  # input exhausted mid-member: truncated shard
            while True:
                out = d.decompress(feed, max_chunk)
                if out:
                    yield out
                if d.eof:
                    carry = d.unused_data  # ≤ one input slice
                    break
                feed = d.unconsumed_tail
                if not feed:
                    break
            if d.eof:
                break  # next member (or end of payload)


def _record_tuple(path: str, h: dict[str, str], block: bytes) -> tuple:
    wtype = h.get("warc-type", "")
    status = None
    ctype = None
    body = block
    if wtype in ("response", "revisit") and block.startswith(b"HTTP/"):
        hh_end = block.find(b"\r\n\r\n")
        if hh_end >= 0:
            http_lines = (
                block[:hh_end].decode("latin-1", "replace").split("\r\n")
            )
            body = block[hh_end + 4 :]
            parts = http_lines[0].split()
            if len(parts) >= 2 and parts[1].isdigit():
                status = int(parts[1])
            for ln in http_lines[1:]:
                k, _, v = ln.partition(":")
                if k.strip().lower() == "content-type":
                    ctype = v.strip()
    return (
        path,
        h.get("warc-target-uri"),
        _parse_warc_ts(h.get("warc-date")),
        wtype,
        status,
        ctype,
        body,
    )


def _parse_stream(path: str, chunks):
    """Frame WARC records off a chunk stream. Framing walks
    Content-Length; a malformed header terminates the file scan
    (truncated shard) rather than mis-framing subsequent records.
    Buffer high-water mark ≈ one record."""
    it = iter(chunks)
    buf = bytearray()

    def pull() -> bool:
        try:
            buf.extend(next(it))
            return True
        except StopIteration:
            return False

    while True:
        # skip inter-record CRLF separators
        while True:
            while len(buf) < 2 and pull():
                pass
            if buf[:2] == b"\r\n":
                del buf[:2]
            else:
                break
        if not buf and not pull():
            return
        while (hdr_end := buf.find(b"\r\n\r\n")) < 0:
            if not pull():
                return
        lines = bytes(buf[:hdr_end]).decode("utf-8", "replace").split("\r\n")
        if not lines[0].startswith("WARC/"):
            return
        h: dict[str, str] = {}
        for ln in lines[1:]:
            k, _, v = ln.partition(":")
            h[k.strip().lower()] = v.strip()
        try:
            clen = int(h.get("content-length", ""))
        except ValueError:
            return
        while len(buf) < hdr_end + 4 + clen and pull():
            pass
        if len(buf) < hdr_end + 4 + clen:
            return  # stream ended mid-block: drop the partial record
        block = bytes(buf[hdr_end + 4 : hdr_end + 4 + clen])
        del buf[: hdr_end + 4 + clen]
        yield _record_tuple(path, h, block)


def iter_warc_records(path: str, data: bytes):
    """Records of one WARC payload as WARC_SCHEMA tuples, streamed.
    Gzipped payloads decompress as a stream (``_gz_chunks``): peak
    memory is the compressed bytes (which the binaryFile source holds
    anyway) plus one record — the inflated shard never fully
    materializes, PROVIDED the consumer drains instead of listing."""
    if path.endswith(".gz") or data[:2] == b"\x1f\x8b":
        chunks = _gz_chunks(data)
    else:
        chunks = iter((data,))
    return _parse_stream(path, chunks)


# read_warc ships one Arrow batch per ~this much inflated body data, so
# a worker's live set is compressed blob + ONE batch — not compressed +
# the whole inflated shard (~5x on web text). 64 MB ≈ Spark's own
# maxRecordsPerBatch ballpark at web-page row sizes.
WARC_BATCH_BYTES = 64 << 20
WARC_BATCH_ROWS = 10_000


def warc_records_df(files: DataFrame) -> DataFrame:
    """binaryFile rows (path, content) → WARC_SCHEMA record rows.
    The shared parse kernel of batch ``read_warc`` and the streaming
    ``stream_warc_to_index`` micro-batches."""
    files = files.select("path", "content")

    def gen(it):
        import pandas as pd

        cols = [
            "warc_path", "url", "warc_ts", "warc_type",
            "http_status", "content_type", "body",
        ]
        # Bounded-batch drain (r6): listing a whole shard's records
        # before the first yield held compressed + inflated bytes per
        # task; yielding every WARC_BATCH_BYTES of body keeps the live
        # set at compressed + one batch however big the shard is.
        for pdf in it:
            rows: list[tuple] = []
            nbytes = 0
            for p, c in zip(pdf["path"], pdf["content"]):
                for rec in iter_warc_records(str(p), bytes(c)):
                    rows.append(rec)
                    nbytes += len(rec[6] or b"")
                    if (
                        nbytes >= WARC_BATCH_BYTES
                        or len(rows) >= WARC_BATCH_ROWS
                    ):
                        yield pd.DataFrame(rows, columns=cols)
                        rows, nbytes = [], 0
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    return files.mapInPandas(gen, WARC_SCHEMA)


def read_warc(
    spark: SparkSession, path: str, pattern: str = "*.warc*"
) -> DataFrame:
    """Every WARC record under ``path`` (dir or file; plain or .gz) as
    (warc_path, url, warc_ts, warc_type, http_status, content_type,
    body). One file = one task; parsing stays in the executors."""
    reader = spark.read.format("binaryFile")
    if pattern:
        reader = reader.option("pathGlobFilter", pattern)
    return warc_records_df(reader.load(path))


def write_wet(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    url_col: str | None = "url",
    ts_col: str | None = None,
    default_ts: str = "1970-01-01T00:00:00Z",
    compress: bool = True,
) -> DataFrame:
    """Curated-corpus delivery in WET shape: one ``conversion`` record
    per document (Common Crawl's extracted-text format), one
    ``part-NNNNN.warc[.gz]`` shard per partition. The complement of
    ``read_warc`` — ingest WARC, curate, deliver WET.

    Executors write shards directly into ``path`` (local dir here;
    any mounted filesystem — NFS, object-store FUSE — on a cluster:
    the writer is plain ``open()``, not a Hadoop client). Returns the
    per-shard manifest (shard path, records, bytes) — an action on it
    performs the write. Missing url/ts columns fall back to a blank
    URI / ``default_ts`` (fixed, deterministic — no wall clock).
    Records gzip member-per-record, the layout ``read_warc`` parses
    back; text lands UTF-8."""
    import gzip as gz
    import os

    os.makedirs(path, exist_ok=True)
    cols = [text_col]
    if url_col:
        cols.append(url_col)
    if ts_col:
        cols.append(ts_col)
    src = docs.select(*cols).filter(F.col(text_col).isNotNull())
    ext = ".warc.gz" if compress else ".warc"

    def write_shard(idx, rows):
        shard = os.path.join(path, f"part-{idx:05d}{ext}")
        n = 0
        nbytes = 0
        f = None
        try:
            for r in rows:
                url = getattr(r, url_col) if url_col else ""
                ts = getattr(r, ts_col) if ts_col else None
                if ts is not None:
                    if ts.tzinfo is not None:  # mirror _parse_warc_ts
                        ts = ts.astimezone(dt.timezone.utc).replace(
                            tzinfo=None
                        )
                    ts = ts.isoformat() + "Z"
                else:
                    ts = default_ts
                rec = warc_record_bytes(
                    url or "",
                    ts,
                    getattr(r, text_col).encode("utf-8"),
                    warc_type="conversion",
                )
                if compress:
                    rec = gz.compress(rec)
                if f is None:  # empty partitions write no shard
                    f = open(shard, "wb")
                f.write(rec)
                n += 1
                nbytes += len(rec)
        finally:
            if f is not None:
                f.close()
        return iter([(shard, n, nbytes)] if n else ())

    spark = docs.sparkSession
    manifest = src.rdd.mapPartitionsWithIndex(write_shard)
    return spark.createDataFrame(
        manifest, "shard string, records long, bytes long"
    )


def warc_to_pages(warc: DataFrame) -> DataFrame:
    """2xx response records → the pages landing schema. ``text`` lands
    NULL (extraction fills it downstream — build_index coalesces its
    own extraction first, and a NULL fallback keeps the storability
    filter's drop semantics for unextractable pages); ``lang`` lands
    '' until language ID runs."""
    return (
        warc.filter(
            (F.col("warc_type") == "response")
            & F.col("url").isNotNull()
            & F.col("warc_ts").isNotNull()
            & F.col("http_status").between(200, 299)
        )
        .select(
            "url",
            "warc_ts",
            F.col("body").alias("html"),
            F.lit(None).cast("string").alias("text"),
            F.lit("").alias("lang"),
        )
    )
