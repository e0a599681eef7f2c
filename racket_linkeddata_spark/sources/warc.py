"""WARC source: read Common-Crawl-style WARC files into the pages table.

The north star's corpus is Common-Crawl-shaped, and Common Crawl
delivers pages as WARC (ISO 28500) files — this source turns a
directory of ``.warc`` / ``.warc.gz`` files into the engine's canonical
pages schema ``(url, warc_ts, html, text, lang)`` so the whole KG
pipeline (build_kg, streaming ingest, resume) runs unchanged on raw
crawl data. No reference counterpart (the reference never touches
html/WARC; SURVEY.md §2.1 front-end extension).

Execution model (the Common-Crawl granularity): a WARC file is never
split. ``spark.read.format("binaryFile")`` lists the files into splits
(small files packed about one split per slot), and an Arrow-batched
mapInPandas parses records per file — the standard way CC archives are
processed (a ~1 GB gzip member stream cannot be split mid-file anyway).
At 100 TB that is ~100k files, one task each: zero shuffle.

Parser contract (WARC 1.0/1.1):

- only ``WARC-Type: response`` records yield pages; request/metadata/
  warcinfo records are skipped;
- the HTTP response envelope is stripped (body = bytes after the first
  CRLFCRLF of an ``application/http`` payload); a bare payload
  (``Content-Type:`` not http, e.g. resource records) is taken whole;
- ``warc_ts`` comes from ``WARC-Date`` (ISO-8601, the spec mandates
  UTC); ``text`` is recovered with the pipeline's own extract_text so
  the per-row text invariant holds by construction; ``lang`` is left
  empty (a crawl supplies it downstream via text_langid);
- multi-member gzip (.warc.gz, one member per record — the CC layout)
  decompresses transparently: Python's gzip module consumes
  concatenated members;
- malformed records abort THEIR FILE's remaining bytes, never the task:
  the parser yields what it parsed and flags the file in the
  ``warc_error`` column of read_warc_log.
"""

from __future__ import annotations

import datetime
import gzip
import io
import zlib
from typing import Iterator, List, Optional, Tuple

_CRLF2 = b"\r\n\r\n"


def _parse_headers(block: bytes) -> dict:
    headers = {}
    for line in block.split(b"\r\n")[1:]:  # first line: WARC/1.x
        k, sep, v = line.partition(b":")
        if sep:
            headers[k.strip().lower().decode("latin-1")] = \
                v.strip().decode("latin-1")
    return headers


def _http_body(payload: bytes, content_type: str) -> bytes:
    if content_type.startswith("application/http"):
        i = payload.find(_CRLF2)
        if i >= 0:
            return payload[i + 4:]
    return payload


def parse_warc(data: bytes) -> Tuple[List[Tuple[str, Optional[
        datetime.datetime], bytes]], Optional[str]]:
    """(records, error): records are (url, warc_ts, html) from response
    records; error is a short message when the byte stream went bad
    (records parsed before the defect are still returned)."""
    if data[:2] == b"\x1f\x8b":
        # gzip.decompress raises OSError (BadGzipFile) for a bad
        # header, but EOFError for a TRUNCATED stream and zlib.error
        # for corrupt deflate data — neither is an OSError, and an
        # uncaught one would kill the whole mapInPandas task instead
        # of flagging just this file
        try:
            data = gzip.decompress(data)
        except (OSError, EOFError, zlib.error) as e:
            return [], f"gzip: {e}"
    out: List[Tuple[str, Optional[datetime.datetime], bytes]] = []
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record CRLFs
        while data.startswith(b"\r\n", pos):
            pos += 2
        if pos >= n:
            break
        if not data.startswith(b"WARC/", pos):
            return out, f"expected WARC/ at byte {pos}"
        hdr_end = data.find(_CRLF2, pos)
        if hdr_end < 0:
            return out, "unterminated record header"
        headers = _parse_headers(data[pos:hdr_end])
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            return out, "missing/invalid Content-Length"
        if length < 0:
            # a negative length would rewind pos — an infinite loop, a
            # hung executor task, and no exception for the envelope
            return out, "negative Content-Length"
        body_start = hdr_end + 4
        if body_start + length > n:
            return out, "truncated record payload"
        if headers.get("warc-type") == "response":
            url = headers.get("warc-target-uri", "")
            ts = None
            raw_ts = headers.get("warc-date", "")
            try:
                ts = datetime.datetime.fromisoformat(
                    raw_ts.replace("Z", "+00:00"))
            except ValueError:
                pass
            html = _http_body(data[body_start:body_start + length],
                              headers.get("content-type", ""))
            out.append((url, ts, html))
        pos = body_start + length
    return out, None


def read_warc(spark, path: str):
    """Directory (or glob) of .warc/.warc.gz files -> pages DataFrame
    ``(url, warc_ts, html, text, lang)``. A file is never split.

    Only real page rows: the all-null marker row a corrupt file leaves
    in read_warc_log is filtered here — it would otherwise reach
    page_to_triples as (None, None) and kill the extraction task."""
    from pyspark.sql import functions as F

    return (_read(spark, path)
            .filter(F.col("url").isNotNull())
            .drop("warc_file", "warc_error"))


def read_warc_log(spark, path: str):
    """Same parse, plus per-file provenance: ``warc_file`` and
    ``warc_error`` (null for clean files; one marker row per bad file
    even when zero records survived) — the lineage view of the crawl
    input."""
    return _read(spark, path)


def read_warc_stream(spark, path: str,
                     max_files_per_trigger: Optional[int] = None):
    """Structured-Streaming twin of read_warc: a binaryFile-source
    readStream over a GROWING crawl directory — new .warc/.warc.gz
    files become micro-batches (same unsplit-file granularity,
    same parser, same pages schema), so streaming/ingest.run_ingest_kg
    can land a live crawl into the same (snap,bucket) store as the
    batch path. File-source checkpointing makes it exactly-once per
    archive; marker rows of corrupt files are dropped like read_warc."""
    from pyspark.sql import functions as F

    reader = (spark.readStream.format("binaryFile")
              .schema("path string, modificationTime timestamp, "
                      "length long, content binary"))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return (pages_from_warc_files(reader.load(path))
            .filter(F.col("url").isNotNull())
            .drop("warc_file", "warc_error"))


def _read(spark, path: str):
    return pages_from_warc_files(
        spark.read.format("binaryFile").load(path))


def pages_from_warc_files(files):
    """binaryFile rows (path, content, ...) -> pages rows (+ per-file
    provenance columns). Works identically on batch and streaming
    DataFrames (mapInPandas is streaming-safe)."""
    import pandas as pd

    from ..core.pipeline import decode_html, extract_text

    def fn(batches) -> Iterator["pd.DataFrame"]:
        cols = ["url", "warc_ts", "html", "text", "lang",
                "warc_file", "warc_error"]
        for pdf in batches:
            rows = []
            for fname, blob in zip(pdf["path"].tolist(),
                                   pdf["content"].tolist()):
                records, err = parse_warc(bytes(blob))
                for url, ts, html in records:
                    # reader policy: page bytes are charset-normalized
                    # to utf-8 (utf-8 pages pass through untouched), so
                    # the text column is real text — not mojibake — for
                    # utf-16/legacy-charset crawl records, and the
                    # text == extract_text(html) invariant holds by
                    # construction for every stored row
                    html = decode_html(html)
                    rows.append((url, ts, html,
                                 extract_text(html), "", fname, err))
                if err is not None and not records:
                    rows.append((None, None, None, None, None,
                                 fname, err))
            if rows:
                yield pd.DataFrame(dict(zip(cols, zip(*rows))))
            else:
                yield pd.DataFrame({c: [] for c in cols})

    return (files.select("path", "content").mapInPandas(
        fn, schema="url string, warc_ts timestamp, html binary, "
                   "text string, lang string, warc_file string, "
                   "warc_error string"))


# --- test/fixture support: write a WARC from pages rows ------------------

def write_warc(records, path: str, compress: bool = False) -> None:
    """Write (url, warc_ts, html) tuples as a WARC file with HTTP
    response envelopes (per-record gzip members when ``compress`` —
    the Common-Crawl layout)."""
    out = io.BytesIO()
    for url, ts, html in records:
        http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                b"Content-Length: " + str(len(html)).encode() +
                b"\r\n\r\n" + html)
        ts_s = (ts or datetime.datetime(2024, 1, 1,
                                        tzinfo=datetime.timezone.utc))
        header = (
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            b"WARC-Target-URI: " + url.encode() + b"\r\n"
            b"WARC-Date: " +
            ts_s.strftime("%Y-%m-%dT%H:%M:%SZ").encode() + b"\r\n"
            b"Content-Type: application/http; msgtype=response\r\n"
            b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n")
        record = header + http + b"\r\n\r\n"
        out.write(gzip.compress(record) if compress else record)
    with open(path, "wb") as f:
        f.write(out.getvalue())
