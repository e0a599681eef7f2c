"""WARC source: parse semantics + end-to-end parity (KG built from a
WARC directory == KG built from the same pages directly)."""

import datetime
import gzip

from pyspark.sql import functions as F

from racket_linkeddata_spark.core.pipeline import extract_text
from racket_linkeddata_spark.sources.pages import synth_page
from racket_linkeddata_spark.sources.warc import (
    parse_warc,
    read_warc,
    read_warc_log,
    write_warc,
)

UTC = datetime.timezone.utc


def _mk_records(n, start=0):
    recs = []
    for i in range(start, start + n):
        url, ts, html, _, _ = synth_page(i)
        recs.append((url, ts.replace(microsecond=0, tzinfo=UTC), html))
    return recs


def test_parse_roundtrip_plain_and_gzip(tmp_path):
    recs = _mk_records(7)
    for compress, name in ((False, "a.warc"), (True, "a.warc.gz")):
        p = str(tmp_path / name)
        write_warc(recs, p, compress=compress)
        got, err = parse_warc(open(p, "rb").read())
        assert err is None
        assert [(u, t) for u, t, _ in got] == [(u, t) for u, t, _ in recs]
        assert [h for _, _, h in got] == [h for _, _, h in recs]


def test_parse_skips_non_response_records():
    info = (b"WARC/1.0\r\nWARC-Type: warcinfo\r\n"
            b"Content-Length: 4\r\n\r\nxxxx\r\n\r\n")
    req = (b"WARC/1.0\r\nWARC-Type: request\r\n"
           b"WARC-Target-URI: https://e/x\r\n"
           b"Content-Length: 2\r\n\r\nhi\r\n\r\n")
    resp = (b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: https://e/p\r\n"
            b"WARC-Date: 2024-01-02T03:04:05Z\r\n"
            b"Content-Type: application/http; msgtype=response\r\n"
            b"Content-Length: 47\r\n\r\n"
            b"HTTP/1.1 200 OK\r\nContent-Length: 9\r\n\r\n<html></h"
            b"\r\n\r\n")
    got, err = parse_warc(info + req + resp)
    assert err is None
    assert got == [("https://e/p",
                    datetime.datetime(2024, 1, 2, 3, 4, 5, tzinfo=UTC),
                    b"<html></h")]


def test_parse_negative_content_length_no_hang():
    """A negative Content-Length must error out, not rewind pos into an
    infinite loop (review r04: hung executor task, no exception)."""
    rec = (b"WARC/1.0\r\nWARC-Type: response\r\n"
           b"WARC-Target-URI: https://e/p\r\n"
           b"Content-Length: -84\r\n\r\n")
    got, err = parse_warc(rec)
    assert got == [] and "negative" in err


def test_parse_truncated_returns_prefix_and_error(tmp_path):
    p = str(tmp_path / "t.warc")
    write_warc(_mk_records(3), p)
    data = open(p, "rb").read()
    got, err = parse_warc(data[: len(data) - 40])
    assert err is not None and len(got) == 2


def test_read_warc_matches_direct_pages(spark, tmp_path):
    """build_kg over read_warc(dir) == build_kg over the synthesized
    pages themselves: same edges, and the text invariant holds."""
    from racket_linkeddata_spark.plans.kg import build_kg

    wdir = tmp_path / "warcs"
    wdir.mkdir()
    recs = _mk_records(40)
    write_warc(recs[:20], str(wdir / "part-0.warc"))
    write_warc(recs[20:], str(wdir / "part-1.warc.gz"), compress=True)

    pages = read_warc(spark, str(wdir))
    rows = pages.collect()
    assert len(rows) == 40
    by_url = {r.url: r for r in rows}
    for url, ts, html in recs:
        r = by_url[url]
        assert bytes(r.html) == html
        assert r.text == extract_text(html)  # invariant by construction
        # Spark returns session-local naive datetimes (session tz is
        # UTC in this container)
        assert r.warc_ts.replace(tzinfo=UTC) == ts

    key = ["subj", "pred", "obj_kind", "obj_value", "obj_dt",
           "obj_lang", "graph"]
    from_warc = {tuple(r[k] for k in key): r.n_sources
                 for r in build_kg(pages).edges.collect()}
    direct = spark.createDataFrame(
        [(u, t, h, extract_text(h), "") for u, t, h in recs],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string")
    want = {tuple(r[k] for k in key): r.n_sources
            for r in build_kg(direct).edges.collect()}
    assert from_warc == want


def test_read_warc_normalizes_charset(spark, tmp_path):
    """A utf-16 crawl record yields real text and triples, not
    mojibake: the reader normalizes page bytes to utf-8."""
    html = ('<html><head><script type="application/ld+json">'
            '{"@id": "https://e/p#s", "http://schema.org/name": "café"}'
            '</script></head><body>café body</body></html>')
    wdir = tmp_path / "warcs"
    wdir.mkdir()
    write_warc([("https://e/p",
                 datetime.datetime(2024, 1, 1, tzinfo=UTC),
                 html.encode("utf-16"))], str(wdir / "u16.warc"))
    row = read_warc(spark, str(wdir)).collect()[0]
    assert row.text == "café body"
    assert row.text == extract_text(bytes(row.html))


def test_parse_truncated_gzip_isolated():
    """ADVICE r04 (medium): a truncated .warc.gz raises EOFError (and
    corrupt deflate raises zlib.error) — neither is an OSError; the
    parser must flag the file, never kill the task."""
    rec = gzip.compress(
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://e/p\r\n"
        b"Content-Length: 2\r\n\r\nhi\r\n\r\n")
    truncated = rec[: len(rec) - 6]
    got, err = parse_warc(truncated)
    assert got == [] and err is not None and "gzip" in err
    corrupt = rec[:12] + bytes(b ^ 0xA5 for b in rec[12:-8]) + rec[-8:]
    got, err = parse_warc(corrupt)
    assert got == [] and err is not None and "gzip" in err


def test_read_warc_truncated_gzip_flags_file_only(spark, tmp_path):
    wdir = tmp_path / "warcs"
    wdir.mkdir()
    write_warc(_mk_records(5), str(wdir / "good.warc"))
    write_warc(_mk_records(3, start=100), str(wdir / "trunc.warc.gz"),
               compress=True)
    data = (wdir / "trunc.warc.gz").read_bytes()
    (wdir / "trunc.warc.gz").write_bytes(data[: len(data) - 10])
    assert read_warc(spark, str(wdir)).count() >= 5  # task survives
    errs = {r.warc_file.rsplit("/", 1)[-1]: r.warc_error
            for r in read_warc_log(spark, str(wdir))
            .select("warc_file", "warc_error").distinct().collect()}
    assert errs["good.warc"] is None
    assert errs["trunc.warc.gz"] is not None


def test_warc_meta_labeled_legacy_page_not_double_decoded(spark,
                                                          tmp_path):
    """ADVICE r04 (high): read_warc decodes once, page_to_triples
    decodes again — with a surviving <meta charset> label the second
    pass used to re-decode utf-8 as the legacy charset and corrupt
    every non-ASCII literal ('café' -> 'cafÃ©')."""
    from racket_linkeddata_spark.plans.kg import build_kg

    html = ('<html><head><meta charset="windows-1252">'
            '<script type="application/ld+json">'
            '{"@id": "https://e/p#s", "http://schema.org/name": "café"}'
            '</script></head><body>café body</body></html>')
    wdir = tmp_path / "warcs"
    wdir.mkdir()
    write_warc([("https://e/p",
                 datetime.datetime(2024, 1, 1, tzinfo=UTC),
                 html.encode("windows-1252"))], str(wdir / "l.warc"))
    pages = read_warc(spark, str(wdir))
    vals = [r.obj_value for r in build_kg(pages)
            .edges.select("obj_value").collect()]
    assert "café" in vals
    assert not any("cafÃ©" in (v or "") for v in vals)


def test_streaming_warc_ingest_matches_batch(spark, tmp_path):
    """Round-4 verdict #5: a growing crawl directory streams through
    run_ingest_kg(source='warc') into the same (snap,bucket) store as
    the batch path — merged read view == batch build over the same
    WARCs, and checkpoint resume processes only new archives."""
    from racket_linkeddata_spark.plans.kg import build_kg, read_edges
    from racket_linkeddata_spark.sources.warc import read_warc
    from racket_linkeddata_spark.streaming.ingest import run_ingest_kg

    wdir = tmp_path / "warcs"
    wdir.mkdir()
    out, ckpt = str(tmp_path / "kg"), str(tmp_path / "ckpt")
    key = ["subj", "pred", "obj_kind", "obj_value", "obj_dt",
           "obj_lang", "graph"]
    recs = _mk_records(30)
    write_warc(recs[:15], str(wdir / "crawl-0.warc"))
    write_warc(recs[15:], str(wdir / "crawl-1.warc.gz"), compress=True)

    q = run_ingest_kg(spark, str(wdir), out, ckpt, buckets=4,
                      source="warc")
    q.awaitTermination(180)

    def merged():
        return {tuple(r[k] for k in key): r.n_sources
                for r in read_edges(spark, out).collect()}

    def batch_want():
        return {tuple(r[k] for k in key): r.n_sources
                for r in build_kg(
                    read_warc(spark, str(wdir))).edges.collect()}

    assert merged() == batch_want()

    # a new archive arrives; resume drains ONLY it
    write_warc(_mk_records(10, start=200),
               str(wdir / "crawl-2.warc.gz"), compress=True)
    q2 = run_ingest_kg(spark, str(wdir), out, ckpt, buckets=4,
                       source="warc")
    q2.awaitTermination(180)
    assert merged() == batch_want()
    # three snapshots landed at most (one per micro-batch) and the
    # second run did not reprocess the first two archives' pages
    log = spark.read.parquet(f"{out}/page_log")
    assert log.select("url").distinct().count() == 40
    assert log.count() == 40


def test_read_warc_log_flags_bad_file(spark, tmp_path):
    wdir = tmp_path / "warcs"
    wdir.mkdir()
    write_warc(_mk_records(5), str(wdir / "good.warc"))
    (wdir / "bad.warc").write_bytes(b"NOT A WARC AT ALL")
    log = read_warc_log(spark, str(wdir))
    errs = {r.warc_file.rsplit("/", 1)[-1]: r.warc_error
            for r in log.select("warc_file", "warc_error")
            .distinct().collect()}
    assert errs["good.warc"] is None
    assert errs["bad.warc"] is not None
    # read_warc yields ONLY real page rows (the bad file's marker row
    # must not reach page_to_triples as (None, None)) — and the whole
    # KG build over the mixed directory succeeds
    from racket_linkeddata_spark.plans.kg import build_kg

    pages = read_warc(spark, str(wdir))
    assert pages.count() == 5
    assert build_kg(pages).edges.count() > 0


def test_parse_warc_never_raises_property():
    """parse_warc over arbitrary bytes (raw and gzip-wrapped) must
    always return (records, err) — crawl archives are hostile input and
    one bad file must never kill a task."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=250, deadline=None)
    @given(st.binary(max_size=4000))
    def go(data):
        records, err = parse_warc(data)
        assert isinstance(records, list)
        records, err = parse_warc(b"\x1f\x8b" + data)
        assert isinstance(records, list)
        records, err = parse_warc(gzip.compress(data)[:-4])
        assert isinstance(records, list)

    go()


def test_decode_html_never_raises_and_idempotent_property():
    from racket_linkeddata_spark.core.pipeline import decode_html

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=250, deadline=None)
    @given(st.binary(max_size=4000))
    def go(data):
        once = decode_html(data)
        assert isinstance(once, bytes)
        assert decode_html(once) == once

    go()
