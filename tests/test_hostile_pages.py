"""Hostile pages end to end: the Spark extraction stage
(operators.extract.extract_triples) gives, per url, exactly the rows
that core.pipeline.page_to_triples gives for the page on its own —
triples, marker rows, ``status`` and ``canon_hash`` alike. One poison
page must only flag its own url, whatever batch it lands in."""

import json

from hypothesis import given, settings, strategies as st

from racket_linkeddata_spark.core.pipeline import page_to_triples
from racket_linkeddata_spark.operators.extract import extract_triples

_TEXT = st.text(alphabet=st.sampled_from("ab é\x0b\t\n\"\\<>&\u2028"),
                max_size=8)


def _html(payload, head=""):
    return (f'<html><head>{head}<script type="application/ld+json">'
            f'{payload}</script></head><body>t</body></html>')


@st.composite
def _doc(draw):
    """A small valid document; its strings may carry a vertical tab."""
    return {"@id": "http://e/s" + draw(st.sampled_from(["", "\x0b", "#a"])),
            "http://e/name": draw(_TEXT),
            "http://e/tag": {"@value": draw(_TEXT), "@language": "en"}}


@st.composite
def _invalid_utf8(draw):
    page = _html(json.dumps(draw(_doc()))).encode("utf-8")
    bad = draw(st.sampled_from([b"\xff", b"\xc3\x28", b"\xed\xa0\x80",
                                b"\xf4\x90\x80\x80", b"\xe2\x82", b"\x80"]))
    at = draw(st.integers(0, len(page)))
    return page[:at] + bad + page[at:]


@st.composite
def _utf16_without_bom(draw):
    return _html(json.dumps(draw(_doc()), ensure_ascii=False)).encode(
        draw(st.sampled_from(["utf-16-le", "utf-16-be"])))


@st.composite
def _charset_label(draw):
    # Python's 'undefined' codec raises even with errors='replace'; the
    # bytes-to-bytes codecs (rot13, base64, hex, zlib) are no text
    # encodings at all
    label = draw(st.sampled_from(
        ["undefined", "rot13", "base64", "hex", "zlib", "utf-7", "utf-16",
         "latin-1", "x-bogus", "", "utf8"]))
    page = _html(json.dumps(draw(_doc()), ensure_ascii=False),
                 f'<meta charset="{label}">')
    return page.encode("latin-1" if label == "latin-1" else "utf-8",
                       "replace")


@st.composite
def _deep(draw):
    # shallow enough for any caller's stack, or far past Python's
    # recursion limit: within a few frames of the limit the verdict
    # depends on how deep the caller already is
    depth = draw(st.one_of(st.integers(1, 60), st.integers(3000, 5000)))
    shape = draw(st.sampled_from(["array", "node", "list"]))
    leaf = '"x"'
    if shape == "array":
        value = "[" * depth + leaf + "]" * depth
    elif shape == "node":
        value = '{"http://e/p": ' * depth + leaf + "}" * depth
    else:
        value = '{"@list": [' * depth + leaf + "]}" * depth
    return _html('{"@id": "http://e/s", "http://e/p": ' + value + "}")


@st.composite
def _list_of_lists(draw):
    inner = draw(st.sampled_from(
        ['{"@list": ["x"]}', '["x", "y"]', '{"@list": []}']))
    return _html('{"@id": "http://e/s", "http://e/p": {"@list": ['
                 + inner + "]}}")


@st.composite
def _clique(draw):
    # 6 blank nodes fit the default permutation budget; 7 run past it
    n = draw(st.sampled_from([6, 7]))
    nodes = [{"@id": f"_:n{i}",
              "http://e/p": [{"@id": f"_:n{j}"} for j in range(n) if j != i]}
             for i in range(n)]
    return _html(json.dumps({"@graph": nodes}))


_PAGES = st.one_of(
    _doc().map(lambda d: _html(json.dumps(d))),
    _invalid_utf8(), _utf16_without_bom(), _charset_label(), _deep(),
    _list_of_lists(), _clique(), st.none(),
    # a lone surrogate escape: valid JSON, no Unicode scalar value
    st.just(_html('{"@id": "http://e/s", "http://e/p": "\\ud800"}')),
).map(lambda p: p.encode("utf-8") if isinstance(p, str) else p)


@settings(max_examples=8, deadline=None, derandomize=True)
@given(st.lists(_PAGES, min_size=1, max_size=12))
def test_extract_triples_rows_equal_page_to_triples(spark, pages):
    urls = [f"https://hostile.example/{i}" for i in range(len(pages))]
    df = spark.createDataFrame(list(zip(urls, pages)),
                               "url string, html binary")
    got = {}
    for row in extract_triples(df).collect():
        got.setdefault(row.url, []).append(tuple(row))
    want = {}
    for url, html in zip(urls, pages):
        res = page_to_triples(url, html)
        want[url] = ([tuple(r) for r in res.rows]
                     or [(url,) + (None,) * 8 + (res.status,)])
    assert got == want
