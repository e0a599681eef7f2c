"""Cross-direction and broadcast-context integration tests."""

import json

import pytest

from racket_linkeddata_spark.core.context import JsonLdError
from racket_linkeddata_spark.core.expand import expand
from racket_linkeddata_spark.core.from_rdf import from_rdf
from racket_linkeddata_spark.core.to_rdf import to_rdf
from racket_linkeddata_spark.operators.extract import extract_triples, triples_only
from racket_linkeddata_spark.sources.pages import _jsonld_doc


def test_tordf_fromrdf_roundtrip_preserves_triples():
    """expanded -> quads -> JSON-LD -> quads is a fixpoint on triples."""
    for i in range(0, 60, 7):
        doc = _jsonld_doc(i)
        quads1 = to_rdf(doc, base="https://ex.org/")
        back = from_rdf(quads1)
        quads2 = to_rdf(back)
        # blank labels may differ; compare canonical forms
        from racket_linkeddata_spark.core.urdna2015 import canonical_nquads
        assert canonical_nquads(quads1) == canonical_nquads(quads2)


V = "http://schema.org/"
EXPAND_CASES = [
    # lists nested through node objects, three levels deep
    {"@context": {"@vocab": V,
                  "tags": {"@id": V + "tags", "@container": "@list"}},
     "@id": "http://ex.org/a",
     "tags": [{"name": "n1", "tags": ["p"]},
              {"@id": "http://ex.org/b",
               "tags": {"@list": ["q", {"tags": ["r"]}]}}]},
    # @reverse by keyword (a named and an anonymous node) and by term
    {"@context": {"@vocab": V}, "@id": "http://ex.org/a",
     "@reverse": {"knows": [{"@id": "http://ex.org/b"},
                            {"name": "anon"}]}},
    {"@context": {"@vocab": V, "isKnownBy": {"@reverse": V + "knows"}},
     "@id": "http://ex.org/a", "isKnownBy": {"@id": "http://ex.org/c"}},
    # a top-level @graph holding a named graph with a language value
    {"@context": {"@vocab": V},
     "@graph": [{"@id": "http://ex.org/a", "name": "A"},
                {"@id": "http://ex.org/g",
                 "@graph": {"@id": "http://ex.org/b",
                            "name": {"@value": "B", "@language": "fr"}}}]},
]


def test_expand_is_idempotent_on_expanded_output():
    """expand(expand(d)) == expand(d): expanded output is a fixpoint,
    over the synthetic page documents (every shape variant) and
    handmade nested-list, @reverse and @graph documents."""
    for doc in [_jsonld_doc(i) for i in range(100)] + EXPAND_CASES:
        once = expand(doc)
        assert once and expand(once) == once, doc


def test_expand_rejects_a_list_of_lists():
    """JSON-LD 1.0 has no list of lists: a @list directly inside a
    @list (by keyword or through a @list container) is an error."""
    for doc in ({"@context": {"@vocab": V}, "@id": "http://ex.org/a",
                 "tags": {"@list": [{"@list": ["x"]}, "y"]}},
                {"@context": {"m": {"@id": V + "m", "@container": "@list"}},
                 "@id": "http://ex.org/a", "m": [["x"], ["y"]]}):
        with pytest.raises(JsonLdError, match="list of lists"):
            expand(doc)


def test_node_map_input_not_mutated():
    """generate_node_map's consumed-input contract (documented in its
    docstring): the expanded input is never mutated, and re-running the
    node-map + toRDF chain over the SAME expanded doc yields identical
    results — so the by-reference value-object fast path is safe."""
    import copy

    from racket_linkeddata_spark.core.node_map import build_node_map
    from racket_linkeddata_spark.core.urdna2015 import canonical_nquads

    for i in range(0, 40, 7):
        expanded = expand(_jsonld_doc(i))
        snapshot = copy.deepcopy(expanded)
        nm1, _ = build_node_map(expanded)
        assert expanded == snapshot, "node-map generation mutated input"
        nm2, _ = build_node_map(expanded)
        assert nm1 == nm2
        assert expanded == snapshot
        # full downstream chain twice over the same doc object
        assert canonical_nquads(to_rdf(_jsonld_doc(i))) \
            == canonical_nquads(to_rdf(_jsonld_doc(i)))


def test_extract_with_broadcast_remote_context(spark):
    """Pages whose JSON-LD uses a remote @context resolve through the
    broadcast pinned-url dict (no executor network I/O)."""
    ctx_url = "https://ctx.example.org/v1"
    contexts = {ctx_url: {"@context": {"name": "http://xmlns.com/foaf/0.1/name"}}}
    doc = {"@context": ctx_url, "@id": "https://ex.org/p1", "name": "Ada"}
    html = ('<html><head><script type="application/ld+json">'
            + json.dumps(doc) +
            "</script></head><body>b</body></html>").encode()
    pages = spark.createDataFrame([("https://ex.org/page", html)],
                                  "url string, html binary")
    bc = spark.sparkContext.broadcast(contexts)
    rows = triples_only(extract_triples(pages, contexts_broadcast=bc)).collect()
    assert len(rows) == 1
    assert rows[0].pred == "http://xmlns.com/foaf/0.1/name"
    assert rows[0].obj_value == "Ada"

    # without the broadcast the page is flagged, never silently dropped
    flagged = extract_triples(pages).collect()
    assert flagged[0].status == "error:loading remote context failed"


def test_prefetch_contexts_policy():
    import pytest

    from racket_linkeddata_spark.sources.contexts import prefetch_contexts

    pinned = {"https://a.example/ctx": {"@context": {"x": "http://x/"}}}
    got = prefetch_contexts(["https://a.example/ctx"], pinned=pinned)
    assert got == pinned
    # unknown url + no fetch: hard error (reference's no-network mode)
    with pytest.raises(KeyError):
        prefetch_contexts(["https://b.example/ctx"], pinned=pinned)
    # fetch path validates shape
    got = prefetch_contexts(
        ["https://b.example/ctx"], pinned=pinned,
        fetch=lambda u: {"@context": {"y": "http://y/"}})
    assert "https://b.example/ctx" in got
