"""Deterministic Common-Crawl-style pages table synthesis (FIXTURES.md §1).

Schema per BASELINE.json input_hint:
    url:string, warc_ts:timestamp, html:binary, text:string, lang:string

Properties engineered in:
- seed-deterministic per doc_id (no RNG state across rows) — the same
  doc_id always yields byte-identical html/text on any executor;
- one mega-domain owns ~30% of urls (exercises skew salting);
- some pages have 0 or 2 JSON-LD script blocks, some malformed JSON;
- JSON-LD payloads cover nested bnodes, rdf lists, typed/language
  literals, named graphs, reverse properties and shared bnodes, so the
  per-document canonicalization path is fully exercised;
- the ``text`` column is byte-identical to what extract_text(html)
  recovers (the per-row invariant).
"""

from __future__ import annotations

import datetime
import json
from typing import Tuple

EPOCH = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
LANGS = ("en", "de", "fr", "ja")
N_DOMAINS = 50
VOCAB = "http://schema.example.org/"


def _url(doc_id: int) -> str:
    # mega-domain d0 owns ~30% of pages -> deliberate key skew
    domain = 0 if doc_id % 10 < 3 else 1 + (doc_id * 2654435761 % (N_DOMAINS - 1))
    return f"https://d{domain}.example.org/page/{doc_id}"


def _jsonld_doc(doc_id: int) -> dict:
    """Deterministic JSON-LD payload; shape varies with doc_id so the whole
    expansion/toRDF/c14n surface gets traffic."""
    person = f"https://d0.example.org/person/{doc_id % 1000}"
    variant = doc_id % 5
    doc = {
        "@context": {
            "@vocab": VOCAB,
            "name": {"@id": VOCAB + "name", "@language": "en"},
            "knows": {"@id": VOCAB + "knows", "@type": "@id"},
            "tags": {"@id": VOCAB + "tags", "@container": "@list"},
            "score": {"@id": VOCAB + "score",
                      "@type": "http://www.w3.org/2001/XMLSchema#double"},
        },
        "@id": person,
        "@type": "Person",
        "name": f"Person {doc_id}",
        "score": (doc_id % 97) / 4.0,
        "age": doc_id % 90,
        "verified": doc_id % 2 == 0,
        "tags": [f"t{doc_id % 7}", f"t{(doc_id + 1) % 7}"],
        "knows": f"https://d0.example.org/person/{(doc_id + 1) % 1000}",
    }
    if variant == 1:
        # anonymous nested node (blank node) + shared bnode structure
        doc["address"] = {"street": f"{doc_id} Main St",
                          "city": {"name": f"City {doc_id % 20}"}}
    elif variant == 2:
        # bnode cycle: two anonymous nodes referencing each other via ids
        doc["partner"] = {"@id": "_:p", "name": f"Partner {doc_id}",
                          "knows": person}
    elif variant == 3:
        # named graph + language map
        doc["claims"] = {"@id": f"{person}/graph",
                         "@graph": [{"@id": person,
                                     "label": {"@value": f"Label {doc_id}",
                                               "@language": "de"}}]}
    elif variant == 4:
        doc["@reverse"] = {"knows": {"@id": person + "/follower"}}
    return doc


def synth_page(doc_id: int) -> Tuple[str, datetime.datetime, bytes, str, str]:
    url = _url(doc_id)
    ts = EPOCH + datetime.timedelta(seconds=doc_id)
    text = (f"Deterministic page body {doc_id}: "
            + " ".join(f"w{(doc_id * 31 + k) % 1009}" for k in range(40)))
    lang = LANGS[doc_id % len(LANGS)]

    kind = doc_id % 17
    if kind == 13:
        scripts = []  # no JSON-LD at all
    elif kind == 14:
        scripts = ['{"@id": "broken", ']  # malformed JSON
    elif kind == 15:
        scripts = [json.dumps(_jsonld_doc(doc_id)),
                   json.dumps(_jsonld_doc(doc_id + 100000))]  # two blocks
    else:
        scripts = [json.dumps(_jsonld_doc(doc_id))]

    blocks = "".join(
        f'<script type="application/ld+json">{s}</script>' for s in scripts)
    html = (f"<html><head><title>p{doc_id}</title>{blocks}</head>"
            f"<body>{text}</body></html>").encode("utf-8")
    return url, ts, html, text, lang


PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")


def synthesize_pages(spark, n_docs: int, partitions: int = 32):
    """Distributed deterministic synthesis: spark.range -> mapInPandas."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            rows = [synth_page(int(i)) for i in pdf["id"]]
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"])

    return (spark.range(0, n_docs, numPartitions=partitions)
            .mapInPandas(gen, schema=PAGES_SCHEMA))
