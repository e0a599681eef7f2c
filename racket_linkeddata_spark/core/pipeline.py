"""Per-document KG-construction pipeline: html -> JSON-LD -> canonical triples.

This is the pure-Python hot path that runs inside Arrow-batched pandas UDFs
(one call per document; the batch loop lives in operators/extract.py). It is
the Spark-side realization of the reference composition
json-ld->urdna2015-nquads-string (json-ld.rkt:2707-2712), with an added
html extraction front end (the north rule's <script type="application/ld+json">
step — not in the reference, SURVEY.md §2.1).
"""

from __future__ import annotations

import hashlib
import json
import re
from typing import Any, Dict, List, NamedTuple, Optional, Tuple

from .context import JsonLdError
from .terms import Quad, obj_columns
from .to_rdf import to_rdf
from .urdna2015 import (
    CanonicalizationBudgetExceeded,
    canonize_quads_with_lines,
)

_SCRIPT_RE = re.compile(
    rb'<script[^>]*type\s*=\s*["\']application/ld\+json["\'][^>]*>(.*?)</script>',
    re.DOTALL | re.IGNORECASE,
)
_BODY_RE = re.compile(rb"<body[^>]*>(.*)</body>", re.DOTALL | re.IGNORECASE)

# fast gates: the full html.parser passes only run when a trigger
# attribute appears at all — single C-speed byte scans, so pages without
# RDFa/microdata pay ~nothing for the extra extractors. False positives
# (the words in text) just cost one lenient parse.
_RDFA_HINT_RE = re.compile(rb"(?:property|typeof|vocab)\s*=", re.IGNORECASE)
_MICRODATA_HINT_RE = re.compile(rb"itemscope", re.IGNORECASE)

# charset sniff: anchored on a <meta ...> tag (like browsers' prescan)
# so a form accept-charset, a comment, or 'charset=' text inside a
# JSON-LD payload can never trigger a transcode; matches both
# <meta charset="x"> and <meta http-equiv=... content="...; charset=x">
_CHARSET_RE = re.compile(
    rb"""<meta[^>]{0,256}?charset\s*=\s*["']?([A-Za-z0-9_\-]+)""",
    re.IGNORECASE)
# pass-through labels: utf-8 family, and (per WHATWG) utf-16/32 labels
# — a page whose <meta> is byte-readable cannot actually BE utf-16
# (real utf-16 was caught by the BOM/NUL branches above), so trusting
# the label would garble a mislabeled utf-8 page
_UTF8_NAMES = frozenset((
    "utf-8", "utf8", "ascii", "us-ascii",
    "utf-16", "utf16", "utf-16le", "utf-16be",
    "utf-32", "utf32", "utf-32le", "utf-32be", "unicode",
))


def decode_html(html: bytes) -> bytes:
    """Normalize page bytes to utf-8 for the extractors (real crawls are
    not all utf-8; a utf-16 or legacy-charset page would otherwise
    extract garbage). BOM > NUL-pattern (BOM-less utf-16) > <meta>
    charset within the first 2 KB; ascii-compatible/utf-8 pages — the
    overwhelming majority — pass through UNCHANGED (three startswith
    checks + one bounded regex search, no copy). NEVER raises: a bogus
    charset label (including Python's booby-trapped 'undefined' codec)
    falls through to the bytes as-is."""
    if html.startswith(b"\xef\xbb\xbf"):
        return html[3:]
    if html.startswith((b"\xff\xfe", b"\xfe\xff")):
        return html.decode("utf-16", "replace").encode("utf-8")
    if html.startswith(b"<\x00"):
        return html.decode("utf-16-le", "replace").encode("utf-8")
    if html.startswith(b"\x00<"):
        return html.decode("utf-16-be", "replace").encode("utf-8")
    m = _CHARSET_RE.search(html, 0, 2048)
    if m:
        enc = m.group(1).decode("latin-1").lower()
        if enc not in _UTF8_NAMES:
            # Idempotence guard: the <meta> label SURVIVES a transcode,
            # so a second decode_html pass (WARC reader, then
            # page_to_triples inside the same job) would re-decode the
            # now-utf-8 bytes as the legacy charset ('café'->'cafÃ©').
            # Bytes that already decode STRICTLY as utf-8 are either
            # pure ASCII (for which every ascii-compatible legacy
            # transcode is the identity anyway) or an earlier pass's
            # output — skip the label. Genuine legacy-encoded non-ASCII
            # pages are essentially never valid utf-8.
            # KNOWN BOUND (accepted tradeoff, see
            # tests/test_charset.py::test_idempotence_bound): a
            # legacy-labeled page whose non-ASCII bytes HAPPEN to form
            # valid multi-byte utf-8 (e.g. windows-1252 'cafÃ©' =
            # bytes C3 A9) is read as utf-8 ('café'), diverging from
            # strict WHATWG label-honoring. In practice those bytes are
            # mojibake from exactly this mislabeling, so utf-8 is the
            # better read — and the alternative (honor the label) makes
            # decode_html non-idempotent, which corrupts every
            # WARC->page_to_triples double-decode path.
            try:
                html.decode("utf-8")
                return html
            except UnicodeDecodeError:
                pass
            try:
                return html.decode(enc, "replace").encode("utf-8")
            except (LookupError, UnicodeError, ValueError):
                pass  # unknown/hostile label: fall through as-is
    return html


def extract_jsonld_scripts(html: bytes) -> List[str]:
    """Pull embedded JSON-LD script payloads out of an html page."""
    return [m.decode("utf-8", "replace") for m in _SCRIPT_RE.findall(html)]


def extract_text(html: bytes) -> str:
    """Extract the page text (body content). The per-row invariant is that
    this is byte-identical to the pages table's ``text`` column per url."""
    m = _BODY_RE.search(html)
    return (m.group(1) if m else b"").decode("utf-8", "replace")


class DocResult(NamedTuple):
    rows: List[Tuple]          # flat triple rows (SURVEY.md §1.1 schema)
    n_triples: int
    canon_hash: Optional[str]  # sha256 of canonical N-Quads (lineage column)
    status: str                # ok | empty | error:<code>


def page_to_triples(
    url: str,
    html: bytes,
    remote_contexts: Optional[Dict[str, Any]] = None,
    max_permutation_steps: int = 200_000,
) -> DocResult:
    """One page -> canonical triple rows (URDNA2015).

    All graph-level recursion and blank-node sorting stays inside this
    per-document call (north rule confinement); blank labels are
    ``_:c14n<N>``, deterministic for the document in isolation.
    ``max_permutation_steps`` is the safety bound on URDNA2015's
    permutation search: a page past it (a large bnode clique) is
    flagged ``error:canonicalization-budget`` instead of pinning a core.
    """
    quads: List[Quad] = []
    status = "ok"
    try:
        # inside the envelope: one hostile page (e.g. a booby-trapped
        # charset label) must only fail its own row
        html = decode_html(html)
        scripts = extract_jsonld_scripts(html)
        for script in scripts:
            try:
                doc = json.loads(script)
            except ValueError:
                status = "error:invalid-json"
                continue
            quads.extend(
                to_rdf(doc, base=url, remote_contexts=remote_contexts))
        # second/third extractors, same triples schema: RDFa-Lite
        # attributes (north star names both formats) and schema.org
        # microdata (the third embedded format on real web pages).
        # Each gated on a byte scan so pages without it skip the html
        # parse entirely; all formats' quads canonicalize TOGETHER per
        # document.
        if _RDFA_HINT_RE.search(html):
            from .rdfa import extract_rdfa
            quads.extend(extract_rdfa(html, url))
        if _MICRODATA_HINT_RE.search(html):
            from .microdata import extract_microdata
            quads.extend(extract_microdata(html, url))
        canon = (canonize_quads_with_lines(quads, max_permutation_steps)
                 if quads else [])
    except JsonLdError as e:
        return DocResult([], 0, None, f"error:{e.code}")
    except CanonicalizationBudgetExceeded:
        return DocResult([], 0, None, "error:canonicalization-budget")
    except RecursionError:
        return DocResult([], 0, None, "error:recursion-limit")
    except Exception as e:  # noqa: BLE001 — one hostile page must never
        # kill an executor task at corpus scale; the url is flagged in the
        # page log for offline triage instead
        return DocResult([], 0, None,
                         f"error:internal:{type(e).__name__}")

    if not canon:
        return DocResult([], 0, None,
                         status if status != "ok" else "empty")

    # per-document set semantics (the reference's dataset dedup,
    # n-quads.rkt:336-351): identical statements collapse here so the
    # cluster-level dedup can use a plain count instead of count_distinct
    seen = set()
    digest_parts = []
    uniq = []
    for line, q in canon:
        if line not in seen:
            seen.add(line)
            digest_parts.append(line)
            uniq.append(q)
    try:
        digest = hashlib.sha256(
            "\n".join(digest_parts).encode("utf-8") + b"\n").hexdigest()
    except UnicodeEncodeError:
        # a lone surrogate (JSON "\ud800") is no Unicode scalar value:
        # no RDF term, and no Arrow string could carry its row
        return DocResult([], 0, None, "error:lone-surrogate")

    rows = []
    for q in uniq:
        kind, value, dt, lang = obj_columns(q.obj)
        rows.append((url, q.subj, q.pred, kind, value, dt, lang, q.graph,
                     digest, status))
    return DocResult(rows, len(rows), digest, status)


# Spark-facing row schema (kept in one place; operators import this)
TRIPLE_COLUMNS = [
    "url", "subj", "pred", "obj_kind", "obj_value", "obj_dt", "obj_lang",
    "graph", "canon_hash", "status",
]
