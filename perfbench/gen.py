"""Seeded input generators for the benchmark workloads.

The benchmark owns its inputs: nothing here calls into the program, so a
change to the program cannot change what it is measured on. Each
generator is a pure function of (seed, size) and writes parquet with
pyarrow, so the same seed gives byte-identical files.

Inputs are cached under ``<work>/inputs/<key>`` where the key names the
workload, seed, size and GEN_VERSION. A set is built in a temporary
directory and renamed into place only when complete, so a failed or
interrupted generation never leaves a half-written input behind (an
empty parquet directory makes Spark fail with UNABLE_TO_INFER_SCHEMA).
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import random
import shutil
from typing import Callable, Dict, List

import pyarrow as pa
import pyarrow.parquet as pq

# bump whenever a generator's output changes: it is part of the cache key
GEN_VERSION = 3

# a production scan reads many files; 16 keeps >= 2 files per core up to
# 8 cores and is fixed so the file layout does not depend on the host
PAGE_FILES = 16

EPOCH = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
VOCAB = "http://schema.example.org/"
PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())])
DOCS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64())])
LANGS = ("en", "de", "fr", "ja")


def _rng(seed: int, *salt) -> random.Random:
    h = hashlib.sha256(repr((seed,) + salt).encode()).digest()
    return random.Random(int.from_bytes(h[:8], "big"))


def _page_row(url: str, i: int, scripts: List[str], rng: random.Random):
    text = " ".join(f"w{rng.randrange(1009)}" for _ in range(30))
    blocks = "".join(
        f'<script type="application/ld+json">{s}</script>' for s in scripts)
    html = (f"<html><head><title>p{i}</title>{blocks}</head>"
            f"<body>{text}</body></html>").encode("utf-8")
    return (url, EPOCH + datetime.timedelta(seconds=i), html, text,
            LANGS[i % len(LANGS)])


def _write_pages(rows: List[tuple], path: str) -> None:
    cols = list(zip(*rows)) if rows else [[] for _ in PAGES_SCHEMA]
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, PAGES_SCHEMA)],
        schema=PAGES_SCHEMA)
    pq.write_table(table, path, compression="snappy")


def _split_write(rows: List[tuple], dirpath: str, n_files: int) -> None:
    os.makedirs(dirpath)
    step = -(-len(rows) // n_files)
    for k in range(n_files):
        _write_pages(rows[k * step:(k + 1) * step],
                     os.path.join(dirpath, f"part-{k:03d}.parquet"))


# --------------------------------------------------------------- complex

def _complex_doc(i: int, rng: random.Random) -> dict:
    """One JSON-LD payload in the shape of the program's own synthetic
    pages: typed and language literals, an @list, and one of nested
    bnodes, a bnode cycle, a named graph or a @reverse property."""
    dom = 0 if rng.random() < 0.3 else rng.randrange(1, 50)
    person = f"https://d{dom}.example.org/person/{rng.randrange(5000)}"
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
        "@type": rng.choice(("Person", "Organization", "Product")),
        "name": f"Entity {i}",
        "score": rng.randrange(400) / 4.0,
        "age": rng.randrange(90),
        "verified": rng.random() < 0.5,
        "tags": [f"t{rng.randrange(7)}" for _ in range(rng.randrange(1, 5))],
        "knows": f"https://d0.example.org/person/{rng.randrange(5000)}",
    }
    variant = rng.randrange(5)
    if variant == 1:
        # nested anonymous nodes, 1-3 deep
        node = {"name": f"City {rng.randrange(20)}"}
        for depth in range(rng.randrange(1, 4)):
            node = {"street": f"{i} Main St {depth}", "city": node}
        doc["address"] = node
    elif variant == 2:
        # bnode cycle through explicit blank node ids
        doc["partner"] = {"@id": "_:p", "name": f"Partner {i}",
                          "knows": {"@id": "_:q", "name": f"Q {i}",
                                    "knows": "_:p"}}
    elif variant == 3:
        # named graph with a language-tagged value
        doc["claims"] = {"@id": f"{person}/graph",
                         "@graph": [{"@id": person,
                                     "label": {"@value": f"Label {i}",
                                               "@language": "de"}}]}
    elif variant == 4:
        doc["@reverse"] = {"knows": {"@id": person + "/follower"}}
    return doc


def complex_pages(seed: int, n: int, out: str) -> Dict:
    """A crawl of ``n`` complex pages in PAGE_FILES files, and a one-file
    recrawl ``slice`` of n/4 pages of which a third revisit urls of the
    crawl (a resume run skips those). One page in 17 has no JSON-LD or a
    malformed block; one in 17 has two blocks."""
    rng = _rng(seed, "complex")

    def page(i: int):
        kind = rng.randrange(17)
        if kind == 0:
            scripts = [] if rng.random() < 0.5 else ['{"@id": "broken", ']
        elif kind == 1:
            scripts = [json.dumps(_complex_doc(i, rng)),
                       json.dumps(_complex_doc(i, rng))]
        else:
            scripts = [json.dumps(_complex_doc(i, rng))]
        return _page_row(f"https://c{i % 97}.example.org/page/{i}", i,
                         scripts, rng)

    rows = [page(i) for i in range(n)]
    _split_write(rows, os.path.join(out, "pages"), PAGE_FILES)
    slice_n = max(3, n // 4)
    recrawl = [page(i) for i in rng.sample(range(n), slice_n // 3)]
    recrawl += [page(n + j) for j in range(slice_n - len(recrawl))]
    rng.shuffle(recrawl)
    _split_write(recrawl, os.path.join(out, "slice"), 1)
    return {"pages": n, "slice_pages": slice_n,
            "html_bytes": sum(len(r[2]) for r in rows + recrawl)}


# ---------------------------------------------------------------- curation

WORDS = ("the", "a", "fast", "slow", "key", "order", "sort", "table", "scan",
         "merge", "part", "window", "small", "big", "hash", "join", "batch",
         "stream", "spark", "group", "query", "row", "data", "filter",
         "customer", "line", "value", "agg", "column", "vector")
DOC_LANGS = ("en", "en", "en", "en", "zh", "es", "fr", "de")
N_SOURCES = 20


def curation_docs(seed: int, n: int, out: str) -> Dict:
    """A documents table in the shape of the program's sf0.1 documents
    (doc_id, text, lang, source, n_chars; 20 sources; short texts over a
    small vocabulary) with planted exact duplicates, near duplicates,
    low-quality texts and benchmark contamination (8-word windows of
    docs 0-19, the planted benchmark set). A duplicate copies an original
    text, never another duplicate: chains of near duplicates would make
    the connected-components rounds of the dedup, and so the work, vary
    from seed to seed."""
    rng = _rng(seed, "curation")
    texts: List[str] = []
    originals: List[int] = []
    for i in range(n):
        r = rng.random()
        if i >= 40 and r < 0.03:
            t = texts[rng.choice(originals)]                  # exact dup
        elif i >= 40 and r < 0.07:
            w = texts[rng.choice(originals)].split()          # near dup
            if len(w) >= 20:
                w[rng.randrange(len(w))] = rng.choice(WORDS)
            t = " ".join(w)
        elif i >= 40 and r < 0.08:
            src = texts[rng.randrange(20)].split()            # contaminated
            j = rng.randrange(max(1, len(src) - 8))
            own = [rng.choice(WORDS) for _ in range(rng.randrange(10, 40))]
            t = " ".join(own + src[j:j + 8])
        elif r < 0.11:
            t = " ".join(rng.choice(WORDS)
                         for _ in range(rng.randrange(1, 5)))  # too short
        elif r < 0.12:
            t = " ".join(["#"] * rng.randrange(10, 30) + ["the", "data"])
        else:
            t = " ".join(rng.choice(WORDS)
                         for _ in range(rng.randrange(8, 100)))
            if rng.random() < 0.1:
                t += " dup"
            originals.append(i)
        texts.append(t)
    table = pa.Table.from_arrays([
        pa.array(range(n), type=pa.int64()),
        pa.array(texts, type=pa.string()),
        pa.array([DOC_LANGS[rng.randrange(len(DOC_LANGS))]
                  for _ in range(n)], type=pa.string()),
        pa.array([f"src{i % N_SOURCES}" for i in range(n)],
                 type=pa.string()),
        pa.array([len(t) for t in texts], type=pa.int64()),
    ], schema=DOCS_SCHEMA)
    os.makedirs(os.path.join(out, "documents"))
    step = -(-n // PAGE_FILES)
    for k in range(PAGE_FILES):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(out, "documents",
                                    f"part-{k:03d}.parquet"),
                       compression="snappy")
    return {"docs": n}


GENERATORS: Dict[str, Callable[[int, int, str], Dict]] = {
    "complex": complex_pages,
    "curation": curation_docs,
}


def ensure(work: str, kind: str, seed: int, n: int) -> tuple:
    """(path, manifest) of the cached input set, generating it first if
    it is absent. The manifest is the last file written, and the set is
    renamed into place only after it, so its presence means complete."""
    key = f"{kind}-s{seed}-n{n}-g{GEN_VERSION}"
    path = os.path.join(work, "inputs", key)
    manifest = os.path.join(path, "manifest.json")
    if not os.path.exists(manifest):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        try:
            meta = GENERATORS[kind](seed, n, tmp)
            meta["files"] = _digest_tree(tmp)
            with open(os.path.join(tmp, "manifest.json"), "w") as f:
                json.dump(meta, f, sort_keys=True)
            shutil.rmtree(path, ignore_errors=True)
            os.rename(tmp, path)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    with open(manifest) as f:
        meta = json.load(f)
    got = _digest_tree(path)
    got.pop("manifest.json")
    if got != meta["files"]:
        raise RuntimeError(f"cached input {key} differs from its manifest")
    return path, meta


def _digest_tree(root: str) -> Dict[str, list]:
    out = {}
    for d, _, files in os.walk(root):
        for name in sorted(files):
            p = os.path.join(d, name)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = [
                    os.path.getsize(p), hashlib.sha256(f.read()).hexdigest()]
    return out
