"""Triple-extraction stage: pages -> flat triples DataFrame.

One Arrow-batched ``mapInPandas`` does the whole per-document chain
(extract -> expand -> toRDF -> URDNA2015 -> serialize), mirroring the
reference composition json-ld->urdna2015-nquads-string (json-ld.rkt:2707)
but batched and partition-parallel. Only (url, html) cross the JVM->Python
Arrow boundary — column pruning keeps text/warc_ts/lang JVM-side.

Zero-triple and error documents emit exactly one marker row (null subj)
so resume/lineage still sees every processed url.
"""

from __future__ import annotations


from pyspark.sql import DataFrame

from ..core.pipeline import TRIPLE_COLUMNS, page_to_triples

TRIPLES_SCHEMA = (
    "url string, subj string, pred string, obj_kind tinyint, "
    "obj_value string, obj_dt string, obj_lang string, graph string, "
    "canon_hash string, status string"
)

_MARKER = (None,) * 8


def triples_kernel(contexts_broadcast=None, mode: str = "URDNA2015",
                   max_permutation_steps: int = 200_000):
    """The per-batch ``mapInPandas`` function over (url, html) batches:
    the one copy of the extraction loop, shared by the batch stage
    (extract_triples) and the streaming one (streaming.ingest)."""
    import pandas as pd

    def fn(batches):
        from .util import worker_runtime_tune
        worker_runtime_tune()
        ctxs = contexts_broadcast.value if contexts_broadcast is not None \
            else None
        marker = _MARKER
        for pdf in batches:
            # accumulate row tuples, then one C-speed zip(*) transpose:
            # measured ~30% faster per core than per-value appends and
            # ~2x faster than pd.DataFrame(list_of_rows)
            rows = []
            extend = rows.extend
            append = rows.append
            for url, html in zip(pdf["url"].tolist(), pdf["html"].tolist()):
                res = page_to_triples(url, html, ctxs, mode,
                                      max_permutation_steps)
                if res.rows:
                    extend(res.rows)
                else:
                    append((url,) + marker + (res.status,))
            if rows:
                yield pd.DataFrame(dict(zip(TRIPLE_COLUMNS, zip(*rows))))
            else:
                yield pd.DataFrame({c: [] for c in TRIPLE_COLUMNS})

    return fn


def extract_triples(
    pages: DataFrame,
    contexts_broadcast=None,
    mode: str = "URDNA2015",
    max_permutation_steps: int = 200_000,
) -> DataFrame:
    """pages(url, html, ...) -> triples DataFrame (TRIPLES_SCHEMA).

    ``contexts_broadcast`` is an optional ``sc.broadcast(dict)`` of
    pre-fetched remote context documents (the reference's pinned url-map
    loader, json-ld.rkt:84-117) — executors never do network I/O.

    This stage is Python-CPU-bound, so task count must track cores, not
    input bytes: a single-file table below the split size is ONE split
    and starves every other worker (measured 30x). If the scan yields
    fewer partitions than util.parallelism_target, repartition up front
    — a cheap shuffle of (url, html) only; at 100 TB the condition never
    triggers because splits >> cores.
    """
    from .util import ensure_parallelism

    pruned = ensure_parallelism(pages.select("url", "html"))
    return pruned.mapInPandas(
        triples_kernel(contexts_broadcast, mode, max_permutation_steps),
        schema=TRIPLES_SCHEMA)


def triples_only(extracted: DataFrame) -> DataFrame:
    """Drop the zero-triple marker rows."""
    return extracted.filter(extracted.subj.isNotNull())
