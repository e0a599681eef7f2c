"""Document-level JSON-LD transforms as DataFrame operators.

Every library entry point of the reference (expand / compact / flatten /
normalize, json-ld.rkt:1444/1836/2257/2710) lifted to a column transform:
JSON text in, JSON (or canonical N-Quads) text out, one Arrow-batched
mapInPandas per stage. Errors don't poison the batch — each row carries
its own status/error column.
"""

from __future__ import annotations

import json
from typing import Any, Dict, Optional

import pandas as pd
from pyspark.sql import DataFrame

from ..core.compact import compact as _compact
from ..core.context import JsonLdError
from ..core.expand import expand as _expand
from ..core.flatten import flatten as _flatten
from ..core.to_rdf import to_rdf as _to_rdf
from ..core.urdna2015 import CanonicalizationBudgetExceeded, canonical_nquads

OUT_SCHEMA = "doc_id bigint, out string, error string"


def _lift(transform):
    def op(docs: DataFrame, *args, id_col: str = "doc_id",
           json_col: str = "doc", contexts: Optional[Dict[str, Any]] = None,
           base_col: Optional[str] = None,
           param_col: Optional[str] = None, param_kw: str = "context",
           **kwargs) -> DataFrame:
        """``base_col``: per-row base IRI column (web pages each carry
        their own base); overrides any constant ``base`` kwarg.
        ``param_col``: per-row JSON parameter column, parsed and passed
        as the ``param_kw`` kwarg (e.g. a per-document compaction
        context or frame); overrides any constant value of that kwarg."""
        from .util import ensure_parallelism

        def fn(batches):
            from .util import worker_runtime_tune
            worker_runtime_tune()
            for pdf in batches:
                ids, outs, errs = [], [], []
                bases = (pdf[base_col].tolist() if base_col
                         else [None] * len(pdf))
                params = (pdf[param_col].tolist() if param_col
                          else [None] * len(pdf))
                for i, txt, b, prm in zip(pdf[id_col].tolist(),
                                          pdf[json_col].tolist(), bases,
                                          params):
                    ids.append(i)
                    # a null doc/param row marks the row, not kills the
                    # task — checked explicitly so TypeError stays OUT of
                    # the broad catch (a TypeError raised inside the
                    # transform is a programming error, e.g. a bad
                    # param_kw injecting an unexpected kwarg, and must
                    # fail the job fast, not degrade to per-row strings)
                    if txt is None or (param_col is not None and prm is None):
                        outs.append(None)
                        errs.append("null input row")
                        continue
                    kw = dict(kwargs)
                    if base_col is not None:
                        kw["base"] = b
                    try:
                        if param_col is not None:
                            kw[param_kw] = json.loads(prm)
                        doc = json.loads(txt)
                        outs.append(transform(doc, contexts, *args, **kw))
                        errs.append(None)
                    except (ValueError, JsonLdError,
                            RecursionError,
                            CanonicalizationBudgetExceeded) as e:
                        outs.append(None)
                        errs.append(getattr(e, "code", str(e)[:200]))
                yield pd.DataFrame(
                    {"doc_id": ids, "out": outs, "error": errs})

        cols = ([id_col, json_col] + ([base_col] if base_col else [])
                + ([param_col] if param_col else []))
        pruned = ensure_parallelism(docs.select(*cols))
        return pruned.mapInPandas(fn, schema=OUT_SCHEMA)

    return op


expand_documents = _lift(
    lambda doc, ctxs, base=None, expand_context=None: json.dumps(
        _expand(doc, base=base, expand_context=expand_context,
                remote_contexts=ctxs), sort_keys=True))

compact_documents = _lift(
    lambda doc, ctxs, context=None, base=None,
    compact_arrays=True: json.dumps(
        _compact(doc, context, base=base, compact_arrays=compact_arrays,
                 remote_contexts=ctxs),
        sort_keys=True))

flatten_documents = _lift(
    lambda doc, ctxs, context=None, base=None,
    compact_arrays=True: json.dumps(
        _flatten(doc, context, base=base, compact_arrays=compact_arrays,
                 remote_contexts=ctxs),
        sort_keys=True))

normalize_documents = _lift(
    lambda doc, ctxs, base=None, mode="URDNA2015": canonical_nquads(
        _to_rdf(doc, base=base, remote_contexts=ctxs), mode=mode))


def _from_rdf_text(nq_text, use_native_types=False,
                   use_rdf_type=False):
    from ..core.from_rdf import from_rdf
    from ..core.nquads import parse

    return json.dumps(from_rdf(parse(nq_text),
                               use_native_types=use_native_types,
                               use_rdf_type=use_rdf_type),
                      sort_keys=True)


# N-Quads text column -> expanded JSON-LD (the fromRdf direction). The
# input column is raw N-Quads, not JSON — bypass _lift's json.loads.
def from_rdf_documents(docs: DataFrame, *, id_col: str = "doc_id",
                       nquads_col: str = "nquads",
                       use_native_types: bool = False,
                       use_rdf_type: bool = False) -> DataFrame:
    from ..core.nquads import NQuadsParseError
    from .util import ensure_parallelism

    def fn(batches):
        from .util import worker_runtime_tune
        worker_runtime_tune()
        for pdf in batches:
            ids, outs, errs = [], [], []
            for i, txt in zip(pdf[id_col].tolist(),
                              pdf[nquads_col].tolist()):
                ids.append(i)
                try:
                    outs.append(_from_rdf_text(txt, use_native_types,
                                               use_rdf_type))
                    errs.append(None)
                except (NQuadsParseError, ValueError) as e:
                    outs.append(None)
                    errs.append(str(e)[:200])
            yield pd.DataFrame({"doc_id": ids, "out": outs, "error": errs})

    pruned = ensure_parallelism(docs.select(id_col, nquads_col))
    return pruned.mapInPandas(fn, schema=OUT_SCHEMA)


def _frame_doc(doc, ctxs, frame=None, base=None):
    from ..core.frame import frame as _frame

    return json.dumps(_frame(doc, frame, base=base, remote_contexts=ctxs),
                      sort_keys=True)


frame_documents = _lift(_frame_doc)


def _sign_doc(doc, ctxs, private_key_pem=None, created=None, creator=None):
    from ..core.ld_sigs import sign_jsonld

    return json.dumps(
        sign_jsonld(doc, private_key_pem, created=created, creator=creator,
                    remote_contexts=ctxs), sort_keys=True)


def _verify_doc(doc, ctxs, public_key_pem=None):
    from ..core.ld_sigs import verify_jsonld

    return json.dumps(
        verify_jsonld(doc, public_key_pem, remote_contexts=ctxs))


# LD-signature sign/verify lifted to document columns: keys are passed
# as parameters (broadcast with the closure) — per-row key material
# would belong in a join against a key table instead.
sign_documents = _lift(_sign_doc)
verify_documents = _lift(_verify_doc)
