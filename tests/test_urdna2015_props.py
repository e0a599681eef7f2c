"""URDNA2015 property tests.

The vendored normalize fixtures pin URGNA2012 (the suite predates
URDNA2015), so URDNA2015 — the algorithm the reference targets
(urdna2015.rkt) and our pipeline default — is verified by its defining
property instead: the canonical form is invariant under any relabeling /
reordering of input blank nodes (graph isomorphism invariance). The
fixture-free vectors live in test_urdna2015_vectors.py.
"""

import random

import pytest

from racket_linkeddata_spark.core.terms import Literal, Quad
from racket_linkeddata_spark.core.to_rdf import to_rdf
from racket_linkeddata_spark.core.urdna2015 import canonical_nquads
from tests.suite_utils import LOADER, case_base, load_json, manifest_cases

CASES = manifest_cases("normalize")


def _relabel(quads, mapping):
    def m(t):
        if isinstance(t, str) and t.startswith("_:"):
            return mapping[t]
        return t

    return [Quad(m(q.subj), q.pred,
                 q.obj if isinstance(q.obj, Literal) else m(q.obj),
                 m(q.graph) if q.graph is not None else None)
            for q in quads]


@pytest.mark.parametrize("case", CASES, ids=[c["@id"] for c in CASES])
def test_urdna2015_isomorphism_invariance(case):
    doc = load_json(case["input"])
    quads = to_rdf(doc, base=case_base(case), remote_contexts=LOADER)
    baseline = canonical_nquads(quads, mode="URDNA2015")
    bnodes = sorted({t for q in quads
                     for t in (q.subj, q.obj, q.graph)
                     if isinstance(t, str) and t.startswith("_:")})
    rng = random.Random(42)
    for trial in range(3):
        shuffled = list(bnodes)
        rng.shuffle(shuffled)
        mapping = {old: f"_:x{i}" for i, old in zip(shuffled, bnodes)}
        mapping = {old: f"_:y{rng.randrange(10**6)}_{i}"
                   for i, old in enumerate(shuffled)}
        relabeled = _relabel(quads, mapping)
        rng.shuffle(relabeled)
        assert canonical_nquads(relabeled, mode="URDNA2015") == baseline
