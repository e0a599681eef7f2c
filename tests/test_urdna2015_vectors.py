"""URDNA2015 vectors that need no fixture files: a hand-checked
canonical form and the permutation budget on a bnode clique."""

import pytest

from racket_linkeddata_spark.core.nquads import parse
from racket_linkeddata_spark.core.terms import Quad
from racket_linkeddata_spark.core.urdna2015 import (
    CanonicalizationBudgetExceeded,
    canonical_nquads,
)


def test_urdna2015_known_vector():
    # shared bnode across two subjects (normalize-0017 shape), URDNA2015
    quads = parse(
        "<http://example.org/test> <http://example.org/vocab#A> _:p1 .\n"
        "<http://example.org/test> <http://example.org/vocab#B> _:p1 .\n")
    assert canonical_nquads(quads) == (
        "<http://example.org/test> <http://example.org/vocab#A> _:c14n0 .\n"
        "<http://example.org/test> <http://example.org/vocab#B> _:c14n0 .\n")


def test_permutation_budget():
    # complete bigraph of bnodes with one predicate: factorial blowup zone
    n = 7
    quads = []
    for i in range(n):
        for j in range(n):
            if i != j:
                quads.append(Quad(f"_:a{i}", "http://ex/p", f"_:a{j}"))
    with pytest.raises(CanonicalizationBudgetExceeded):
        canonical_nquads(quads, max_permutation_steps=50)
