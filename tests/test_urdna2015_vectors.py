"""URDNA2015 checks that need no fixture files: a hand-checked
canonical form, the permutation budget on a bnode clique, and the
defining properties over generated datasets of 1-7 blank nodes (the
canonical form ignores bnode labels and quad order, and is a fixed
point), automorphic shapes included: rings, cliques, two isomorphic
disjoint cycles, bnodes used as graph names."""

import pytest
from hypothesis import given, settings, strategies as st

from racket_linkeddata_spark.core.nquads import parse
from racket_linkeddata_spark.core.terms import Literal, Quad
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


# fixed examples: the floor must not change verdict from run to run
_PROPS = dict(max_examples=200, deadline=None, derandomize=True)
_IRIS = ["http://ex/a", "http://ex/b"]
_PREDS = ["http://ex/p", "http://ex/q"]
_LITS = [Literal("x"), Literal("hi", language="en"),
         Literal("1", "http://www.w3.org/2001/XMLSchema#integer")]


def _ring(nodes, pred="http://ex/p", graph=None):
    return [Quad(a, pred, b, graph)
            for a, b in zip(nodes, nodes[1:] + nodes[:1])]


@st.composite
def _datasets(draw):
    """A set of quads over at most 7 blank nodes: one automorphic
    shape (or none) plus a few arbitrary quads that may break its
    symmetry."""
    n = draw(st.integers(1, 7))
    b = [f"_:n{i}" for i in range(n)]
    shape = draw(st.sampled_from(
        ["none", "ring", "two_cycles", "clique", "graph_names"]))
    quads = []
    if shape == "ring":
        quads = _ring(b)
    elif shape == "two_cycles" and n >= 2:
        k = n // 2
        quads = _ring(b[:k]) + _ring(b[k:2 * k])
    elif shape == "clique":
        quads = [Quad(x, "http://ex/p", y)
                 for x in b[:4] for y in b[:4] if x != y]
    elif shape == "graph_names":
        quads = [Quad(s, "http://ex/p", o, g)
                 for g in b[:2] for s, o in zip(b, b[1:] + _IRIS)]
    extra = st.builds(
        Quad, st.sampled_from(b + _IRIS), st.sampled_from(_PREDS),
        st.sampled_from(b + _IRIS + _LITS),
        st.sampled_from([None] + b + _IRIS))
    quads += draw(st.lists(extra, min_size=0 if quads else 1, max_size=6))
    return list(dict.fromkeys(quads))  # a dataset is a set


def _relabel(quads, names):
    def term(t):
        return names.get(t, t) if isinstance(t, str) else t
    return [Quad(term(q.subj), q.pred, term(q.obj), term(q.graph))
            for q in quads]


@settings(**_PROPS)
@given(_datasets(), st.data())
def test_canonical_form_ignores_bnode_labels_and_quad_order(quads, data):
    bnodes = sorted({t for q in quads for t in (q.subj, q.obj, q.graph)
                     if isinstance(t, str) and t.startswith("_:")})
    shuffled = data.draw(st.permutations(bnodes))
    names = {old: f"_:r{new[3:]}x" for old, new in zip(bnodes, shuffled)}
    moved = data.draw(st.permutations(_relabel(quads, names)))
    assert canonical_nquads(moved) == canonical_nquads(quads)


@settings(**_PROPS)
@given(_datasets())
def test_canonical_form_is_a_fixed_point(quads):
    once = canonical_nquads(quads)
    assert canonical_nquads(parse(once)) == once
