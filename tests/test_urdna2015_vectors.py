"""URDNA2015 checks that need no fixture files: a hand-checked
canonical form, one derived step by step from the spec's hash formulas
(it needs Hash N-Degree Quads to break a first-degree tie), the
permutation budget, and the defining properties over generated datasets
of 1-7 blank nodes (the canonical form ignores bnode labels and quad
order, is a fixed point, and two datasets share it iff a bnode
bijection maps one onto the other), automorphic shapes included: rings,
cliques, two isomorphic disjoint cycles, bnodes used as graph names."""

import hashlib
from itertools import permutations

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


def test_n_degree_tie_break_follows_the_spec_hashes():
    """_:a and _:c have equal first-degree hashes; only Hash N-Degree
    Quads (spec 4.8) orders them, through their related nodes' canonical
    ids. The expected labels are computed here from the spec's
    formulas, not from the implementation."""
    p, q = "http://ex/p", "http://ex/q"
    quads = [Quad("_:a", p, "_:b"), Quad("_:c", p, "_:d"),
             Quad("_:b", q, Literal("1")), Quad("_:d", q, Literal("7"))]

    def sha(s):
        return hashlib.sha256(s.encode()).hexdigest()

    # 4.6: first-degree hashes over the sorted lines; _:b and _:d
    # are unique and issued in hash order
    fd = {"_:b": sha(f'_:a <{q}> "1" .\n_:z <{p}> _:a .\n'),
          "_:d": sha(f'_:a <{q}> "7" .\n_:z <{p}> _:a .\n')}
    canon = {x: f"_:c14n{i}" for i, x in enumerate(sorted(fd, key=fd.get))}
    # 4.7 + 4.8: one related node, already canonical, in position "o";
    # the n-degree hash is over (related hash + path)
    nd = {x: sha(sha(f"o<{p}>{canon[r]}") + canon[r])
          for x, r in (("_:a", "_:b"), ("_:c", "_:d"))}
    for i, x in enumerate(sorted(nd, key=nd.get)):
        canon[x] = f"_:c14n{i + 2}"
    want = "".join(sorted(
        f"{canon[x.subj]} <{x.pred}> " + (
            canon[x.obj] if isinstance(x.obj, str)
            else f'"{x.obj.value}"') + " .\n" for x in quads))
    assert canonical_nquads(quads) == want


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


def _bnodes(quads):
    return sorted({t for q in quads for t in (q.subj, q.obj, q.graph)
                   if isinstance(t, str) and t.startswith("_:")})


def _isomorphic(a, b):
    """Brute force: some bijection of a's bnodes onto b's maps the set
    ``a`` onto the set ``b`` (at most 7! = 5040 candidates)."""
    ba, bb, want = _bnodes(a), _bnodes(b), set(b)
    if len(ba) != len(bb) or len(set(a)) != len(want):
        return False
    return any(set(_relabel(a, dict(zip(ba, perm)))) == want
               for perm in permutations(bb))


@st.composite
def _pairs(draw):
    """Two datasets over at most 7 bnodes (the brute-force cap): a copy
    of the first, the first with one object changed, a ring against
    cycles over the same bnodes (equal first-degree hashes, different
    shape), or an unrelated one. The second gets fresh labels and a
    fresh quad order."""
    a = draw(_datasets())
    how = draw(st.sampled_from(["copy", "edit", "twin", "fresh"]))
    if how == "copy":
        b = list(a)
    elif how == "edit":
        i = draw(st.integers(0, len(a) - 1))
        obj = draw(st.sampled_from(_bnodes(a) + _IRIS + _LITS))
        b = list(dict.fromkeys(a[:i] + [a[i]._replace(obj=obj)] + a[i + 1:]))
    elif how == "twin":
        n = draw(st.integers(2, 7))
        k = draw(st.integers(1, n - 1))
        nodes = [f"_:n{i}" for i in range(n)]
        a = _ring(nodes)
        b = _ring(nodes[:k]) + _ring(nodes[k:])
    else:
        b = draw(_datasets())
    names = {x: f"_:f{i}" for i, x in enumerate(
        draw(st.permutations(_bnodes(b))))}
    return a, draw(st.permutations(_relabel(b, names)))


@settings(**_PROPS)
@given(_pairs())
def test_equal_canonical_forms_iff_isomorphic(pair):
    a, b = pair
    assert ((canonical_nquads(a) == canonical_nquads(b))
            == _isomorphic(a, b))


# rings stay under 2n^2 steps directed and 8n^2 undirected (364 at 7
# bnodes); a 5-clique takes 4080, each extra node multiplies that
_SMALL_BUDGET = 1000


@settings(**_PROPS)
@given(st.integers(1, 7), st.booleans(), st.data())
def test_budget_spares_rings(n, both_ways, data):
    nodes = data.draw(st.permutations([f"_:n{i}" for i in range(n)]))
    quads = _ring(nodes) + (_ring(nodes[::-1]) if both_ways else [])
    quads = data.draw(st.permutations(list(dict.fromkeys(quads))))
    assert (canonical_nquads(quads, max_permutation_steps=_SMALL_BUDGET)
            == canonical_nquads(quads))


@settings(**dict(_PROPS, max_examples=30))
@given(st.integers(5, 7), st.data())
def test_budget_stops_cliques(n, data):
    nodes = [f"_:n{i}" for i in range(n)]
    quads = data.draw(st.permutations(
        [Quad(x, "http://ex/p", y) for x in nodes for y in nodes if x != y]))
    with pytest.raises(CanonicalizationBudgetExceeded):
        canonical_nquads(quads, max_permutation_steps=_SMALL_BUDGET)
