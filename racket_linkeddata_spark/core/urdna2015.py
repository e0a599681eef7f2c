"""URDNA2015 RDF dataset canonicalization.

Spec-correct implementation of the W3C RDF Dataset Canonicalization
algorithm (URDNA2015). The reference's urdna2015.rkt annotates the same
spec steps (urdna2015.rkt:97-181) but does not run as written (SURVEY.md
§2.10 lists its five defects: urdna2015.rkt:122,156,246,271,291); the
normative sources are the spec and the normalize-* fixtures.

Includes a permutation budget: hash-n-degree is factorial in the worst case
(pathological bnode cliques); a document exceeding the budget raises
CanonicalizationBudgetExceeded so the Spark pipeline can flag the url in
lineage instead of stalling an executor (SURVEY.md §4.3).
"""

from __future__ import annotations

import hashlib
from itertools import permutations
from typing import Dict, List, Optional, Tuple

from .nquads import _serialize_term as _ser
from .nquads import serialize_quad
from .node_map import BlankNodeIssuer
from .terms import Literal, Quad


class CanonicalizationBudgetExceeded(RuntimeError):
    pass


def _is_bnode(v: object) -> bool:
    return isinstance(v, str) and v.startswith("_:")


class _State:
    """Canonicalization state. ``mode`` selects URDNA2015 (SHA-256; the
    algorithm the reference targets) or URGNA2012 (SHA-1, p/r positions,
    _:g graph substitution — the algorithm the vendored normalize-*
    fixtures were generated with, predating URDNA2015)."""

    def __init__(self, quads: List[Quad], max_permutation_steps: int,
                 mode: str = "URDNA2015"):
        self.quads = quads
        self.blank_to_quads: Dict[str, List[int]] = {}
        self.canonical = BlankNodeIssuer("_:c14n")
        self.budget = max_permutation_steps
        self.mode = mode
        self._hashname = "sha1" if mode == "URGNA2012" else "sha256"
        self._fd_cache: Dict[str, str] = {}
        # serialize bnode-mentioning quads once with bnode slots symbolic:
        # hash_first_degree then only fills _:a/_:z (hot path — every
        # first-degree hash re-serializes each mention quad otherwise).
        # Lazy: quads without bnodes never get templates.
        self._tmpl: Dict[int, tuple] = {}
        for i, q in enumerate(quads):
            for component in (q.subj, q.obj, q.graph):
                # inlined _is_bnode: this triple-scan is the hot setup loop
                if (component.__class__ is str
                        and component.startswith("_:")):
                    self.blank_to_quads.setdefault(component, []).append(i)

    def _template(self, i: int) -> tuple:
        t = self._tmpl.get(i)
        if t is None:
            q = self.quads[i]
            subj = None if _is_bnode(q.subj) else _ser(q.subj, "subject")
            obj = (None if (not isinstance(q.obj, Literal)
                            and _is_bnode(q.obj))
                   else _ser(q.obj, "object"))
            if q.graph is None:
                graph = ""
            elif _is_bnode(q.graph):
                graph = None
            else:
                graph = " " + _ser(q.graph, "graph")
            t = (subj, _ser(q.pred, "predicate"), obj, graph,
                 q.subj, q.obj, q.graph)
            self._tmpl[i] = t
        return t

    def _hash(self, s: str) -> str:
        return hashlib.new(self._hashname, s.encode("utf-8")).hexdigest()

    def hash_first_degree(self, bnode: str) -> str:
        """Hash First Degree Quads (spec 4.6; urdna2015.rkt:185-206)."""
        cached = self._fd_cache.get(bnode)
        if cached is not None:
            return cached
        urgna = self.mode == "URGNA2012"
        lines = []
        for i in self.blank_to_quads[bnode]:
            s, p, o, g, subj, obj, graph = self._template(i)
            if s is None:
                s = "_:a" if subj == bnode else "_:z"
            if o is None:
                o = "_:a" if obj == bnode else "_:z"
            if g is None:
                g = " _:g" if urgna else (
                    " _:a" if graph == bnode else " _:z")
            lines.append(f"{s} {p} {o}{g} .\n")
        out = self._hash("".join(sorted(lines)))
        self._fd_cache[bnode] = out
        return out

    def hash_related(self, related: str, quad: Quad,
                     issuer: BlankNodeIssuer, position: str) -> str:
        """Hash Related Blank Node (spec 4.7; urdna2015.rkt:208-225)."""
        data = position
        if position != "g":
            if self.mode == "URGNA2012":
                data += quad.pred
            else:
                data += "<" + quad.pred + ">"
        if self.canonical.has_issued(related):
            data += self.canonical.issued[related]
        elif issuer.has_issued(related):
            data += issuer.issued[related]
        else:
            data += self.hash_first_degree(related)
        return self._hash(data)

    def related_components(self, identifier: str, quad: Quad):
        """(related, position) pairs for one quad. URDNA2015: every bnode
        component in s/o/g; URGNA2012: subject='p' else object='r', one per
        quad, graph ignored."""
        if self.mode == "URGNA2012":
            if _is_bnode(quad.subj) and quad.subj != identifier:
                yield quad.subj, "p"
            elif (not isinstance(quad.obj, Literal)
                  and _is_bnode(quad.obj) and quad.obj != identifier):
                yield quad.obj, "r"
            return
        for component, position in (
                (quad.subj, "s"), (quad.obj, "o"), (quad.graph, "g")):
            # Literal is not str, None is not str: one inlined check
            if (component.__class__ is str and component.startswith("_:")
                    and component != identifier):
                yield component, position

    def hash_n_degree(self, identifier: str,
                      issuer: BlankNodeIssuer
                      ) -> Tuple[str, BlankNodeIssuer]:
        """Hash N-Degree Quads (spec 4.8; the reference's broken version is
        urdna2015.rkt:234-331 — we iterate *permutations* per spec step 5.4
        and append issued identifiers, not structs)."""
        hash_to_related: Dict[str, List[str]] = {}
        for qi in self.blank_to_quads[identifier]:
            quad = self.quads[qi]
            for component, position in self.related_components(identifier,
                                                               quad):
                h = self.hash_related(component, quad, issuer, position)
                hash_to_related.setdefault(h, []).append(component)

        data_to_hash = ""
        for related_hash in sorted(hash_to_related.keys()):
            data_to_hash += related_hash
            chosen_path = ""
            chosen_issuer: Optional[BlankNodeIssuer] = None
            perms = permutations(hash_to_related[related_hash])
            for permutation in perms:
                self.budget -= 1
                if self.budget < 0:
                    raise CanonicalizationBudgetExceeded(
                        "hash-n-degree permutation budget exhausted")
                issuer_copy = issuer.clone()
                path = ""
                recursion_list: List[str] = []
                skip = False
                for related in permutation:
                    if self.canonical.has_issued(related):
                        path += self.canonical.issued[related]
                    else:
                        if not issuer_copy.has_issued(related):
                            recursion_list.append(related)
                        path += issuer_copy.issue(related)
                    if chosen_path and len(path) >= len(chosen_path) \
                            and path > chosen_path:
                        skip = True
                        break
                if skip:
                    continue
                for related in recursion_list:
                    result_hash, result_issuer = self.hash_n_degree(
                        related, issuer_copy)
                    path += issuer_copy.issue(related)
                    path += "<" + result_hash + ">"
                    issuer_copy = result_issuer
                    if chosen_path and len(path) >= len(chosen_path) \
                            and path > chosen_path:
                        skip = True
                        break
                if skip:
                    continue
                if not chosen_path or path < chosen_path:
                    chosen_path = path
                    chosen_issuer = issuer_copy
            data_to_hash += chosen_path
            issuer = chosen_issuer if chosen_issuer is not None else issuer
        return self._hash(data_to_hash), issuer


def _canonize(quads: List[Quad],
              max_permutation_steps: int = 200_000,
              mode: str = "URDNA2015"):
    """Label blank nodes ``_:c14n<N>`` deterministically (spec 4.4;
    reference entry canonize-quads, urdna2015.rkt:88-183). Returns
    (serialized line, quad) pairs sorted by canonical N-Quads line."""
    # fast path: a bnode-free dataset needs no relabeling at all — just
    # serialize + sort. Common for web pages whose JSON-LD names every
    # node with @id; skips the whole hashing state machine (~10% of the
    # per-document pipeline on such corpora). Bnode checks inlined
    # (the helper-call overhead is measurable at 3 checks/quad).
    # isinstance (not ``__class__ is str``) on purpose: a str SUBCLASS
    # bnode must not be misclassified as bnode-free (skipping relabeling
    # entirely), and a malformed non-str subject should fall through to
    # the strict path's typed errors, not raise AttributeError here.
    # startswith dominates the scan cost; the isinstance delta is noise.
    has_bnode = False
    for q in quads:
        s, o, g = q.subj, q.obj, q.graph
        if ((isinstance(s, str) and s.startswith("_:"))
                or (isinstance(o, str) and o.startswith("_:"))
                or (isinstance(g, str) and g.startswith("_:"))):
            has_bnode = True
            break
    if not has_bnode:
        return sorted(((serialize_quad(q), q) for q in quads),
                      key=lambda p: p[0])

    state = _State(quads, max_permutation_steps, mode)

    # steps 3-4: unique first-degree hashes get canonical ids immediately
    hash_to_bnodes: Dict[str, List[str]] = {}
    for bnode in state.blank_to_quads:
        hash_to_bnodes.setdefault(
            state.hash_first_degree(bnode), []).append(bnode)
    non_unique: List[Tuple[str, List[str]]] = []
    for h in sorted(hash_to_bnodes.keys()):
        bnodes = hash_to_bnodes[h]
        if len(bnodes) == 1:
            state.canonical.issue(bnodes[0])
        else:
            non_unique.append((h, bnodes))

    # step 6: n-degree tie-breaking
    for _, bnodes in non_unique:
        hash_path_list: List[Tuple[str, BlankNodeIssuer]] = []
        for bnode in bnodes:
            if state.canonical.has_issued(bnode):
                continue
            temp = BlankNodeIssuer("_:b")
            temp.issue(bnode)
            hash_path_list.append(state.hash_n_degree(bnode, temp))
        for _, issuer in sorted(hash_path_list, key=lambda r: r[0]):
            for existing in issuer.issued:
                state.canonical.issue(existing)

    # step 7: relabel + emit in canonical (sorted serialized line) order
    issued = state.canonical.issued
    out = [
        Quad(issued[q.subj] if q.subj.startswith("_:") else q.subj,
             q.pred,
             (issued[q.obj] if (q.obj.__class__ is str
                                and q.obj.startswith("_:")) else q.obj),
             (issued[q.graph] if (q.graph is not None
                                  and q.graph.startswith("_:"))
              else q.graph))
        for q in quads
    ]
    paired = sorted(((serialize_quad(q), q) for q in out),
                    key=lambda p: p[0])
    return paired


def canonize_quads(quads: List[Quad],
                   max_permutation_steps: int = 200_000,
                   mode: str = "URDNA2015") -> List[Quad]:
    return [q for _, q in _canonize(quads, max_permutation_steps, mode)]


def canonize_quads_with_lines(quads: List[Quad],
                              max_permutation_steps: int = 200_000,
                              mode: str = "URDNA2015"):
    """(line, quad) pairs in canonical order — serialize once for both
    sorting and downstream hashing (pipeline hot path)."""
    return _canonize(quads, max_permutation_steps, mode)


def canonical_nquads(quads: List[Quad],
                     max_permutation_steps: int = 200_000,
                     mode: str = "URDNA2015") -> str:
    """Canonical N-Quads document string (line-sorted, like the
    normalize-*-out.nq fixtures)."""
    lines = [line + "\n"
             for line, _ in _canonize(quads, max_permutation_steps, mode)]
    # dataset set-semantics: identical statements collapse
    return "".join(sorted(set(lines)))
