"""Blocklist filtering — the C4 "bad words" / domain-blocklist stage
of a web-scale training-data pipeline (C4 drops any page containing a
listed word; Gopher-style variants threshold on the blocked-token
fraction instead).

The reference engine has no text curation at all (no counterpart
file); this is part of the LLM-training-data brief, sitting next to
quality_signals/quality_gate in textstats.py.

Spark-first shape: everything is JVM column algebra over the token
array — ``arrays_overlap`` / ``array_intersect`` / ``filter(...,
isin)`` against a LITERAL term array (the blocklist is a dim table by
definition: broadcast by value into the plan, hash-probed per row).
Map-only for annotate/filter — no shuffle, no Python stage, no
explode of the corpus.  Only the observability stats op aggregates,
and it explodes ONLY matched occurrences (bounded by hits, not by
corpus tokens).

NULL text is pinned on both engines: no tokens -> nothing blocked
(n_tokens = 0, blocked = false) — the document survives, matching the
oracles' COALESCE (round-5 NULL-parity lesson).

Fraction mode avoids floats entirely: ``1000 * n_blocked >
threshold_x1000 * n_tokens`` in integers, the repo's fixed-point
convention (exact in DuckDB with the same inequality).
"""

from __future__ import annotations

import re
from typing import List

from pyspark.sql import Column, DataFrame, functions as F

# lowercase alnum word tokens; identical semantics in Java regex and
# DuckDB's RE2 for this class
TOKEN_SEP = "[^a-z0-9]+"


_TERM_RE = re.compile(r"^[a-z0-9]+$")


def _norm_terms(terms: List[str]) -> List[str]:
    out = sorted({t.strip().lower() for t in terms if t and t.strip()})
    if not out:
        raise ValueError("blocklist: no non-empty terms supplied")
    bad = [t for t in out if not _TERM_RE.match(t)]
    if bad:
        # the tokenizer splits on [^a-z0-9]+, so a multi-word phrase or
        # punctuated term can NEVER match a token — accepting it would
        # make the filter a silent no-op for that entry (review r06e)
        raise ValueError(
            "blocklist: terms must be single lowercase alnum tokens "
            f"(the tokenizer cannot match {bad[:5]}); split phrases "
            "into their words or use an n-gram probe "
            "(decontam.contamination_stats) for phrase blocking")
    return out


def _tokens(text_col: str) -> Column:
    return F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))),
                TOKEN_SEP),
        lambda x: x != "")


def _validate(mode: str, threshold_x1000: int):
    if mode not in ("any", "fraction"):
        raise ValueError(f"blocklist: unknown mode {mode!r}")
    if mode == "fraction" and not 0 <= threshold_x1000 <= 1000:
        raise ValueError(
            f"blocklist: threshold_x1000 must be in [0, 1000], "
            f"got {threshold_x1000}")


# collision-safe working column (the repo convention for temp columns)
_TOKS = "__blocklist_toks"


def _with_tokens(documents: DataFrame, text_col: str) -> DataFrame:
    """All source columns plus the token array, evaluated ONCE: the
    explode(array(...)) Generate barrier (the _mins_table pattern) —
    without it the interpreted split+filter tree is re-inlined into
    every downstream expression that reads it (the repo's measured
    re-evaluation gotcha; annotate reads it 3x, filter 2x)."""
    return documents.select(
        "*", F.explode(F.array(_tokens(text_col))).alias(_TOKS))


def _verdict(mode: str, threshold_x1000: int, n_blocked: Column,
             n_tokens: Column) -> Column:
    """Verdict from already-computed counts — shared by annotate and
    filter so the two cannot drift.  Pure-integer fraction compare; an
    empty/NULL document (0 tokens) is never blocked."""
    if mode == "any":
        return n_blocked > 0
    return (F.lit(1000).cast("long") * n_blocked
            > F.lit(threshold_x1000).cast("long") * n_tokens)


def blocklist_annotate(documents: DataFrame, terms: List[str], *,
                       mode: str = "any",
                       threshold_x1000: int = 0,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Per-document blocklist signals + verdict.

    Returns (id_col, n_tokens, n_blocked, n_blocked_terms, blocked):
    - n_blocked: blocked-token OCCURRENCES (the fraction numerator);
    - n_blocked_terms: DISTINCT blocked terms present;
    - blocked: mode='any' -> any occurrence; mode='fraction' ->
      1000 * n_blocked > threshold_x1000 * n_tokens (pure-integer
      inequality; an empty/NULL document is never blocked).
    """
    _validate(mode, threshold_x1000)
    terms = _norm_terms(terms)
    lit_terms = F.array(*[F.lit(t) for t in terms])
    toks = F.col(_TOKS)
    counted = _with_tokens(documents, text_col).select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.filter(toks, lambda x: x.isin(*terms)))
        .cast("long").alias("n_blocked"),
        F.size(F.array_intersect(toks, lit_terms))
        .cast("long").alias("n_blocked_terms"))
    return counted.withColumn(
        "blocked", _verdict(mode, threshold_x1000,
                            F.col("n_blocked"), F.col("n_tokens")))


def blocklist_filter(documents: DataFrame, terms: List[str], *,
                     mode: str = "any", threshold_x1000: int = 0,
                     text_col: str = "text") -> DataFrame:
    """Drop blocked documents; survivors keep ALL their columns.
    The verdict comes from the same counting expressions annotate uses
    (shared _verdict), applied as a filter above the token barrier —
    map-only, no self-join, single tokenization."""
    _validate(mode, threshold_x1000)
    terms = _norm_terms(terms)
    toks = F.col(_TOKS)
    n_blocked = (F.size(F.filter(toks, lambda x: x.isin(*terms)))
                 .cast("long"))
    return (_with_tokens(documents, text_col)
            .filter(~_verdict(mode, threshold_x1000, n_blocked,
                              F.size(toks).cast("long")))
            .drop(_TOKS))


def blocklist_stats(documents: DataFrame, terms: List[str], *,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Per-term observability: (term, n_docs, n_occurrences).  The
    thing to read before deploying a list at a new scale — a term with
    a corpus-sized doc frequency is a vocabulary word, not a filter.
    Explodes ONLY matched occurrences (filter before explode), so the
    generated row count is bounded by hits."""
    terms = _norm_terms(terms)
    toks = _tokens(text_col)
    hits = documents.select(
        F.col(id_col).alias("doc"),
        F.explode(F.filter(toks, lambda x: x.isin(*terms)))
        .alias("term"))
    return (hits.groupBy("term")
            .agg(F.count_distinct("doc").alias("n_docs"),
                 F.count(F.lit(1)).alias("n_occurrences")))
