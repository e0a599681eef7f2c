"""Frequency-surprisal quality scoring — the CCNet-shaped LM filter
(Wenzek et al. 2020 score web text with a Wikipedia-trained KenLM and
keep the low-perplexity tail). This operator computes the same signal
family with a unigram frequency model and INTEGER bit-surprisal so the
whole score is exactly SQL-replicable:

    surprisal(w) = floor(log2(total)) - floor(log2(count(w)))   [bits]

``floor(log2(n))`` is ``length(bin(n)) - 1`` in both Spark and DuckDB
— pure integer domain, no float drift. A document's score is its mean
token surprisal (x1000 fixed point): LOW = built from common words
(fluent or boilerplate), HIGH = rare-word dense (specialised or junk).
Callers gate on both tails, like CCNet's head/middle/tail split.

The model defaults to the corpus's own counts (rare-word-density
scoring); pass ``ref_counts`` — any (token, n) table, e.g.
``token_counts`` of a trusted corpus — for the true CCNet shape where
the model is trained elsewhere. Out-of-vocabulary tokens score as
count 1 (maximum surprisal). A caller-supplied ``ref_counts`` is
consumed by BOTH the scoring join and the grand-total aggregate — pass
a cheap lineage (a parquet read or a localCheckpoint), or an expensive
counts plan may evaluate twice (the self-counts branch needs no pin:
exchange reuse shares its aggregate between the two reads).

No reference counterpart (racket-linkeddata does no text analysis);
part of the LLM-pipeline brief.

100 TB shape: counts are one (token, partial-count) two-phase
aggregate; the grand total rides a broadcast single-row cross join
(never a driver action); scoring is an equi-join on token — hot
stopword keys are exactly the skew AQE's skew-join splits — followed
by a per-document re-aggregate. Tokenization is JVM split/filter;
no Python anywhere.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

from .util import WS_CLASS


def _tokens(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, token): lowercased whitespace tokens, empties dropped —
    the quality_signals tokenization (regexp \\s+ split, filtered).

    ensure_parallelism: the tokenize + explode + partial aggregate of
    every consumer (counts, tf, sketches) is the CPU-heavy map side of
    this family, and a small corpus parquet packs into ONE split —
    measured 4.5 s single-task vs 1.6 s repartitioned for the CMS
    sketch at sf1.0. No-op at production scale."""
    from .util import ensure_parallelism

    words = F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))),
                    WS_CLASS)
    return (ensure_parallelism(docs)
            .select(F.col(id_col),
                    F.explode(words).alias("token"))
            .filter(F.col("token") != ""))


def _intlog2(col):
    # floor(log2(n)) for n >= 1, integer domain end to end
    return (F.length(F.bin(col)) - 1).cast("bigint")


def token_counts(docs: DataFrame, *, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """(token, n) corpus-wide counts — the unigram model, reusable as
    ``ref_counts`` for scoring a different corpus."""
    return (_tokens(docs, text_col, id_col)
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("n")))


def adjacent_pairs_array(docs: DataFrame, text_col: str,
                         keep_cols) -> DataFrame:
    """``keep_cols`` + ``_pairs`` array<struct<a,b>> of adjacent-token
    pairs: the explode(array(...)) tokenizer barrier + zip-slice —
    ONE copy shared by bigram_pairs and pagerank's word graph so the
    tokenization convention cannot drift between them (review r06i;
    the r05b factoring rule)."""
    from .util import ensure_parallelism

    toks = F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))),
                WS_CLASS),
        lambda x: x != F.lit(""))
    # parallelism for the same reason as _tokens: the zip-slice pair
    # derivation is the CPU-heavy map side (textrank's word graph)
    arr = ensure_parallelism(docs).select(
        *keep_cols, F.explode(F.array(toks)).alias("_toks"))
    n1 = F.greatest(F.size("_toks") - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice("_toks", F.lit(1), n1),
        F.slice("_toks", F.lit(2), n1),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")))
    return arr.select(*keep_cols, pairs.alias("_pairs"))


def bigram_pairs(docs: DataFrame, *, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """(id, w1, w2): adjacent-token pairs per document — the tokenizer
    evaluates once per row (see adjacent_pairs_array)."""
    arr = adjacent_pairs_array(docs, text_col, [F.col(id_col)])
    return (arr.select(F.col(id_col),
                       F.explode("_pairs").alias("p"))
            .select(id_col, F.col("p.a").alias("w1"),
                    F.col("p.b").alias("w2")))


def bigram_counts(docs: DataFrame, *, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """(w1, w2, n) corpus-wide bigram counts — the conditional model,
    reusable as ``ref_counts`` for scoring a different corpus."""
    return (bigram_pairs(docs, text_col=text_col, id_col=id_col)
            .groupBy("w1", "w2")
            .agg(F.count(F.lit(1)).alias("n")))


def bigram_surprisal(docs: DataFrame, *,
                     ref_counts: Optional[DataFrame] = None,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Per document: ``(id, n_bigrams, sum_surprisal,
    avg_surprisal_x1000)`` in integer CONDITIONAL bits:

        bits(w1 w2) = floor(log2(n(w1 *))) - floor(log2(n(w1 w2)))

    where n(w1 *) is w1's count as a bigram head (derived FROM the
    bigram table, so the two marginals cannot disagree). This is the
    fluency signal the unigram score cannot see: a bag of common words
    in scrambled order has low unigram surprisal but high conditional
    surprisal (every transition is rare). OOV convention (only
    reachable with an external ``ref_counts``): a seen head with an
    unseen continuation scores floor(log2(n_head)) — the word-salad
    case — while a bigram whose HEAD is itself unseen scores 0 (no
    conditional evidence either way; callers wanting OOV-head
    penalties should gate on word_surprisal too). Documents with
    fewer than 2 tokens keep their row with all-zero scores.

    100 TB shape: like word_surprisal but the model table is
    DISTINCT-BIGRAM-sized, not vocab-sized — for a web-scale corpus
    pass a precomputed ``ref_counts`` table (a parquet read) instead
    of relying on the self-counts pin, which is only appropriate up
    to model tables that fit the executors' local storage. Scoring
    is one (w1, w2) equi-join (AQE splits the hot stopword-pair keys)
    + a per-document re-aggregate."""
    pairs = bigram_pairs(docs, text_col=text_col, id_col=id_col)
    if ref_counts is not None:
        counts = ref_counts
    else:
        # pinned: the head marginals and the scoring join read it, and
        # their inferred null filters differ, so exchange reuse cannot
        # share it — unpinned, the corpus tokenizes a third time
        counts = (pairs.groupBy("w1", "w2")
                  .agg(F.count(F.lit(1)).alias("n"))
                  .localCheckpoint(eager=False))
    heads = counts.groupBy("w1").agg(F.sum("n").alias("n_head"))

    scored = (pairs
              .join(counts, ["w1", "w2"], "left")
              .join(heads, "w1", "left")
              .select(F.col(id_col),
                      (_intlog2(F.coalesce(F.col("n_head"), F.lit(1)))
                       - _intlog2(F.coalesce(F.col("n"), F.lit(1))))
                      .alias("bits")))
    agg = (scored.groupBy(id_col)
           .agg(F.count(F.lit(1)).alias("n_bigrams"),
                F.sum("bits").alias("sum_surprisal")))
    return (docs.select(id_col)
            .join(agg, id_col, "left")
            .select(
                id_col,
                F.coalesce("n_bigrams", F.lit(0)).cast("bigint")
                .alias("n_bigrams"),
                F.coalesce("sum_surprisal", F.lit(0)).cast("bigint")
                .alias("sum_surprisal"),
                F.when(F.coalesce("n_bigrams", F.lit(0)) == 0,
                       F.lit(0))
                .otherwise(F.expr("(1000 * sum_surprisal) "
                                  "div n_bigrams"))
                .cast("bigint").alias("avg_surprisal_x1000")))


def word_surprisal(docs: DataFrame, *,
                   ref_counts: Optional[DataFrame] = None,
                   text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Per document: ``(id, n_tokens, sum_surprisal,
    avg_surprisal_x1000)`` in integer bits against the unigram model
    (``ref_counts`` or the corpus itself). Empty/NULL documents keep
    their row with all-zero scores."""
    toks = _tokens(docs, text_col, id_col)
    if ref_counts is not None:
        counts = ref_counts
    else:
        counts = (toks.groupBy("token")
                  .agg(F.count(F.lit(1)).alias("n")))
    # coalesce: an empty counts table (empty/degenerate ref corpus)
    # sums to NULL — pin it to 1 so intlog2 stays in the integer
    # domain and every score column remains non-NULL (review r06c)
    total = counts.agg(F.coalesce(F.sum("n"), F.lit(1))
                       .alias("grand_total"))

    scored = (toks
              .join(counts, "token", "left")
              .crossJoin(F.broadcast(total))
              .select(F.col(id_col),
                      (_intlog2(F.col("grand_total"))
                       - _intlog2(F.coalesce(F.col("n"), F.lit(1))))
                      .alias("bits")))
    agg = (scored
           .groupBy(id_col)
           .agg(F.count(F.lit(1)).alias("n_tokens"),
                F.sum("bits").alias("sum_surprisal")))
    return (docs
            .select(id_col)
            .join(agg, id_col, "left")
            .select(
                id_col,
                F.coalesce("n_tokens", F.lit(0)).cast("bigint")
                .alias("n_tokens"),
                F.coalesce("sum_surprisal", F.lit(0)).cast("bigint")
                .alias("sum_surprisal"),
                F.when(F.coalesce("n_tokens", F.lit(0)) == 0, F.lit(0))
                .otherwise(F.expr("(1000 * sum_surprisal) div n_tokens"))
                .cast("bigint").alias("avg_surprisal_x1000")))
