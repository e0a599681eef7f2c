"""Exact substring-span dedup — the Lee et al. ("Deduplicating
Training Data", 2022) EXACT-SUBSTRING mode at L-token granularity:
find token spans that recur across the corpus and cut them out of
every document, regardless of surrounding text. Finer than
paragraph_dedup (no separator structure needed — a license header
pasted mid-sentence is found) and stricter than MinHash (exact match,
no similarity threshold).

The suffix-array of the paper is replaced by the Spark-native
equivalent: hash every L-token window (linear, positioned shingles),
count window hashes corpus-wide, and merge overlapping duplicated
windows into maximal spans with window-function interval algebra. Any
duplicated substring of >= L tokens is covered by duplicated windows,
so the merged spans recover exactly the paper's "duplicated spans of
at least L tokens" (window hashing finds a superstring match as a run
of equal windows).

No reference counterpart (racket-linkeddata does no text analysis);
part of the LLM-pipeline brief.

100 TB shape:
- window hashing is linear, map-side (split + transform + explode);
  the shuffle carries (32-char hash, partial count) with map-side
  combine — never text;
- the hot-hash set rides the probe/broadcast-anti-join hybrid of
  paragraph_dedup (bounded limit probe, BROADCAST when small, AQE
  skew-join otherwise); here it is a SEMI join (keep duplicated
  windows);
- interval merge + reassembly are ONE (doc_id) shuffle each — the
  unavoidable group-by-document;
- tokenization is split-on-space and rejoin-with-space, which is
  byte-lossless for ANY string (consecutive spaces become empty
  tokens and rejoin identically), so surviving text is byte-preserved.

Policy matches paragraph_dedup: ALL occurrences of a hot span are
dropped (min_repeat is the corpus-wide bar, callers own the policy;
keep-one-copy needs a canonical-occurrence election and is a
different op).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window, functions as F


def _windows(docs: DataFrame, L: int, text_col: str,
             id_col: str) -> DataFrame:
    """(id, start, whash): md5 of each L-token window, start 0-based.
    Docs shorter than L tokens yield no windows. NULL text is ''."""
    words = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    n = F.size(words)
    wins = F.when(
        n >= L,
        F.transform(
            F.sequence(F.lit(0), n - L),
            lambda i: F.struct(
                i.cast("bigint").alias("start"),
                F.md5(F.array_join(F.slice(words, i + 1, L), " "))
                .alias("whash")))).otherwise(
                    F.array().cast("array<struct<start:bigint,whash:string>>"))
    return (docs
            .select(id_col, F.explode(wins).alias("w"))
            .select(id_col, "w.start", "w.whash"))


def duplicate_spans(docs: DataFrame, L: int = 20, min_repeat: int = 2, *,
                    text_col: str = "text", id_col: str = "doc_id",
                    broadcast_threshold: int = 200_000,
                    stats_out: Optional[dict] = None) -> DataFrame:
    """Observability face: per document, the maximal token spans
    ``[span_start, span_end)`` covered by L-token windows whose hash
    occurs >= ``min_repeat`` times corpus-wide, plus the window count
    behind each span — what span_dedup WOULD cut."""
    if L < 1:
        raise ValueError(f"window length L must be >= 1, got {L}")
    if min_repeat < 2:
        # min_repeat=1 marks EVERY window hot (count >= 1 always) and
        # silently deletes the whole corpus — a recipe typo, not a plan
        raise ValueError(
            f"min_repeat must be >= 2 (1 would drop all text), "
            f"got {min_repeat}")
    wins = _windows(docs, L, text_col, id_col)

    # pinned: the probe count and the semi join are two actions over
    # this aggregate — unpinned, the corpus-wide window scan + (whash,
    # count) shuffle would run twice (the paragraph_dedup rationale;
    # the pinned table is hashes only, at most N_windows/min_repeat)
    hot = (wins
           .groupBy("whash")
           .agg(F.count(F.lit(1)).alias("c"))
           .filter(F.col("c") >= min_repeat)
           .select("whash")
           .localCheckpoint(eager=False))
    probe = hot.limit(broadcast_threshold + 1).count()
    if stats_out is not None:
        stats_out["hot_probe"] = probe
        stats_out["hot_broadcast"] = probe <= broadcast_threshold
    if probe <= broadcast_threshold:
        hot = F.broadcast(hot)

    dup = wins.join(hot, "whash", "left_semi")

    # interval merge: a window opens a new span iff it starts past the
    # running max end of everything before it
    order = Window.partitionBy(id_col).orderBy("start")
    prev_max_end = F.max(F.col("start") + L).over(
        order.rowsBetween(Window.unboundedPreceding, -1))
    merged = (dup
              .withColumn(
                  "_new",
                  F.when(prev_max_end.isNull()
                         | (F.col("start") > prev_max_end), 1)
                  .otherwise(0))
              .withColumn(
                  "span_id",
                  F.sum("_new").over(
                      order.rowsBetween(Window.unboundedPreceding,
                                        Window.currentRow))))
    return (merged
            .groupBy(id_col, "span_id")
            .agg(F.min("start").alias("span_start"),
                 (F.max("start") + L).cast("bigint").alias("span_end"),
                 F.count(F.lit(1)).alias("n_windows"))
            .drop("span_id")
            .select(id_col, "span_start", "span_end", "n_windows"))


def span_dedup(docs: DataFrame, L: int = 20, min_repeat: int = 2, *,
               text_col: str = "text", id_col: str = "doc_id",
               broadcast_threshold: int = 200_000,
               stats_out: Optional[dict] = None) -> DataFrame:
    """The rewrite face: cut every duplicated span out of every
    document. Returns ``(id, text_dedup, n_tokens, n_dropped_tokens)``
    — one row per input document; tokens outside spans are
    byte-preserved (split/rejoin on the literal space is lossless).

    ``n_tokens`` counts SPLIT CELLS (consecutive spaces make empty
    cells, and NULL/'' text counts 1) — the lossless-split unit the
    span offsets are expressed in, not the quality_signals
    nonempty-token count; n_dropped_tokens is in the same unit, so
    kept-cell accounting always balances."""
    spans = duplicate_spans(docs, L, min_repeat,
                            text_col=text_col, id_col=id_col,
                            broadcast_threshold=broadcast_threshold,
                            stats_out=stats_out)
    # collision-safe working column (the input may carry 'spans')
    sp_col = "_dup_spans"
    while sp_col in docs.columns:
        sp_col += "_"
    per_doc = (spans
               .groupBy(id_col)
               .agg(F.collect_list(
                   F.struct("span_start", "span_end")).alias(sp_col)))

    words = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    kept = F.filter(
        words,
        lambda x, i: ~F.exists(
            F.col(sp_col),
            lambda s: (i >= s["span_start"]) & (i < s["span_end"])))
    return (docs
            .join(per_doc, id_col, "left")
            .select(
                id_col,
                F.when(F.col(sp_col).isNull(),
                       F.coalesce(F.col(text_col), F.lit("")))
                .otherwise(F.array_join(kept, " "))
                .alias("text_dedup"),
                F.size(words).cast("bigint").alias("n_tokens"),
                F.coalesce(
                    F.aggregate(
                        sp_col, F.lit(0).cast("bigint"),
                        lambda acc, s: acc + s["span_end"]
                        - s["span_start"]),
                    F.lit(0)).alias("n_dropped_tokens")))
