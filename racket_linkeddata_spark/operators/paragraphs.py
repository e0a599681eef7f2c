"""Paragraph/passage-level exact dedup — the Lee et al. ("Deduplicating
Training Data", 2022) within-corpus repeated-passage removal, at
line/paragraph granularity: the one training-data dedup mode the
document-level operators (exact md5, MinHash, SimHash, embeddings)
cannot express. Web corpora are full of cross-document boilerplate
(cookie banners, nav bars, license footers) that document-level dedup
never touches because the surrounding text differs.

No reference counterpart (racket-linkeddata does no text analysis);
part of the LLM-pipeline brief.

All JVM column algebra; 100 TB shape:
- split+posexplode is linear, no shuffle;
- global passage counts shuffle (md5, partial_count) pairs — 32-char
  keys with map-side combine, never the passage text;
- the hot-passage set is removed with an anti-join: BROADCAST when a
  bounded limit-probe shows it is small (the common case — passages
  repeated >= K can number at most N/K), else a shuffle anti-join
  where AQE's skew-join splits the mega-hot keys (an empty-norm or
  cookie-banner passage repeated 10^9 times lands on one reducer
  otherwise; the probe/broadcast hybrid mirrors
  operators/graph.connected_components);
- reassembly is ONE (doc_id, pos, para) shuffle — the unavoidable
  group-by-document; everything upstream of it carries hashes, not
  text.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

from .util import WS_CLASS

# matching is on a normalized key (whitespace-collapsed, trimmed,
# lowercased) but the ORIGINAL paragraph bytes are what's kept —
# surviving text is byte-preserved
def _norm(col):
    return F.lower(F.trim(F.regexp_replace(col, WS_CLASS, " ")))


def _split_sep(text, sep: str):
    """Split on ``sep`` as a LITERAL separator. F.split takes a Java
    regex; \\Q...\\E quoting keeps it in lockstep with the literal
    array_join reassembly and the DuckDB string_split oracle (review
    r06a: sep='||' used to explode every character). A sep containing
    the closing quote '\\E' cannot be quoted this way — fail loudly."""
    if "\\E" in sep:
        raise ValueError(r"paragraph sep must not contain \E")
    return F.split(text, "\\Q" + sep + "\\E")


def _paragraphs(docs: DataFrame, text_col: str, id_col: str,
                sep: str) -> DataFrame:
    from .util import ensure_parallelism

    # NULL text is '' (the repo-wide NULL-text rule — review r06a:
    # posexplode of a NULL array silently DROPS the document)
    t = F.coalesce(F.col(text_col), F.lit(""))
    # ensure_parallelism: the split + explode + md5-per-passage map
    # side ran single-task on a one-split corpus scan (r07 measured
    # 3.5 CPU-s in one task at sf1.0); no-op at production scale
    return (ensure_parallelism(docs)
            .select(id_col,
                    F.posexplode(_split_sep(t, sep))
                    .alias("pos", "para"))
            .withColumn("pkey", F.md5(_norm(F.col("para")))))


def passage_counts(docs: DataFrame, min_repeat: int = 2,
                   text_col: str = "text", id_col: str = "doc_id",
                   sep: str = "\n", min_len: int = 1) -> DataFrame:
    """(pkey, passage, n_occurrences, n_docs) for every normalized
    passage repeated >= ``min_repeat`` times corpus-wide — the
    observability face of paragraph_dedup (what WOULD be dropped).
    ``passage`` is the lexicographic min of the original spellings
    (deterministic, oracle-friendly). One two-phase aggregate."""
    paras = _paragraphs(docs, text_col, id_col, sep)
    return (paras
            .filter(F.length(_norm(F.col("para"))) >= min_len)
            .groupBy("pkey")
            .agg(F.min("para").alias("passage"),
                 F.count(F.lit(1)).alias("n_occurrences"),
                 F.countDistinct(id_col).alias("n_docs"))
            .filter(F.col("n_occurrences") >= min_repeat))


def paragraph_dedup(docs: DataFrame, min_repeat: int = 10, *,
                    text_col: str = "text", id_col: str = "doc_id",
                    sep: str = "\n", min_len: int = 1,
                    broadcast_threshold: int = 200_000,
                    stats_out: Optional[dict] = None) -> DataFrame:
    """Drop every passage whose normalized form occurs >= ``min_repeat``
    times across the corpus; reassemble each document from its
    SURVIVING paragraphs in original order, bytes untouched.

    Returns (id_col, text_dedup, n_paragraphs, n_dropped) — one row per
    input document (a fully-boilerplate document keeps its row with
    ``text_dedup = ''``).

    Passages shorter than ``min_len`` normalized chars (default 1 —
    i.e. only empty/whitespace-only lines) are never counted or
    dropped: blank separator lines are formatting, not boilerplate.

    ``min_repeat`` is a corpus-size-relative knob (Lee et al. drop at
    low single-digit duplication within a shard; corpus-wide counts
    want a higher bar) — callers own the policy.
    """
    paras = _paragraphs(docs, text_col, id_col, sep)

    # pinned: the probe count and the anti-join are two actions over
    # this aggregate — unpinned, the corpus-wide passage scan + (pkey,
    # count) shuffle (the operator's dominant cost) would run TWICE
    # (review r06a). The pinned table is pkeys only, at most N/K rows.
    hot = (paras
           .filter(F.length(_norm(F.col("para"))) >= min_len)
           .groupBy("pkey")
           .agg(F.count(F.lit(1)).alias("c"))
           .filter(F.col("c") >= min_repeat)
           .select("pkey")
           .localCheckpoint(eager=False))

    # hybrid: bounded probe, broadcast the hot set when small — turns
    # the anti-join map-side and kills hot-key skew
    probe = hot.limit(broadcast_threshold + 1).count()
    if stats_out is not None:
        stats_out["hot_probe"] = probe
        stats_out["hot_broadcast"] = probe <= broadcast_threshold
    if probe <= broadcast_threshold:
        hot = F.broadcast(hot)

    survivors = paras.join(hot, "pkey", "left_anti")

    kept = (survivors
            .groupBy(id_col)
            .agg(F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.struct("pos", "para"))),
                         lambda s: s["para"]),
                     sep).alias("text_dedup"),
                 F.count(F.lit(1)).alias("n_kept")))

    base = docs.select(
        id_col,
        F.size(_split_sep(F.coalesce(F.col(text_col), F.lit("")), sep))
        .cast("bigint").alias("n_paragraphs"))
    return (base
            .join(kept, id_col, "left")
            .select(id_col,
                    F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
                    "n_paragraphs",
                    (F.col("n_paragraphs")
                     - F.coalesce("n_kept", F.lit(0)))
                    .cast("bigint").alias("n_dropped")))
