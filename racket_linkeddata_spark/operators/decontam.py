"""Benchmark decontamination — flag training documents that share word
n-grams with an evaluation/benchmark corpus (the GPT-3 appendix-C /
PaLM decontamination shape: any 13-gram collision marks the training
doc). The standard pre-training step the pipeline was missing next to
dedup and quality filtering.

No reference counterpart (racket-linkeddata does no text analysis);
LLM-pipeline brief.

100 TB shape:
- the benchmark side is SMALL by nature (eval sets are MBs): its
  distinct n-gram set is collected once and broadcast as a frozenset;
- each training document is decided from its own text by one Arrow
  kernel (contamination_udf) that counts its distinct grams and how
  many the set holds: map-only, no gram stream, no shuffle, no join
  back on the id.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .textstats import word_grams


def contamination_udf(benchmark: DataFrame, n: int = 13,
                      text_col: str = "text"):
    """The contamination kernel as a column function: text ->
    struct<n_grams, n_hits>, the document's distinct word ``n``-grams
    (textstats.word_grams: fewer than ``n`` tokens or NULL -> 0) and
    how many of them occur in ``benchmark``. ``benchmark`` only needs
    ``text_col``; its distinct gram set is built from one collect on the
    calling thread and broadcast — callers with a multi-GB "benchmark"
    should pre-shard it instead."""
    held = benchmark.sparkSession.sparkContext.broadcast(frozenset(
        g for (t,) in benchmark.select(text_col).collect()
        for g in word_grams(t, n)))

    @F.pandas_udf("struct<n_grams:bigint, n_hits:bigint>")
    def contam_udf(texts: pd.Series) -> pd.DataFrame:
        from .util import worker_runtime_tune
        worker_runtime_tune()
        bench = held.value
        rows = [(len(g), len(bench.intersection(g)))
                for g in (word_grams(t, n) for t in texts)]
        return pd.DataFrame(rows, columns=["n_grams", "n_hits"],
                            dtype="int64")
    return contam_udf


def contamination_stats(docs: DataFrame, benchmark: DataFrame,
                        n: int = 13, *, min_hits: int = 1,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """(doc_id, n_grams, n_hits, is_contaminated) for every training
    document, one projection of the row: distinct word ``n``-grams, how
    many of them occur in the benchmark corpus, and the ``>= min_hits``
    verdict. Documents shorter than ``n`` tokens have 0 grams and are
    never contaminated (matching shingles' short-doc guard).

    Each row is decided from its own text: rows sharing an id get their
    own counts. A NULL-``id_col`` row is never attributed a hit
    (n_hits = 0), the verdict the SQL replica's join on the id gives."""
    c = contamination_udf(benchmark, n, text_col)(F.col(text_col))
    n_hits = F.when(F.col(id_col).isNull(), 0).otherwise(c["n_hits"])
    return docs.select(F.col(id_col), c["n_grams"].alias("n_grams"),
                       n_hits.alias("n_hits"),
                       (n_hits >= min_hits).alias("is_contaminated"))


def decontaminate(docs: DataFrame, benchmark: DataFrame,
                  n: int = 13, *, min_hits: int = 1,
                  text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """The filter face: training docs with NO benchmark collision
    (``n_hits < min_hits``), one Filter on the row. Returns the input
    columns of survivors.

    Same verdicts as contamination_stats: a NULL-``id_col`` row is
    never attributed a hit, so it survives (the SQL ``ANTI JOIN``
    replica keeps it too), and a clean row that shares its id with a
    contaminated row is kept."""
    c = contamination_udf(benchmark, n, text_col)(F.col(text_col))
    return docs.filter(F.col(id_col).isNull() | (c["n_hits"] < min_hits))


def _validate_banding(k: int, bands: int):
    """bands > k makes rows_per_band = k // bands = 0: every bucket
    degenerates to the empty string, which equals the empty-signature
    sentinel, so BOTH sides' band tables filter to nothing and the
    probe silently reports a clean corpus — reject loudly instead
    (review r06e)."""
    if bands < 1 or bands > k:
        raise ValueError(
            f"fuzzy decontamination: bands must be in [1, k] "
            f"(k={k}, got bands={bands}); bands > k would make every "
            f"band bucket empty and the probe a silent no-op")


def _bands_for(df: DataFrame, n: int, k: int, bands: int,
               text_col: str, id_col: str, out_id: str) -> DataFrame:
    """(out_id, band, bucket) MinHash-LSH band table with the
    EMPTY-SIGNATURE bands removed: a doc with fewer than ``n`` tokens
    minhashes to the all-sentinel signature (textstats._minhash_cols'
    array_repeat fallback), so every short doc would collide with every
    other in every band — on a web corpus the classic degenerate
    bucket.  The sentinel bucket string is exactly known (the Mersenne
    sentinel repeated rows-per-band times), so one literal inequality
    removes it; semantically this is decontam's existing rule — a doc
    with no n-grams can never be contaminated."""
    from .textstats import _MERSENNE, _lsh_band_table

    renamed = df.select(F.col(id_col).alias("doc_id"),
                        F.col(text_col).alias("text"))
    sentinel = "\x1f".join([str(_MERSENNE)] * (k // bands))
    return (_lsh_band_table(renamed, n, k, bands)
            .filter(F.col("bucket") != sentinel)
            .select(F.col("doc_id").alias(out_id), "band", "bucket"))


def fuzzy_contamination(docs: DataFrame, benchmark: DataFrame, *,
                        n: int = 3, k: int = 16, bands: int = 4,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """MinHash-LSH NEAR-duplicate decontamination probe — the fuzzy
    sibling of contamination_stats (which needs a verbatim n-gram hit;
    a lightly paraphrased or whitespace-perturbed benchmark leak slips
    past it, the documented gap this closes).

    Returns (id_col, bench_id, n_shared_bands): every (training doc,
    benchmark doc) pair whose MinHash signatures collide in >= 1 band,
    with the band count as match strength (the LSH S-curve in
    textstats.lsh_plan maps (bands, rows) to an effective Jaccard
    threshold).  Benchmark rows need (id_col, text_col).

    100 TB shape: both sides are map-only signature pipelines; the
    benchmark band table is broadcast (eval sets are MBs), so the probe
    is a map-side hash join — corpus bands never shuffle; the only
    exchange is the (doc, bench) count aggregate over HITS.  Empty
    signatures (docs shorter than ``n`` tokens) are excluded on both
    sides by construction — see _bands_for."""
    _validate_banding(k, bands)
    if id_col in ("bench_id", "n_shared_bands"):
        raise ValueError(
            f"fuzzy_contamination: id_col cannot be {id_col!r} — it "
            f"would collide with the other output columns "
            f"(bench_id, n_shared_bands)")
    from .util import ensure_parallelism

    # only the corpus side fans out: the benchmark side is an eval set
    # (MBs, often a few rows), and fanning a 20-row table out to 64
    # partitions cost 16 CPU-s of per-task Arrow-UDF overhead for zero
    # gain (r07 profile)
    cb = _bands_for(ensure_parallelism(docs), n, k, bands, text_col,
                    id_col, "doc_id")
    bb = _bands_for(benchmark, n, k, bands, text_col, id_col, "bench_id")
    return (cb.join(F.broadcast(bb), ["band", "bucket"])
            .groupBy("doc_id", "bench_id")
            .agg(F.count(F.lit(1)).alias("n_shared_bands"))
            .select(F.col("doc_id").alias(id_col), "bench_id",
                    "n_shared_bands"))


def fuzzy_decontaminate(docs: DataFrame, benchmark: DataFrame, *,
                        n: int = 3, k: int = 16, bands: int = 4,
                        min_bands: int = 1,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """The filter face: drop training docs whose signature collides
    with any benchmark doc in >= ``min_bands`` bands.  Anti-join on the
    CONTAMINATED id set: a collision is attributed to an id, so a
    NULL-id row is never attributed one and survives (decontaminate's
    NULL-id verdict)."""
    if min_bands < 1:
        raise ValueError(
            f"fuzzy_decontaminate: min_bands must be >= 1, got "
            f"{min_bands} (0 would drop nothing-matched docs)")
    contam = (fuzzy_contamination(docs, benchmark, n=n, k=k,
                                  bands=bands, text_col=text_col,
                                  id_col=id_col)
              .groupBy(id_col)
              .agg(F.max("n_shared_bands").alias("best"))
              .filter(F.col("best") >= min_bands)
              .select(id_col))
    return docs.join(contam, id_col, "left_anti")
