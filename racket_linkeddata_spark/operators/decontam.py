"""Benchmark decontamination — flag training documents that share word
n-grams with an evaluation/benchmark corpus (the GPT-3 appendix-C /
PaLM decontamination shape: any 13-gram collision marks the training
doc). The standard pre-training step the pipeline was missing next to
dedup and quality filtering.

No reference counterpart (racket-linkeddata does no text analysis);
LLM-pipeline brief.

100 TB shape:
- the benchmark side is SMALL by nature (eval sets are MBs): its
  distinct n-gram set is broadcast, so the contaminated-gram probe is a
  map-side hash join — the training corpus's exploded n-grams are
  filtered to hits BEFORE the only shuffle;
- the only shuffle is the per-doc hit count over hit rows (a vanishing
  fraction of the corpus), plus the left join back to doc ids;
- per-doc total gram counts come from size(shingles) map-side — the
  full gram stream never aggregates globally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .textstats import shingles_arrow


def contamination_stats(docs: DataFrame, benchmark: DataFrame,
                        n: int = 13, *, min_hits: int = 1,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """(doc_id, n_grams, n_hits, is_contaminated) for every training
    document: distinct word ``n``-grams, how many of them occur in the
    benchmark corpus, and the ``>= min_hits`` verdict. Documents
    shorter than ``n`` tokens have 0 grams and are never contaminated
    (matching shingles' short-doc guard).

    ``benchmark`` only needs ``text_col``; it is reduced to its
    distinct n-gram set and broadcast — callers with a multi-GB
    "benchmark" should pre-shard it instead.

    ``docs`` is referenced by two branches (the gram explode and the
    per-doc gram-count base) — pass a pinned/cheap lineage, or the
    upstream plan evaluates twice (the repo's self-join-over-expensive-
    trees gotcha)."""
    grams = shingles_arrow(n)
    bench_grams = (benchmark
                   .select(F.explode(grams(F.col(text_col)))
                           .alias("g"))
                   .distinct())
    doc_grams = docs.select(
        F.col(id_col),
        F.explode(grams(F.col(text_col))).alias("g"))
    hits = (doc_grams
            .join(F.broadcast(bench_grams), "g")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_hits")))
    base = docs.select(
        F.col(id_col),
        F.size(grams(F.col(text_col))).cast("bigint")
        .alias("n_grams"))
    return (base
            .join(hits, id_col, "left")
            .select(id_col, "n_grams",
                    F.coalesce("n_hits", F.lit(0)).cast("bigint")
                    .alias("n_hits"))
            .withColumn("is_contaminated",
                        F.col("n_hits") >= min_hits))


def decontaminate(docs: DataFrame, benchmark: DataFrame,
                  n: int = 13, *, min_hits: int = 1,
                  text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """The filter face: training docs with NO benchmark collision
    (``n_hits < min_hits``). Returns the input columns of survivors.

    Anti-joins on the CONTAMINATED id set rather than inner-joining on
    the clean set (review r06b): a NULL-``id_col`` row can never be
    attributed a hit (contamination_stats' id-keyed left join reports
    it n_hits=0), so an inner join that silently dropped it diverged
    from the stats face and from the SQL ``ANTI JOIN`` replica. This
    also skips the per-doc gram-count branch entirely — the
    contaminated set needs only the (tiny) hit aggregate."""
    grams = shingles_arrow(n)
    bench_grams = (benchmark
                   .select(F.explode(grams(F.col(text_col)))
                           .alias("g"))
                   .distinct())
    contam = (docs.select(F.col(id_col),
                          F.explode(grams(F.col(text_col)))
                          .alias("g"))
              .join(F.broadcast(bench_grams), "g")
              .groupBy(id_col)
              .agg(F.count(F.lit(1)).alias("n_hits"))
              .filter(F.col("n_hits") >= min_hits)
              .select(id_col))
    return docs.join(contam, id_col, "left_anti")


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
    CONTAMINATED id set (the decontaminate() convention: NULL-id rows
    can never be attributed a collision and must survive)."""
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
