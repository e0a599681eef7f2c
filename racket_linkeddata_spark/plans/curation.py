"""The composed training-data curation plan — ONE copy of the
end-to-end prep pipeline, shared by the driver query
(``__spark_entry__.q_training_data_prep``, oracle-pinned) and the
spark-submit CLI (``jobs/prep_job.py``):

  1. exact dedup (full-text md5, keep min id) -> the survivors, pinned;
  then two branches over the survivors, run as concurrent Spark jobs
  (``operators.util.concurrently``):
  A. near-dup losers:
     2. near-dup dedup: MinHash-LSH candidates -> exact Jaccard verify
        on candidate-only shingles -> connected components; each
        cluster keeps its minimum id, the other ids are dropped;
  B. per-document work, map-only but for decontamination's anti join:
     3. quality gate, a row filter (C4/Gopher signals, fixed-point);
     4. benchmark decontamination (optional — broadcast gram probe);
     5. deterministic mixture sampling (optional recipe);
     6. annotate language + BPE token price in one projection, pinned;
  and once both have finished, B's rows left-anti-joined to A's ids.

The branches read nothing of each other. Every step of B keeps or
annotates a document from that document's own columns (the benchmark
is fixed; the mixture is a per-source md5 threshold on doc_id), so it
commutes with removing the near-dup losers, and A chooses them over
the same survivors in both orders: the output is the serial chain's
(2 to 6), which the DuckDB oracle keeps. B also filters and annotates
the losers, whose work it drops at the join; in exchange its jobs
overlap A's instead of waiting for them. The anti join reads only the
losers (the dropped ids of dedup_keepers' verdicts); a semi join to the
keepers would first rejoin every survivor id to the clusters.

Every stage is an operator module's (stage 6 calls the langid and BPE
kernels as column functions); this file composes them and pins the
twice-consumed intermediates (the self-join-over-expensive-trees gotcha).
"""

from __future__ import annotations

from typing import Dict, List, Optional, Tuple

from pyspark.sql import DataFrame, functions as F


def prep_corpus(docs: DataFrame, *,
                benchmark: Optional[DataFrame] = None,
                mixture_weights: Optional[Dict[str, float]] = None,
                default_weight: float = 1.0,
                merges: Optional[List[Tuple[str, str]]] = None,
                jaccard_threshold: float = 0.5,
                decontam_n: int = 8,
                quality_kwargs: Optional[dict] = None) -> DataFrame:
    """(doc_id, lang, n_tokens) for the documents a training run would
    keep. ``docs`` needs (doc_id, text, source). ``benchmark`` (a
    one-column text table) enables decontamination; ``mixture_weights``
    enables per-source subsampling; ``merges`` is the BPE merge table
    for pricing (default: the tiny closed-form pair). Runs as two
    concurrent branches joined once at the end (module docstring)."""
    from racket_linkeddata_spark.operators.bpe import bpe_count_udf
    from racket_linkeddata_spark.operators.decontam import decontaminate
    from racket_linkeddata_spark.operators.graph import (
        connected_components)
    from racket_linkeddata_spark.operators.langid import lang_id_udf
    from racket_linkeddata_spark.operators.mixture import mixture_sample
    from racket_linkeddata_spark.operators.textstats import (
        near_dup_pairs, quality_gate)
    from racket_linkeddata_spark.operators.util import (
        concurrently, parallel_checkpoint)

    d = docs
    # stage 1: exact dedup — one map-side-combinable aggregate on the
    # text hash, survivors rejoined by id.
    #
    # Every pin below is util.parallel_checkpoint: these small join
    # outputs land in ONE partition (a broadcast join inherits the
    # single-split scan; a shuffle join gets AQE-coalesced), a plain
    # localCheckpoint stores them that way, and every downstream
    # CPU-bound stage (the minhash tree, the 8-gram decontam explode,
    # the quality signals, the langid/BPE UDFs) would run single-task
    # — measured 28 s for the minhash stage alone at sf1.0, and a
    # bare repartition on top is not enough because Catalyst pushes
    # projections through it (see parallel_checkpoint's docstring).
    # No-op at production scale (partition probe).
    keep1 = (d.select("doc_id", F.md5("text").alias("th"))
             .groupBy("th").agg(F.min("doc_id").alias("doc_id"))
             .select("doc_id"))
    surv = parallel_checkpoint(
        d.join(keep1, "doc_id"))  # read by both branches

    def dropped() -> DataFrame:
        # branch A, stage 2: near-dup clusters over the exact-dedup
        # survivors. A cluster keeps its minimum id, the component
        # label (graph.dedup_keepers' rule); its other members are
        # dropped. Survivors in no cluster keep themselves.
        comp = connected_components(near_dup_pairs(surv, jaccard_threshold))
        return (comp.filter(F.col("cluster_id") != F.col("id"))
                .select(F.col("id").alias("doc_id")))

    qk = dict(min_tokens=5, max_tokens=100_000,
              min_mean_word_len_x1000=2000, max_mean_word_len_x1000=20_000,
              min_stopwords=1, max_symbol_x1000=100,
              max_bullet_x1000=900, max_ellipsis_x1000=300)
    qk.update(quality_kwargs or {})

    def annotated() -> DataFrame:
        # branch B, stage 3: the quality gate, a row filter. Pinned:
        # read twice by decontaminate (gram explode + anti-join); its
        # plan is narrow over surv, so the pin materializes once
        gated = parallel_checkpoint(quality_gate(
            surv.select("doc_id", "text", "source"), **qk))

        # stage 4: benchmark decontamination (broadcast gram probe)
        clean = decontaminate(gated, benchmark, n=decontam_n) \
            if benchmark is not None else gated

        # stage 5: deterministic mixture sampling. Pinned to fan out
        # the one partition decontaminate's anti join lands in
        mixed = mixture_sample(clean, mixture_weights,
                               default_weight=default_weight) \
            if mixture_weights else clean
        mixed = parallel_checkpoint(mixed)

        # stage 6: annotate survivors in one projection of the row's
        # text. Pinned eagerly, so that the annotation runs on this
        # branch's thread rather than in the caller's final job.
        bpe = bpe_count_udf(merges or [("t", "h"), ("th", "e")])
        return mixed.select(
            "doc_id", lang_id_udf()(F.col("text"))["lang"].alias("lang"),
            bpe(F.col("text")).alias("n_tokens")).localCheckpoint(eager=True)

    drop, ann = concurrently(dropped, annotated)
    return ann.join(drop, "doc_id", "left_anti")
