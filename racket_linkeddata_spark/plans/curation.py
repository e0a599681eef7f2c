"""The composed training-data curation plan — ONE copy of the
end-to-end prep pipeline, shared by the driver query
(``__spark_entry__.q_training_data_prep``, oracle-pinned) and the
spark-submit CLI (``jobs/prep_job.py``):

  1. exact dedup (full-text md5, keep min id);
  2. near-dup dedup: MinHash-LSH candidates -> exact Jaccard verify on
     candidate-only shingles -> connected components -> one keeper;
  3. quality gate (full C4/Gopher signal set, fixed-point);
  4. benchmark decontamination (optional — broadcast gram probe);
  5. deterministic mixture sampling (optional recipe);
  6. annotate survivors: language + BPE token price.

Every stage is the corresponding operator module; this file only
composes them and pins the twice-consumed intermediates (the
self-join-over-expensive-trees gotcha).
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
    for pricing (default: the tiny closed-form pair)."""
    from racket_linkeddata_spark.operators.bpe import bpe_token_count
    from racket_linkeddata_spark.operators.decontam import decontaminate
    from racket_linkeddata_spark.operators.graph import dedup_keepers
    from racket_linkeddata_spark.operators.langid import lang_id_model
    from racket_linkeddata_spark.operators.mixture import mixture_sample
    from racket_linkeddata_spark.operators.textstats import (
        near_dup_pairs, quality_gate)
    from racket_linkeddata_spark.operators.util import parallel_checkpoint

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
        d.join(keep1, "doc_id"))  # consumed by 3 stages

    # stage 2: near-dup, scoped to exact-dedup survivors
    verified = near_dup_pairs(surv, jaccard_threshold)
    kept = (dedup_keepers(verified, surv.select("doc_id"))
            .filter("keep").select("doc_id"))

    # stage 3: the composed quality gate (full signal set; fixed-point)
    # pinned: consumed twice by decontaminate (gram explode + the
    # survivor anti-join)
    qk = dict(min_tokens=5, max_tokens=100_000,
              min_mean_word_len_x1000=2000, max_mean_word_len_x1000=20_000,
              min_stopwords=1, max_symbol_x1000=100,
              max_bullet_x1000=900, max_ellipsis_x1000=300)
    qk.update(quality_kwargs or {})
    gated = parallel_checkpoint(quality_gate(
        surv.join(kept, "doc_id").select("doc_id", "text", "source"),
        **qk))

    # stage 4: benchmark decontamination (broadcast gram probe)
    clean = decontaminate(gated, benchmark, n=decontam_n) \
        if benchmark is not None else gated

    # stage 5: deterministic mixture sampling; pinned: stage 6 fans it
    # out to three branches
    mixed = mixture_sample(clean, mixture_weights,
                           default_weight=default_weight) \
        if mixture_weights else clean
    mixed = parallel_checkpoint(mixed)

    # stage 6: annotate survivors — both map-only ops
    lang = lang_id_model(mixed).select("doc_id", "lang")
    bpe = bpe_token_count(mixed, merges or [("t", "h"), ("th", "e")])
    return mixed.select("doc_id").join(lang, "doc_id").join(bpe, "doc_id")
