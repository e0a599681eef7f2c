"""Deterministic training-mixture sampling — per-source weighted
subsampling of a corpus (the domain-mixing step of every pretraining
data recipe: web 0.6, books 2 epochs, code 0.1, ...). Sampling must be
DETERMINISTIC in the document id so reruns, resumes and audits see the
same mix — no RNG state, no seed plumbing.

No reference counterpart; LLM-pipeline brief.

The keep decision is pure column algebra, map-only, exactly replicable
in SQL: a document survives iff the first 8 hex chars of
md5(CAST(id AS VARCHAR)) compare lexicographically below the source's
threshold string. Lowercase-hex comparison is monotone with the 32-bit
value, so the threshold format(int(w * 16^8), '08x') keeps each source
at rate w with md5-uniform selection — and BOTH engines compare the
same strings, so there is nothing to drift (the repo's
generate-the-oracle-from-the-same-table rule).

100 TB shape: a WHEN-chain over the (small, recipe-sized) weight dict —
no join, no shuffle, whole-stage codegen; composes with any downstream
operator. mixture_sample is subsampling only (w <= 1, rejected loudly
above); the w > 1 half of a recipe is epoch_upsample below (explode on
floor(w) + a salted-key fractional epoch). quota_sample is the
absolute-count face.
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import DataFrame, functions as F

from .util import free_column

_SPACE = 16 ** 8  # 8 hex chars


def weight_threshold(w: float) -> Optional[str]:
    """The 8-char lowercase-hex threshold for rate ``w`` (None = keep
    everything). Shared by the Spark operator and the SQL oracle
    generator so the two engines compare identical strings."""
    if w < 0 or w > 1:
        raise ValueError(f"mixture weight must be in [0, 1], got {w}")
    if w >= 1:
        return None
    return format(int(w * _SPACE), "08x")


def _key(id_col: str):
    return F.substring(F.md5(F.col(id_col).cast("string")), 1, 8)


def _when_chain(per_source: Dict[str, object], default, source_col: str):
    """Fold a recipe into ONE column: start from the default, wrap
    WHEN(source == key, value) in sorted key order. A NULL source
    never equals any recipe key, so it falls through to the default —
    this helper is the single place that convention lives (review
    r06d: the fold was hand-rolled in four faces)."""
    out = default
    for src, v in sorted(per_source.items()):
        out = F.when(F.col(source_col) == src, v).otherwise(out)
    return out


def _keep_predicate(weights: Dict[str, float], default_weight: float,
                    source_col: str, id_col: str):
    """The shared keep column: a WHEN chain over the recipe."""
    def gate(thr: Optional[str]):
        return F.lit(True) if thr is None else _key(id_col) < F.lit(thr)

    return _when_chain(
        {src: gate(weight_threshold(w)) for src, w in weights.items()},
        gate(weight_threshold(default_weight)), source_col)


def mixture_sample(docs: DataFrame, weights: Dict[str, float], *,
                   default_weight: float = 1.0,
                   source_col: str = "source",
                   id_col: str = "doc_id") -> DataFrame:
    """Keep each document with its source's rate, deterministically in
    ``id_col``. Sources absent from ``weights`` use
    ``default_weight``. Returns the input columns of survivors."""
    return docs.filter(_keep_predicate(weights, default_weight,
                                       source_col, id_col))


def mixture_stats(docs: DataFrame, weights: Dict[str, float], *,
                  default_weight: float = 1.0,
                  source_col: str = "source",
                  id_col: str = "doc_id") -> DataFrame:
    """Observability face: per source, corpus count, sampled count and
    the realized rate x1000 (fixed-point) next to the requested rate
    x1000 — the drift an operator watches (md5-uniformity error shrinks
    as 1/sqrt(n)).

    ONE pass: the keep decision is a conditional sum inside the same
    grouped aggregate as the corpus count (a separate sampled-side
    aggregate left-joined back on source was both a second scan and a
    null-unsafe join — a NULL source group reported n_sampled=0 even
    when its docs survived under the default rate; review r06b)."""
    keep = _keep_predicate(weights, default_weight, source_col, id_col)
    req_col = _when_chain(
        {src: F.lit(int(1000 * w)) for src, w in weights.items()},
        F.lit(int(1000 * default_weight)), source_col)
    return (docs.groupBy(source_col)
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.when(keep, 1).otherwise(0)).cast("bigint")
                 .alias("n_sampled"))
            .select(source_col, "n_docs", "n_sampled",
                    (F.lit(1000).cast("long") * F.col("n_sampled")
                     / F.col("n_docs")).cast("bigint")
                    .alias("rate_x1000"),
                    req_col.cast("bigint").alias("requested_x1000")))


def quota_sample(docs: DataFrame, quotas: Dict[str, int], *,
                 default_quota: Optional[int] = None,
                 source_col: str = "source",
                 id_col: str = "doc_id") -> DataFrame:
    """Exact per-source quotas — "take at most N documents per source"
    (the absolute-count sibling of mixture_sample's rates). Selection
    is the md5-order prefix of each source, so it is deterministic in
    the id, stable under reruns, and a SUBSET relation holds across
    quota sizes (the 1M-doc sample contains the 100k one — audits can
    shrink a recipe without resampling).

    Sources absent from ``quotas`` keep ``default_quota`` docs
    (None = unlimited). A NULL source never equals any recipe key and
    rides the default, the mixture_sample convention. Returns the
    input columns of survivors.

    100 TB shape: the rank <= K filter over the row_number window is
    rewritten by Spark's WindowGroupLimit rule into a per-partition
    partial top-K BEFORE the shuffle, so a mega-source never sorts
    globally — each task forwards at most K rows per source (pinned by
    tests/test_plans.py). Unlimited-quota sources skip the window
    entirely via a pre-split union."""
    for src, q in quotas.items():
        if q < 0:
            raise ValueError(f"quota must be >= 0, got {q} for {src!r}")
    if default_quota is not None and default_quota < 0:
        raise ValueError("default_quota must be >= 0 or None")

    capped_srcs = sorted(quotas)
    # coalesce: IN is NULL (not false) for a NULL source, and a bare
    # ~IN filter would drop NULL-source rows from BOTH branches — a
    # NULL source rides the default, the mixture_sample convention
    in_capped = F.coalesce(F.col(source_col).isin(capped_srcs),
                           F.lit(False)) if capped_srcs else F.lit(False)

    # unlimited sources never enter the window (no top-K, no shuffle)
    if default_quota is None:
        free = docs.filter(~in_capped)
        capped = docs.filter(in_capped)
    else:
        free = docs.filter(F.lit(False))
        capped = docs

    if not quotas and default_quota is None:
        return docs

    quota_col = _when_chain(
        {src: F.lit(q) for src, q in quotas.items()},
        F.lit(default_quota) if default_quota is not None
        else F.lit(None).cast("int"), source_col)

    from pyspark.sql import Window
    w = Window.partitionBy(source_col).orderBy(_key(id_col),
                                               F.col(id_col))
    # the LITERAL bound (largest quota in play) is what lets Spark's
    # InferWindowGroupLimit rewrite the filter into a per-partition
    # partial top-K before the shuffle — a column-valued bound alone
    # defeats the rule; the per-source column compare then trims
    # exactly
    caps = list(quotas.values()) \
        + ([default_quota] if default_quota is not None else [])
    max_cap = max(caps) if caps else 0
    rank_col = free_column(docs, "_rank")  # the input may carry '_rank'
    kept = (capped
            .withColumn(rank_col, F.row_number().over(w))
            .filter((F.col(rank_col) <= F.lit(max_cap))
                    & (F.col(rank_col) <= quota_col))
            .drop(rank_col))
    return free.unionByName(kept)


def epoch_upsample(docs: DataFrame, weights: Dict[str, float], *,
                   default_weight: float = 1.0,
                   source_col: str = "source",
                   id_col: str = "doc_id",
                   max_epochs: int = 1000) -> DataFrame:
    """Epoch up-sampling — the w > 1 half of the mixture recipe that
    mixture_sample rejects ("books x2.4 epochs"): every document is
    emitted floor(w) times plus one more iff its salted md5 key clears
    frac(w). Deterministic in the id, no RNG. Returns the input
    columns + ``epoch`` (0-based copy index — ids are intentionally no
    longer unique; (id, epoch) is).

    Works for any w >= 0 (w < 1 degenerates to subsampling on the
    SALTED key — use mixture_sample when id-stable subsets matter).
    Weights above ``max_epochs`` fail loudly: an explode factor of
    10^6 is a recipe typo, not a plan.

    100 TB shape: a WHEN chain + one explode(sequence) Generate —
    map-side linear in the OUTPUT size, no shuffle, no join."""
    for src, w in weights.items():
        if w < 0:
            raise ValueError(f"epoch weight must be >= 0, got {w} "
                             f"for {src!r}")
        if w > max_epochs:
            raise ValueError(f"epoch weight {w} for {src!r} exceeds "
                             f"max_epochs={max_epochs}")
    if default_weight < 0 or default_weight > max_epochs:
        raise ValueError("default_weight out of [0, max_epochs]")
    if "epoch" in docs.columns:
        raise ValueError("input already has an 'epoch' column — "
                         "epoch_upsample emits it as the copy index")

    # the fractional-epoch key is SALTED so it is independent of
    # mixture_sample's keep key (an unsalted key would correlate the
    # extra epoch with subsample survival)
    salted = F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":epoch"))),
        1, 8)

    def n_epochs(w: float):
        base = int(w)
        thr = weight_threshold(w - base) if w - base > 0 else None
        n = F.lit(base)
        if thr is not None:
            n = n + F.when(salted < F.lit(thr), 1).otherwise(0)
        return n

    n_col = _when_chain(
        {src: n_epochs(w) for src, w in weights.items()},
        n_epochs(default_weight), source_col)

    epochs = F.when(n_col > 0,
                    F.sequence(F.lit(0), n_col - 1)) \
        .otherwise(F.array().cast("array<int>"))
    # cast outside the generator (a cast-wrapped explode is rejected)
    return (docs
            .withColumn("epoch", F.explode(epochs))
            .withColumn("epoch", F.col("epoch").cast("bigint")))


def split_thresholds(splits: Dict[str, int]) -> list:
    """[(name, upper_hex)] cumulative range bounds for split_corpus —
    shared by the Spark operator and the SQL oracle generator so the
    two engines compare identical strings (the weight_threshold
    pattern). The LAST split has no bound (it absorbs the top range
    and, by when-chain fallthrough, NULL ids)."""
    names = sorted(splits)
    if len(names) < 2:
        raise ValueError(
            f"split_corpus: need >= 2 splits, got {names!r}")
    for name in names:
        w = splits[name]
        if not isinstance(w, int) or isinstance(w, bool) or w < 1:
            raise ValueError(
                f"split_corpus: weights are positive integer "
                f"per-mille shares, got {name!r}: {w!r}")
    if sum(splits.values()) != 1000:
        raise ValueError(
            f"split_corpus: per-mille shares must sum to 1000, got "
            f"{sum(splits.values())} from {splits!r}")
    out, cum = [], 0
    for name in names[:-1]:
        cum += splits[name]
        out.append((name, format(cum * _SPACE // 1000, "08x")))
    out.append((names[-1], None))
    return out


def split_corpus(docs: DataFrame, splits: Dict[str, int], *,
                 salt: str = "split",
                 id_col: str = "doc_id") -> DataFrame:
    """Deterministic disjoint train/val/test partitioning: input
    columns + a ``split`` string column. Per-mille integer shares
    (e.g. {'train': 980, 'val': 10, 'test': 10}) MUST sum to exactly
    1000 — the assignment is a partition, nothing dropped, nothing
    duplicated.

    Assignment is the salted-md5 range rule: the first 8 hex chars of
    md5(id || salt) land in cumulative ranges over the sorted split
    names. Deterministic in the id (reruns and audits agree), SALTED
    so membership is independent of the mixture_sample/epoch_upsample
    keys (a doc subsampled at rate w is not biased into one split —
    the epoch_upsample rationale). A NULL id hashes to NULL, fails
    every range compare, and falls through to the lexicographically
    last split — deterministic, documented, never dropped.

    100 TB shape: pure map-only column algebra (a when-chain over the
    recipe), no join, no shuffle, whole-stage codegen."""
    if "split" in docs.columns:
        # silently overwriting an existing assignment would be
        # undetectable data loss downstream (the epoch_upsample
        # 'epoch' convention; review r06f)
        raise ValueError("input already has a 'split' column — "
                         "split_corpus emits it as the assignment")
    ths = split_thresholds(splits)
    key = F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))),
        1, 8)
    out = F.lit(ths[-1][0])
    for name, upper in reversed(ths[:-1]):
        out = F.when(key < F.lit(upper), F.lit(name)).otherwise(out)
    return docs.withColumn("split", out)
