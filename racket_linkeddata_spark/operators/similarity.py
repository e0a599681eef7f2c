"""Similarity search over an embedding column (array<float>).

- brute_force_topk: exact cosine top-k, all JVM-side (zip_with/aggregate
  dot products + window top-k). Baseline and oracle-checkable.
- lsh_topk: sign-random-projection bucketed variant — the scale path:
  candidates come from equi-joining on hyperplane sign buckets instead of
  the full cross product.

Multimodal columns (image/audio/video as opaque binary + typed metadata)
live in multimodal.py; their feature vectors feed these same operators.
"""

from __future__ import annotations

import math
from typing import List, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a, b):
    """Interpreted higher-order-function cosine — the right form for
    SMALL pair counts (the top-k probes): no Python stage, stays
    inside the JVM pipeline. cosine_arrow below is the bit-identical
    Arrow kernel for candidate-verification volumes (an A/B at sf1.0
    measured the Arrow form 2.6 s faster on the 7.4M-pair near-dup
    verify but 0.7-2.4 s SLOWER on each top-k query, where the extra
    Python stage and the optimizer restrictions of its
    nondeterministic marking outweigh the per-row savings)."""
    return _dot(a, b) / (_norm(a) * _norm(b))


@F.pandas_udf(DoubleType())
def _cosine_arrow(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched cosine, BIT-IDENTICAL to cosine(): the JVM fold
    sums strictly left-to-right, so the kernel accumulates one
    dimension at a time — `acc = acc + a[:, i] * b[:, i]` — vectorized
    ACROSS rows, sequential across dims; every IEEE-754 multiply/add/
    sqrt/divide happens in the same order on the same doubles, and
    np.sqrt / division are correctly-rounded like their JVM
    counterparts. Rounding stays in the JVM (callers wrap in
    F.round), so the full pipeline value is unchanged.

    Ragged, NULL-array, or NULL-element rows fall back to a per-row
    loop with the JVM's NULL semantics (zip_with pads the shorter
    array with NULL; NULL poisons the fold -> NULL out). Arrow
    surfaces a NULL *element* inside an equal-length float vector as
    NaN, indistinguishable from a genuine NaN, so this kernel yields
    NaN for such a row; cosine_arrow masks it to NULL in the JVM. A
    NaN result reaches Spark as NaN, as the JVM fold's does (see
    _doubles)."""
    from .util import worker_runtime_tune
    worker_runtime_tune()
    n = len(a)
    if n == 0:
        return pd.Series([], dtype="float64")
    try:
        ma = np.array(a.tolist(), dtype=np.float64)
        mb = np.array(b.tolist(), dtype=np.float64)
        if ma.ndim != 2 or mb.ndim != 2 or ma.shape != mb.shape:
            raise ValueError
    except (ValueError, TypeError):
        out, null = np.zeros(n), np.zeros(n, dtype=bool)
        for i, (va, vb) in enumerate(zip(a, b)):
            if va is None or vb is None:
                null[i] = True
                continue
            la, lb = list(va), list(vb)
            if len(la) != len(lb) or any(x is None for x in la) \
                    or any(x is None for x in lb):
                null[i] = True
                continue
            d = na = nb = 0.0
            for x, y in zip(la, lb):
                d = d + x * y
            for x in la:
                na = na + x * x
            for y in lb:
                nb = nb + y * y
            den = np.sqrt(na) * np.sqrt(nb)
            if den == 0:
                raise ArithmeticError(_ZERO_NORM_MSG)
            out[i] = np.float64(d) / den
        return _doubles(out, null)
    dot = np.zeros(n)
    na = np.zeros(n)
    nb = np.zeros(n)
    for i in range(ma.shape[1]):
        ca, cb = ma[:, i], mb[:, i]
        dot = dot + ca * cb
        na = na + ca * ca
        nb = nb + cb * cb
    den = np.sqrt(na) * np.sqrt(nb)
    if (den == 0).any():
        # cosine_jvm under ANSI mode (Spark 4 default) fails the job
        # on a zero-norm vector (double DIVIDE_BY_ZERO) — keep the
        # loud-failure contract instead of minting NaN silently
        raise ArithmeticError(_ZERO_NORM_MSG)
    return _doubles(dot / den, np.zeros(n, dtype=bool))


def _doubles(values: np.ndarray, null: np.ndarray) -> pd.Series:
    """A float64 result whose NaNs reach Spark as NaN: Spark masks a
    plain float Series on its way to Arrow (NaN -> NULL), but passes a
    masked-array Series through with only ``null`` as NULL."""
    return pd.Series(pd.arrays.FloatingArray(values, null))


_ZERO_NORM_MSG = (
    "cosine: zero-norm vector (cosine is undefined; ANSI division by "
    "zero) — filter zero vectors before similarity search")


# asNondeterministic: the near-dup call site filters on the cosine
# column, and filter pushdown below the projection DUPLICATES the UDF
# (two ArrowEvalPython nodes for one call — observed in the
# embedding_near_dup_lsh plan; guide-standard fix). The function is
# pure; the marking only forbids the optimizer to clone/reorder it.
_cosine_arrow = _cosine_arrow.asNondeterministic()


def cosine_arrow(a, b):
    """Arrow cosine for candidate-verification volumes (bit-identical
    to cosine(); see _cosine_arrow). A row whose vectors hold a NULL
    element is NULL, as in cosine()'s fold: the kernel cannot tell
    such an element from NaN, so the JVM decides it first."""
    a, b = (F.col(c) if isinstance(c, str) else c for c in (a, b))
    has_null = (F.exists(a, lambda x: x.isNull())
                | F.exists(b, lambda x: x.isNull()))
    return F.when(has_null, F.lit(None)).otherwise(_cosine_arrow(a, b))


def brute_force_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k of each query against the corpus.

    queries is small (broadcast side); corpus side streams. Rounded to 4
    decimals with id tie-break so ranking is reproducible cross-engine.
    """
    from pyspark.sql.window import Window

    from .util import ensure_parallelism

    q = F.broadcast(queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv")))
    c = ensure_parallelism(embeddings).select(
        F.col(id_col).alias("item_id"),
        F.col(vec_col).cast("array<double>").alias("cv"))
    scored = (q.join(c, F.col("query_id") != F.col("item_id"))
              .select("query_id", "item_id",
                      F.round(cosine(F.col("qv"), F.col("cv")), 4)
                      .alias("cos_sim")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("item_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def _hyperplanes(dim: int, n_planes: int) -> List[List[float]]:
    """Deterministic pseudo-random unit hyperplanes (seeded LCG — no RNG
    state, same planes on every executor/run)."""
    planes = []
    state = 88172645463325252
    for _ in range(n_planes):
        v = []
        for _ in range(dim):
            # xorshift64
            state ^= (state << 13) & 0xFFFFFFFFFFFFFFFF
            state ^= state >> 7
            state ^= (state << 17) & 0xFFFFFFFFFFFFFFFF
            v.append(((state % 2_000_001) / 1_000_000.0) - 1.0)
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


def embedding_cosine_pairs(embeddings: DataFrame, threshold: float = 0.85,
                           max_ids: Optional[int] = None,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """Exact embedding-cosine near-dup pairs (id_a < id_b, rounded to 4
    decimals). All-pairs — quadratic, the VERIFICATION baseline of the
    dedup family (like ngram_jaccard_pairs); the scale path is
    embedding_near_dup_lsh(), which feeds candidate pairs through the
    same exact cosine filter."""
    e = embeddings
    if max_ids is not None:
        e = e.filter(F.col(id_col) < max_ids)
    e = e.select(F.col(id_col).alias("id"),
                 F.col(vec_col).cast("array<double>").alias("v"))
    a = e.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    b = e.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    return (a.join(b, F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    F.round(cosine(F.col("va"), F.col("vb")), 4)
                    .alias("cos_sim"))
            .filter(F.col("cos_sim") >= threshold))


def embedding_near_dup_lsh(embeddings: DataFrame, threshold: float = 0.85,
                           n_planes: int = 8, n_tables: int = 8,
                           max_bucket: int = 512,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """Embedding near-dup dedup, the 100 TB shape: SRP-LSH buckets
    generate candidate pairs (grouped sorted-id arrays per (table,
    bucket) — one shuffle, no self-join, hot buckets capped like
    minhash_lsh_candidates), then ONE exact cosine pass over candidates
    only. Output = subset of embedding_cosine_pairs (recall < 1 by
    design; raise n_tables for recall, lower max_bucket for cost)."""
    from .textstats import _bucket_pairs
    from .util import ensure_parallelism, parallelism_target

    src = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"))
    # parallelism floor only on the UDF branch; the join sides read the
    # raw scan (no repartition shuffle — they join by id and AQE
    # broadcasts them when small)
    e = ensure_parallelism(src)
    banded = e.select("id", F.posexplode(
        _srp_buckets_udf(n_planes, n_tables)(F.col("v")))
        .alias("band", "bucket"))
    # fan_out on the GROUPED bucket table (tiny), not on the pairs.
    # The hash repartition of the pair ids is an exchange whose RUNTIME
    # row count AQE feeds into the vector-join planning: without it the
    # static estimate calls the pair side "small" and BROADCASTS
    # millions of pairs (measured 43 s vs 10 s at sf1.0), and unlike a
    # distinct it holds no aggregate hash table.
    cand = (_bucket_pairs(banded, "id", "id_a", "id_b", max_bucket,
                          fan_out=True)
            .repartition(parallelism_target(embeddings), "id_a", "id_b"))
    va = src.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    vb = src.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    # cosine_arrow: the verify pass runs over EVERY candidate pair
    # (millions at sf1.0) — the one cosine call site where the Arrow
    # kernel wins (see the cosine() docstring for the A/B numbers).
    # The multi-table dedup moved BELOW the threshold filter: at sf1.0
    # only 2.4% of candidates collide in more than one table, so the
    # old pre-verify distinct shuffled 7.4M pairs to drop 177k — now
    # duplicates cost one redundant (bit-identical) cosine each and
    # the distinct dedups the filtered survivors (thousands, not
    # millions). Same result set: duplicate pairs carry identical
    # cos_sim, so distinct-after-filter == filter-after-distinct.
    return (cand.join(va, "id_a").join(vb, "id_b")
            .select("id_a", "id_b",
                    F.round(cosine_arrow(F.col("va"), F.col("vb")), 4)
                    .alias("cos_sim"))
            .filter(F.col("cos_sim") >= threshold)
            .distinct())


def _srp_buckets_udf(n_planes: int, n_tables: int):
    """Shared SRP bucket UDF (see lsh_topk for the design notes):
    deterministic hyperplanes derived from the observed dim, one numpy
    matmul for all (tables x planes) projections."""
    weights = (1 << np.arange(n_planes, dtype=np.int64))
    plane_cache: dict = {}

    def _plane_matrix(d: int):
        pm = plane_cache.get(d)
        if pm is None:
            pm = np.asarray(_hyperplanes(d, n_planes * n_tables),
                            dtype=np.float64).T
            plane_cache[d] = pm
        return pm

    @F.pandas_udf("array<int>")
    def buckets_udf(vecs: pd.Series) -> pd.Series:
        from .util import worker_runtime_tune
        worker_runtime_tune()
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        m = np.asarray(vecs.tolist(), dtype=np.float64)
        signs = (m @ _plane_matrix(m.shape[1])) >= 0
        bits = signs.reshape(len(m), n_tables, n_planes).astype(np.int64)
        return pd.Series(list((bits * weights).sum(axis=2).astype("int32")))

    return buckets_udf


def _unit_rows(m: np.ndarray) -> np.ndarray:
    """Row-normalize, leaving zero rows zero (0/0 would poison every
    cosine downstream with NaN — review r05b)."""
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return m / norms


def _nearest_cells(vecs: np.ndarray, cent_n: np.ndarray,
                   n: int) -> np.ndarray:
    """Top-n centroid COLUMN indices per vector under the shared
    assignment rule: rounded-4 cosine, stable argsort (ties to the
    lowest index). The ONE kernel both ivf_topk's assign/probe and
    kmeans_centroids' Lloyd step use — train->probe reproducibility
    depends on them never drifting (review r05b)."""
    sims = np.round(_unit_rows(vecs) @ cent_n, 4)
    return np.argsort(-sims, axis=1, kind="stable")[:, :n]


def kmeans_centroids(embeddings: DataFrame, k: int = 64,
                     max_iter: int = 5,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Spherical-k-means coarse-quantizer trainer — the 'train' half of
    IVF that ivf_topk's sampled default stands in for. Feed the result
    straight in: ``ivf_topk(emb, q, centroids=kmeans_centroids(emb))``.

    Lloyd iterations, Spark-shaped: per round, ONE Arrow-batched matmul
    assigns every vector its nearest (rounded-cosine) centroid, then a
    posexplode + two-phase (cell, dim) sum/count aggregate computes the
    new means — k*dim rows (a few thousand doubles) collected to the
    driver per round, never the corpus. The corpus scan is pinned with
    a lazy localCheckpoint so ``max_iter`` rounds rescan blocks instead
    of re-reading the source. Each round's plan is built fresh from the
    driver-held centroid matrix: no growing lineage, no Catalyst-depth
    hazard. Empty cells keep their previous centroid.

    Init is the same deterministic hash-ordered sample ivf_topk uses,
    so train->probe is reproducible end-to-end (means themselves can
    differ in the last float bit across runs: partial-aggregate merge
    order is not fixed)."""
    from .util import ensure_parallelism

    ids, cent = _ivf_centroids(embeddings, k, None, id_col, vec_col)
    k = len(ids)  # corpus smaller than k: train what was sampled
    corpus = (ensure_parallelism(embeddings)
              .select(F.col(vec_col).cast("array<double>").alias("v"))
              .localCheckpoint(eager=False))
    spark = embeddings.sparkSession

    for _ in range(max_iter):
        cent_n = _unit_rows(cent).T

        @F.pandas_udf("int")
        def nearest(vecs: pd.Series) -> pd.Series:
            from .util import worker_runtime_tune
            worker_runtime_tune()
            if len(vecs) == 0:
                return pd.Series([], dtype="int32")
            m = np.asarray(vecs.tolist(), dtype=np.float64)
            return pd.Series(
                _nearest_cells(m, cent_n, 1)[:, 0].astype("int32"))

        stats = (corpus.select(nearest(F.col("v")).alias("cell"),
                               F.posexplode("v"))
                 .groupBy("cell", "pos")
                 .agg(F.sum("col").alias("s"), F.count("*").alias("n"))
                 .collect())
        new_cent = cent.copy()
        for r in stats:
            new_cent[r.cell, r.pos] = r.s / r.n
        # a mean that collapsed to ~zero (opposing members) would be a
        # dead NaN cell forever — keep the previous centroid instead
        dead = np.linalg.norm(new_cent, axis=1) == 0
        new_cent[dead] = cent[dead]
        cent = new_cent

    pdf = pd.DataFrame({id_col: np.arange(k, dtype=np.int64),
                        vec_col: list(cent)})
    return spark.createDataFrame(
        pdf, f"{id_col} long, {vec_col} array<double>")


def _ivf_centroids(embeddings: DataFrame, n_centroids: int,
                   centroids: Optional[DataFrame],
                   id_col: str, vec_col: str):
    """Coarse-quantizer selection for ivf_topk (see its docstring for
    the two modes). Returns (ids int64[], vectors float64[][]) in
    ascending-id order — the tie-break logic downstream depends on it.
    The driver collect is bounded: exactly ``n_centroids`` rows in the
    default mode (the ORDER BY + LIMIT runs as a per-partition top-n),
    or the caller-owned cardinality of an external centroids table.

    cell ids stay LONG end-to-end: an int cast would error under ANSI
    mode (Spark 4 default) for hash-derived ids past 2^31, or worse,
    silently wrap and merge distinct cells with ANSI off."""
    vecs_long = (F.col(id_col).cast("long"),
                 F.col(vec_col).cast("array<double>"))
    if centroids is not None:
        cent_rows = centroids.select(*vecs_long).orderBy(id_col).collect()
        source = "empty centroids table"
    else:
        cent_rows = (embeddings.select(*vecs_long)
                     .orderBy(F.md5(F.col(id_col).cast("string")), id_col)
                     .limit(n_centroids).collect())
        cent_rows.sort(key=lambda r: r[0])
        source = "empty corpus"
    if not cent_rows:
        raise ValueError(
            f"ivf_topk: no centroids sampled ({source}); supply a "
            "non-empty corpus or a centroids table")
    return (np.asarray([r[0] for r in cent_rows], dtype=np.int64),
            np.asarray([r[1] for r in cent_rows], dtype=np.float64))


def ivf_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5, *,
             n_centroids: int = 8, nprobe: int = 3,
             centroids: Optional[DataFrame] = None,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k via an IVF-flat coarse quantizer — the OTHER
    classic ANN scale path next to SRP-LSH (lsh_topk):

    - *train*: the coarse quantizer, in preference order:
      (1) ``centroids`` — a pre-trained centroids DataFrame
      ``(id_col, vec_col)`` (e.g. k-means output); the caller owns its
      cardinality — it is collected and broadcast in the UDF closure,
      so keep it dim-table-sized (~sqrt(N) is the classic IVF choice);
      (2) otherwise a deterministic FIXED-COUNT sample of exactly
      ``n_centroids`` corpus vectors — the hash-ordered first
      ``n_centroids`` ids (md5 of the decimal id, ties by id), an
      order-by + limit that Spark executes as a per-partition top-n,
      never a full sort. The driver collect is bounded by
      ``n_centroids`` BY CONSTRUCTION, independent of corpus size.
      For real corpora pass sqrt(N)-ish ``n_centroids`` (or k-means
      ``centroids``); the default 8 suits the test-scale corpora.
    - *assign* (map-only): every corpus vector gets the cell of its
      most-similar centroid — one Arrow-batched numpy matmul; cosine
      rounded to 4 decimals with lowest-centroid-id tie-break so the
      assignment is reproducible cross-engine.
    - *probe*: each query scores ONLY vectors in its ``nprobe`` most
      similar cells (equi-join on cell id — linear shuffle, never a
      cross product). Cells PARTITION the corpus (unlike multi-table
      LSH), so (query, item) candidates are unique by construction:
      no dedup shuffle at all. Candidates carry ids only; vectors
      re-join afterwards (same shuffle-width rationale as lsh_topk).

    Recall rises with nprobe and falls with the centroid count;
    exactness is brute_force_topk's contract, not this one."""
    from pyspark.sql.window import Window

    from .util import ensure_parallelism

    cent_ids, cent = _ivf_centroids(embeddings, n_centroids, centroids,
                                    id_col, vec_col)
    cent_n = _unit_rows(cent).T

    def _cells_udf(n: int):
        """Top-n centroid cells per vector (n=1: corpus assignment;
        n=nprobe: query probe). One matmul per Arrow batch; assignment
        rule shared with kmeans_centroids via _nearest_cells (stable
        sort on -sims: centroids are id-sorted, so ties break to the
        ascending id)."""
        @F.pandas_udf("array<long>")
        def cells(vecs: pd.Series) -> pd.Series:
            from .util import worker_runtime_tune
            worker_runtime_tune()
            if len(vecs) == 0:
                return pd.Series([], dtype=object)
            m = np.asarray(vecs.tolist(), dtype=np.float64)
            return pd.Series(list(cent_ids[_nearest_cells(m, cent_n, n)]))
        return cells

    corpus = ensure_parallelism(embeddings).select(
        F.col(id_col).alias("item_id"),
        F.col(vec_col).cast("array<double>").alias("cv"))
    # the cell assignment rides an explode(array(udf)) Generate
    # barrier: the join's inferred isnotnull(cell) filter cannot sink
    # through it, so the kernel runs once, above the fan-out exchange
    cells = F.explode(F.array(_cells_udf(1)(F.col("cv")))).alias("cells")
    assign = (corpus.select("item_id", cells)
              .select("item_id", F.element_at("cells", 1).alias("cell")))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"))
    probes = q.select(
        "query_id",
        F.explode(_cells_udf(nprobe)(F.col("qv"))).alias("cell"))

    cand = (F.broadcast(probes).join(assign, "cell")
            .filter(F.col("query_id") != F.col("item_id"))
            .select("query_id", "item_id"))
    scored = (cand.join(corpus, "item_id")
              .join(F.broadcast(q), "query_id")
              .select("query_id", "item_id",
                      F.round(cosine(F.col("qv"), F.col("cv")), 4)
                      .alias("cos_sim")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("item_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def lsh_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
             n_planes: int = 4, n_tables: int = 16,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k via multi-table sign-random-projection LSH:
    ``n_tables`` independent sets of ``n_planes`` hyperplanes; a corpus
    item is a candidate when it shares the query's bucket in ANY table
    (equi-join on (table, bucket) — linear shuffle, never a cross
    product). Recall rises with n_tables, cost with bucket size; both are
    knobs. Exactness is not the contract (brute_force_topk is)."""
    from pyspark.sql.window import Window

    from .util import ensure_parallelism

    # The hyperplane matrix is derived DETERMINISTICALLY from the
    # observed vector length inside the UDF (same _hyperplanes stream on
    # every worker), so no driver-side action (.first()) is ever
    # triggered building this operator — plan construction is
    # action-free. All (n_tables x n_planes) projections happen in ONE
    # Arrow-batched numpy matmul — 64 interpreted aggregate()
    # expressions measured ~10x slower.
    buckets_udf = _srp_buckets_udf(n_planes, n_tables)
    corpus = ensure_parallelism(embeddings).select(
        F.col(id_col).alias("item_id"),
        F.col(vec_col).cast("array<double>").alias("cv"))
    c_buckets = corpus.select(
        "item_id",
        F.posexplode(buckets_udf(F.col("cv"))).alias("tbl", "bucket"))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"))
    q_buckets = q.select(
        "query_id",
        F.posexplode(buckets_udf(F.col("qv"))).alias("tbl", "bucket"))

    # candidate dedup carries IDS ONLY — an item matching a query in
    # several tables would otherwise shuffle its full vector once per
    # match through the distinct (~8x more shuffle bytes at production
    # dims). Vectors re-join AFTER the dedup: the corpus side is read
    # twice (buckets branch + vector branch) but a column-pruned scan
    # is far cheaper than shuffling vectors, and AQE broadcasts the
    # (small) deduped candidate set so the vector join is shuffle-free.
    cand_ids = (F.broadcast(q_buckets).join(c_buckets, ["tbl", "bucket"])
                .filter(F.col("query_id") != F.col("item_id"))
                .select("query_id", "item_id").distinct())
    scored = (cand_ids.join(corpus, "item_id")
              .join(F.broadcast(q), "query_id")
              .select("query_id", "item_id",
                      F.round(cosine(F.col("qv"), F.col("cv")), 4)
                      .alias("cos_sim")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("item_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))
