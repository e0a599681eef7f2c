"""TF-IDF keyword extraction — per-document top-k salient terms with
an INTEGER bit-idf so every value is exactly SQL-replicable:

    idf_bits(term) = floor(log2(n_docs)) - floor(log2(df(term)))
    score(doc, term) = tf(doc, term) * idf_bits(term)

``floor(log2(n))`` is ``length(bin(n)) - 1`` in both Spark and DuckDB
(the lmscore.py convention) — pure integer domain, no float drift.
A corpus-wide term (df in the same power-of-two bucket as n_docs)
scores 0; a term unique to one document scores tf * floor(log2(N)).
Ties inside a document break on the term itself, so top-k is fully
deterministic.

Tokenization is shared with lmscore (whitespace split, lowercased,
empties dropped) so surprisal and tf-idf agree on what a token is.
Documents with no tokens (NULL/empty text) emit no keyword rows.

No reference counterpart (racket-linkeddata does no text analysis);
part of the LLM-pipeline brief (keyword extraction / doc salience).

100 TB shape: tf is one map-side-combinable (doc, term) aggregate;
df is a vocab-sized aggregate over it, unpinned: the corpus tokenizes
twice (tf, and df's pruned (doc, term) distinct), never thrice, and
the scan under both is one reused exchange. df
deliberately does NOT use count-over-window on the term partition:
a stopword's window partition holds every document and is an
unsplittable single-task skew-sort, while the aggregate is partial
map-side and the scoring equi-join's hot keys are exactly what AQE
skew-join splits. The final top-k rides a row_number window
with a LITERAL rank bound so InferWindowGroupLimit rewrites it into a
per-partition partial top-K before the shuffle (the quota_sample
pattern) — a mega-document never sorts globally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .lmscore import _intlog2, _tokens


def term_scores(docs: DataFrame, *, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """(id, term, tf, df, n_docs, score) for every (document, term)
    pair — the full scored posting table, before any top-k cut.
    ``n_docs`` counts ALL corpus rows (token-less documents dilute
    idf like any fixed denominator would; deterministic either way,
    this choice keeps the oracle a bare count(*))."""
    toks = _tokens(docs, text_col, id_col)
    tf = (toks.groupBy(id_col, "token")
          .agg(F.count(F.lit(1)).alias("tf")))
    df = (tf.groupBy("token")
          .agg(F.count(F.lit(1)).alias("df")))
    # single-row broadcast, never a driver action; count(*) over the
    # id column only — a metadata-cheap scan
    total = (docs.select(id_col)
             .agg(F.count(F.lit(1)).alias("n_docs")))
    return (tf.join(df, "token")
            .crossJoin(F.broadcast(total))
            .select(F.col(id_col),
                    F.col("token").alias("term"),
                    F.col("tf").cast("bigint").alias("tf"),
                    F.col("df").cast("bigint").alias("df"),
                    F.col("n_docs").cast("bigint").alias("n_docs"),
                    (F.col("tf")
                     * (_intlog2(F.col("n_docs"))
                        - _intlog2(F.col("df"))))
                    .cast("bigint").alias("score")))


def tfidf_topk(docs: DataFrame, k: int = 5, *,
               text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Top-k keywords per document by (score DESC, term ASC) —
    ``(id, term, tf, df, n_docs, score, rank)``, rank 1-based.
    The literal ``rank <= k`` bound is what lets Spark's
    InferWindowGroupLimit turn the window into a per-partition
    partial top-K (plan-pinned by tests/test_plans.py)."""
    if k < 1:
        raise ValueError(f"tfidf_topk: k must be >= 1, got {k}")
    scored = term_scores(docs, text_col=text_col, id_col=id_col)
    w = (Window.partitionBy(id_col)
         .orderBy(F.col("score").desc(), F.col("term").asc()))
    return (scored
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= F.lit(k)))
