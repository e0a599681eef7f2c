#!/usr/bin/env python3
"""Regenerate docs/PLANS.md: captured .explain('formatted') output for the
plan shapes that matter at scale (also pinned by tests/test_plans.py)."""

import contextlib
import io
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))


def cap(df, n=60):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return "\n".join(buf.getvalue().split("\n")[:n])


def main():
    import __spark_entry__ as em
    from racket_linkeddata_spark.operators.dedup import (
        dedup_triples, skolemize_bnodes)
    from racket_linkeddata_spark.operators.extract import (
        extract_triples, triples_only)
    from racket_linkeddata_spark.plans.kg import session

    spark = session("plans", cpus=4, shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.01"

    sections = [
        ("Extraction (pages -> triples): no shuffle besides the "
         "small-input parallelism floor; only (url, html) cross the "
         "Arrow boundary",
         cap(extract_triples(em.doc_pages(spark, sf)), 40)),
        ("Dedup (skolemize -> edges): two-phase hash aggregate (partial "
         "map-side combine + final), whole-stage codegen around it",
         cap(dedup_triples(skolemize_bnodes(triples_only(
             extract_triples(em.doc_pages(spark, sf))))), 55)),
        ("Entity link: broadcast hash joins, zero sort-merge joins",
         cap(em.q_kg_entity_link(spark, sf), 70)),
        ("Dim joins + rollup (tpch_join): broadcast x2, pushdown + "
         "pruned ReadSchema",
         cap(em.q_tpch_join(spark, sf), 70)),
        ("MinHash-LSH candidates: ONE grouped aggregation over the band "
         "table (no self-join, no persist), grouped sorted-id pair "
         "generation, final distinct",
         cap(__import__(
             "racket_linkeddata_spark.operators.textstats",
             fromlist=["minhash_lsh_candidates"]).minhash_lsh_candidates(
                 spark.read.parquet(f"{sf}/documents.parquet")), 70)),
        ("ANN lsh_topk: candidate dedup carries (query_id, item_id) "
         "ONLY — no vector column in any aggregate key — then vectors "
         "re-join (corpus re-scan beats shuffling 64-double arrays)",
         cap((lambda e: __import__(
             "racket_linkeddata_spark.operators.similarity",
             fromlist=["lsh_topk"]).lsh_topk(
                 e, e.filter("vec_id < 5"), k=5))(
                     spark.read.parquet(f"{sf}/embeddings.parquet")), 80)),
        ("ANN ivf_topk: broadcast probe-cells join on cell id, NO "
         "dedup aggregate between probe and top-k (cells partition the "
         "corpus, so candidates are unique by construction)",
         cap((lambda e: __import__(
             "racket_linkeddata_spark.operators.similarity",
             fromlist=["ivf_topk"]).ivf_topk(
                 e, e.filter("vec_id < 5"), k=5))(
                     spark.read.parquet(f"{sf}/embeddings.parquet")), 80)),
        ("Language-ID model (lang_id_model): map-only — one Arrow "
         "pandas UDF over the scan, the only exchange is the "
         "small-input parallelism floor",
         cap(em.q_text_langid_model(spark, sf), 40)),
        ("BPE token pricing (bpe_token_count): map-only Arrow UDF, "
         "same shape",
         cap(em.q_text_tokens_bpe_real(spark, sf), 40)),
        ("Paragraph dedup (paragraph_dedup): global passage counts are "
         "a two-phase hash aggregate on pkey only (the shuffle carries "
         "32-char hashes, never text), run once inside the hot-set pin "
         "(the Scan ExistingRDD below); the hot set rides a BROADCAST "
         "left-anti join, one (doc_id) reassembly shuffle",
         cap(__import__(
             "racket_linkeddata_spark.operators.paragraphs",
             fromlist=["paragraph_dedup"]).paragraph_dedup(
                 spark.read.parquet(f"{sf}/documents.parquet")
                 .select("doc_id", "text"), min_repeat=5), 80)),
        ("Quality signals (quality_signals): pure JVM column algebra — "
         "no Python stage, no join/aggregate; one projection over the "
         "scan",
         cap(em.q_text_quality_signals(spark, sf), 40)),
        ("Sequence packing (pack_offsets / pack_greedy): ONE shuffle "
         "total — the md5-shard row_number window and the cumsum "
         "window (or the applyInPandas fold) all ride the same "
         "hashpartitioning(shard) exchange",
         cap(em.q_train_pack_offsets(spark, sf), 60)),
        ("LM surprisal (word_surprisal): the corpus tokenizes exactly "
         "twice at run time — scoring probe + the vocab-sized counts "
         "aggregate; the grand total's copy of the counts exchange "
         "below runs as a ReusedExchange under AQE, joined via a "
         "single-row broadcast cross join, never a separate action",
         cap(em.q_text_lm_surprisal(spark, sf), 80)),
        ("Span dedup (span_dedup / duplicate_spans): window hashing "
         "map-side linear, global hash counts two-phase on whash only "
         "inside the hot-set pin (the Scan ExistingRDD below), hot set "
         "BROADCAST left-semi, interval merge + reassembly one "
         "doc-keyed shuffle each",
         cap(em.q_dedup_spans(spark, sf), 90)),
        ("Quota sampling (quota_sample): the rank<=K filter rides "
         "InferWindowGroupLimit — partial top-K BEFORE the exchange, "
         "so each task forwards at most max-quota rows per source and "
         "a mega-source never sorts globally",
         cap(em.q_text_quota_sample(spark, sf), 60)),
        ("PQ ANN (pq_topk / pq_encode): encode is ONE Arrow stage "
         "(posexplode_outer defeats the InferFiltersFromGenerate "
         "double-evaluation), ADC is broadcast equi-joins + a "
         "map-side-combinable LongSum, top-k rides WindowGroupLimit",
         cap(em.q_ann_pq_topk(spark, sf), 90)),
        ("IVF-PQ (ivf_pq_topk): ONE opaque MapInPandas encode stage, "
         "candidates pruned by the (cell, m, code) broadcast join key "
         "itself, integer residual ADC",
         cap(em.q_ann_ivf_pq_topk(spark, sf), 90)),
        ("TF-IDF top-k (tfidf_topk): df is an unpinned vocab-sized "
         "aggregate (NOT a count-over-window — a stopword partition "
         "would be an unsplittable skew-sort); tf and df each tokenize "
         "once over one reused scan exchange, n_docs a single-row "
         "broadcast cross join, top-k a partial WindowGroupLimit "
         "below the doc_id exchange",
         cap(em.q_text_tfidf(spark, sf), 80)),
        ("TextRank word graph (token_cooccurrence_edges): ONE "
         "tokenizer evaluation behind the explode(array()) barrier, "
         "both edge directions emitted inside the array (no self-"
         "union re-derivation), two-phase count aggregate. The "
         "pagerank iterations themselves are localCheckpointed "
         "per round (node-sized state) and not shown here.",
         cap(__import__(
             "racket_linkeddata_spark.operators.pagerank",
             fromlist=["token_cooccurrence_edges"])
             .token_cooccurrence_edges(
                 spark.read.parquet(f"{sf}/documents.parquet")), 50)),
        ("HLL sketch (hll_summary): one map-side-combinable (bucket, "
         "max) aggregate — m rows of state per task regardless of "
         "corpus size — then a constant-size summary aggregate",
         cap(em.q_sketch_hll_summary(spark, sf), 60)),
        ("As-of join (asof_join): tagged union + last-non-null "
         "running window — exactly ONE hash exchange on the key, no "
         "range join, no cross product (DuckDB's native ASOF JOIN is "
         "the oracle)",
         cap(em.q_events_asof(spark, sf), 60)),
        ("Count-min sketch (cms_sketch): depth hash rows per value, "
         "one map-side-combinable (row, col) count aggregate — at "
         "most width*depth rows of state",
         cap(em.q_sketch_cms(spark, sf), 40)),
        ("Exact quantiles (exact_quantiles): value-domain aggregation "
         "— the only corpus-wide work is the (value, count) "
         "aggregate; ONE Sort node (over the compact value table), "
         "never a global row sort",
         cap(em.q_corpus_quantiles(spark, sf), 60)),
    ]
    with open(os.path.join(HERE, "PLANS.md"), "w") as f:
        f.write("# Physical plans (captured via .explain('formatted') "
                "at sf0.01)\n\n")
        f.write("Regenerate: `python docs/gen_plans.py`. The properties "
                "asserted\nhere are pinned by tests/test_plans.py so "
                "refactors cannot\nsilently regress them.\n\n")
        for title, plan in sections:
            f.write(f"## {title}\n\n```\n{plan}\n```\n\n")
    spark.stop()


if __name__ == "__main__":
    main()
