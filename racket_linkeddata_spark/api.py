"""Public API facade — one import for everything the reference exposes.

Document-level (pure Python, the reference's library surface):
    expand, compact, flatten, to_rdf, normalize (json-ld->urdna2015),
    parse_nquads / serialize_nquads, sign_jsonld / verify_jsonld

Cluster-level (Spark-first):
    session, build_kg, extract_triples, read_nquads, write_nquads,
    synthesize_pages, run_ingest

Side effect on Spark's Python workers: every Arrow/pandas kernel behind
the cluster-level names first calls ``operators.util.worker_runtime_tune``,
which patches ``zipimport.zipimporter.invalidate_caches`` in the worker
process for the rest of its life. Only the archives Spark puts on the
worker's path are affected (``pyspark.zip``, ``py4j-*.zip``, the
spark-core jar): they are re-read when their (mtime, size) changes
instead of on every task. Other archives keep stock invalidation.
"""

from .core.compact import compact
from .core.expand import expand
from .core.flatten import flatten
from .core.frame import frame
from .core.from_rdf import from_rdf
from .core.ld_sigs import sign_jsonld, verify_jsonld
from .core.microdata import extract_microdata
from .core.nquads import parse as parse_nquads
from .core.nquads import serialize as serialize_nquads
from .core.pipeline import page_to_triples
from .core.rdfa import extract_rdfa
from .core.to_rdf import to_rdf
from .core.urdna2015 import canonical_nquads, canonize_quads


def normalize(document, *, base=None, remote_contexts=None,
              mode: str = "URDNA2015") -> str:
    """json-ld->urdna2015-nquads-string (json-ld.rkt:2710)."""
    return canonical_nquads(
        to_rdf(document, base=base, remote_contexts=remote_contexts),
        mode=mode)


def _lazy_spark():
    from .operators.extract import extract_triples
    from .operators.jsonld_ops import (
        compact_documents,
        expand_documents,
        flatten_documents,
        normalize_documents,
    )
    from .operators.bpe import bpe_encode, bpe_token_count, train_bpe
    from .operators.graph import connected_components, dedup_keepers
    from .operators.langid import classify_text, lang_id_model
    from .operators.similarity import (
        brute_force_topk,
        embedding_near_dup_lsh,
        ivf_topk,
        kmeans_centroids,
        lsh_topk,
    )
    from .operators.pq import (
        ivf_pq_topk,
        pq_code_stats,
        pq_encode,
        pq_topk,
    )
    from .operators.skew import salted_agg
    from .operators.urlnorm import canonical_url, dedup_by_canonical_url
    from .operators.textstats import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
        redact_pii,
        repetition_stats,
        simhash,
    )
    from .operators.blockfilter import (
        blocklist_annotate,
        blocklist_filter,
        blocklist_stats,
    )
    from .operators.decontam import (
        contamination_stats,
        decontaminate,
        fuzzy_contamination,
        fuzzy_decontaminate,
    )
    from .operators.lmscore import (
        bigram_counts,
        bigram_surprisal,
        token_counts,
        word_surprisal,
    )
    from .operators.pagerank import (
        pagerank,
        textrank_scores,
        token_cooccurrence_edges,
    )
    from .operators.asof import asof_join
    from .operators.quantiles import exact_quantiles
    from .operators.sketch import (
        cms_estimate,
        cms_sketch,
        hll_registers,
        hll_summary,
    )
    from .operators.tfidf import term_scores, tfidf_topk
    from .operators.mixture import (
        epoch_upsample,
        mixture_sample,
        mixture_stats,
        quota_sample,
        split_corpus,
    )
    from .operators.packing import (
        pack_greedy,
        pack_offsets,
        packing_stats,
        shuffle_shards,
    )
    from .operators.paragraphs import paragraph_dedup, passage_counts
    from .operators.spans import duplicate_spans, span_dedup
    from .operators.unicode_norm import normalize_text
    from .operators.textstats import quality_gate, quality_signals
    from .plans.curation import prep_corpus
    from .plans.kg import build_kg, session
    from .sources.nquads_io import read_nquads, write_nquads
    from .sources.pages import synthesize_pages
    from .sources.warc import read_warc, read_warc_stream, write_warc
    from .streaming.ingest import run_ingest, run_ingest_kg

    return locals()


# module constant so tests can pin _SPARK_API ⊆ __all__ (the drift the
# facade docstring promises cannot happen — review r06e found 9 names
# reachable via __getattr__ but missing from __all__)
_SPARK_API = ("extract_triples", "build_kg", "session", "read_nquads",
                 "write_nquads", "synthesize_pages", "run_ingest",
                 "run_ingest_kg", "read_warc", "write_warc",
                 "expand_documents", "compact_documents",
                 "flatten_documents", "normalize_documents", "salted_agg",
                 "brute_force_topk", "lsh_topk", "ivf_topk",
                 "embedding_near_dup_lsh", "minhash_lsh_candidates",
                 "ngram_jaccard_pairs", "simhash",
                 "connected_components", "dedup_keepers",
                 "canonical_url", "dedup_by_canonical_url",
                 "lang_id_model", "classify_text",
                 "bpe_token_count", "bpe_encode", "train_bpe",
                 "repetition_stats", "redact_pii",
                 "kmeans_centroids", "read_warc_stream",
                 "pq_encode", "pq_topk", "pq_code_stats", "ivf_pq_topk",
                 "paragraph_dedup", "passage_counts",
                 "duplicate_spans", "span_dedup", "normalize_text",
                 "quality_signals", "quality_gate",
                 "contamination_stats", "decontaminate",
                 "fuzzy_contamination", "fuzzy_decontaminate",
                 "blocklist_annotate", "blocklist_filter",
                 "blocklist_stats",
                 "mixture_sample", "mixture_stats", "quota_sample",
                 "epoch_upsample", "split_corpus",
                 "shuffle_shards", "pack_offsets", "packing_stats",
                 "pack_greedy", "token_counts", "word_surprisal",
                 "bigram_counts", "bigram_surprisal",
                 "term_scores", "tfidf_topk",
                 "pagerank", "textrank_scores",
                 "token_cooccurrence_edges",
                 "hll_registers", "hll_summary", "exact_quantiles",
                 "cms_sketch", "cms_estimate", "asof_join",
                 "prep_corpus")


def __getattr__(name):
    if name in _SPARK_API:
        return _lazy_spark()[name]
    raise AttributeError(name)


__all__ = [
    "expand", "compact", "flatten", "frame", "to_rdf", "from_rdf",
    "normalize", "extract_rdfa", "extract_microdata",
    "canonize_quads", "canonical_nquads", "parse_nquads",
    "serialize_nquads", "sign_jsonld", "verify_jsonld", "page_to_triples",
    "extract_triples", "build_kg", "session", "read_nquads",
    "write_nquads", "synthesize_pages", "run_ingest", "run_ingest_kg",
    "read_warc", "write_warc",
    "expand_documents", "compact_documents", "flatten_documents",
    "normalize_documents", "salted_agg",
    "brute_force_topk", "lsh_topk", "ivf_topk", "embedding_near_dup_lsh",
    "minhash_lsh_candidates", "ngram_jaccard_pairs", "simhash",
    "connected_components", "dedup_keepers",
    "canonical_url", "dedup_by_canonical_url",
    "lang_id_model", "classify_text",
    "bpe_token_count", "bpe_encode", "train_bpe",
    "repetition_stats", "redact_pii",
    "kmeans_centroids", "read_warc_stream",
    "pq_encode", "pq_topk", "pq_code_stats", "ivf_pq_topk",
    "paragraph_dedup", "passage_counts",
    "duplicate_spans", "span_dedup", "normalize_text",
    "quality_signals", "quality_gate",
    "contamination_stats", "decontaminate",
    "fuzzy_contamination", "fuzzy_decontaminate",
    "blocklist_annotate", "blocklist_filter", "blocklist_stats",
    "mixture_sample", "mixture_stats", "quota_sample",
    "epoch_upsample", "split_corpus",
    "shuffle_shards", "pack_offsets", "packing_stats",
    "pack_greedy", "token_counts", "word_surprisal",
    "bigram_counts", "bigram_surprisal",
    "term_scores", "tfidf_topk",
    "pagerank", "textrank_scores", "token_cooccurrence_edges",
    "hll_registers", "hll_summary", "exact_quantiles",
    "cms_sketch", "cms_estimate", "asof_join",
    "prep_corpus",
]
