"""Public API facade — one import for everything the reference exposes.

Document-level (pure Python, the reference's library surface):
    expand, compact, flatten, frame, to_rdf, from_rdf, normalize
    (json-ld->urdna2015), canonize_quads / canonical_nquads,
    parse_nquads / serialize_nquads, sign_jsonld / verify_jsonld,
    extract_rdfa, extract_microdata, page_to_triples

Cluster-level (Spark-first, imported on first access): every name in
``_SPARK_MODULES`` — the KG job (session, build_kg, extract_triples,
the N-Quads, WARC and pages sources, run_ingest / run_ingest_kg), the
JSON-LD document operators, and the curation, dedup, ANN, text-stats
and sketch operators behind prep_corpus and the driver queries.

Side effect on Spark's Python workers: every Arrow/pandas kernel behind
the cluster-level names first calls ``operators.util.worker_runtime_tune``,
which patches ``zipimport.zipimporter.invalidate_caches`` in the worker
process for the rest of its life. Only the archives Spark puts on the
worker's path are affected (``pyspark.zip``, ``py4j-*.zip``, the
spark-core jar): they are re-read when their (mtime, size) changes
instead of on every task. Other archives keep stock invalidation.
"""

from importlib import import_module

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


# The one list of the cluster-level names, by defining module. They are
# imported on first access, so importing the facade starts no Spark.
_SPARK_MODULES = {
    ".operators.extract": "extract_triples",
    ".operators.jsonld_ops": "compact_documents expand_documents "
                             "flatten_documents normalize_documents",
    ".operators.bpe": "bpe_encode bpe_token_count train_bpe",
    ".operators.graph": "connected_components dedup_keepers",
    ".operators.langid": "classify_text lang_id_model",
    ".operators.similarity": "brute_force_topk embedding_near_dup_lsh "
                             "ivf_topk kmeans_centroids lsh_topk",
    ".operators.pq": "ivf_pq_topk pq_code_stats pq_encode pq_topk",
    ".operators.skew": "salted_agg",
    ".operators.urlnorm": "canonical_url dedup_by_canonical_url",
    ".operators.textstats": "minhash_lsh_candidates ngram_jaccard_pairs "
                            "redact_pii repetition_stats simhash "
                            "quality_gate quality_signals",
    ".operators.blockfilter": "blocklist_annotate blocklist_filter "
                              "blocklist_stats",
    ".operators.decontam": "contamination_stats decontaminate "
                           "fuzzy_contamination fuzzy_decontaminate",
    ".operators.lmscore": "bigram_counts bigram_surprisal token_counts "
                          "word_surprisal",
    ".operators.pagerank": "pagerank textrank_scores "
                           "token_cooccurrence_edges",
    ".operators.asof": "asof_join",
    ".operators.quantiles": "exact_quantiles",
    ".operators.sketch": "cms_estimate cms_sketch hll_registers "
                         "hll_summary",
    ".operators.tfidf": "term_scores tfidf_topk",
    ".operators.mixture": "epoch_upsample mixture_sample mixture_stats "
                          "quota_sample split_corpus",
    ".operators.packing": "pack_greedy pack_offsets packing_stats "
                          "shuffle_shards",
    ".operators.paragraphs": "paragraph_dedup passage_counts",
    ".operators.spans": "duplicate_spans span_dedup",
    ".operators.unicode_norm": "normalize_text",
    ".plans.curation": "prep_corpus",
    ".plans.kg": "build_kg session",
    ".sources.nquads_io": "read_nquads write_nquads",
    ".sources.pages": "synthesize_pages",
    ".sources.warc": "read_warc read_warc_stream write_warc",
    ".streaming.ingest": "run_ingest run_ingest_kg",
}
_SPARK_API = {name: module for module, names in _SPARK_MODULES.items()
              for name in names.split()}


def __getattr__(name):
    if name in _SPARK_API:
        return getattr(import_module(_SPARK_API[name], __package__), name)
    raise AttributeError(name)


def _lazy_spark():
    return {name: __getattr__(name) for name in _SPARK_API}


__all__ = [
    "expand", "compact", "flatten", "frame", "to_rdf", "from_rdf",
    "normalize", "extract_rdfa", "extract_microdata",
    "canonize_quads", "canonical_nquads", "parse_nquads",
    "serialize_nquads", "sign_jsonld", "verify_jsonld", "page_to_triples",
    *_SPARK_API,
]
