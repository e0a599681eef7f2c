"""Driver contract for the spark-graft builder (PySpark target).

Queries cover SURVEY.md §2's operator inventory:
- kg_*: the KG-construction pipeline (html -> JSON-LD -> expand -> toRDF ->
  URDNA2015 -> triples -> dedup/link/log). Pages are derived
  deterministically from the ``documents`` table, and the wrap JSON-LD is
  blank-node-free, so DuckDB can reproduce the exact triples — including
  each page's canonical-N-Quads sha256 — in pure SQL. The bnode-heavy
  paths are pinned by the conformance suites in tests/ (990-file
  json-ld.org suite; not SQL-expressible).
- dedup_* / ann_* / text_*: training-data operators (exact + MinHash-LSH +
  SimHash + n-gram Jaccard dedup, cosine similarity search, language id,
  token/quality stats, fingerprinting).
- tpch_* / events_*: relational stages (broadcast joins, aggregates,
  windows) the pipeline reuses.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

KG = "http://kg.example.org/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def doc_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> pages(url, html): html embeds a deterministic JSON-LD
    block (FIXTURES.md §4). Built entirely JVM-side (concat/encode)."""
    d = _docs(spark, sf_dir)
    jsonld = F.concat(
        F.lit('{"@context": {"@vocab": "' + KG + '"}, '
              '"@id": "' + KG + 'doc/'),
        F.col("doc_id").cast("string"),
        F.lit('", "@type": "Document", "source": "'), F.col("source"),
        F.lit('", "lang": "'), F.col("lang"),
        F.lit('", "n_chars": '), F.col("n_chars").cast("string"),
        F.lit("}"),
    )
    html = F.concat(
        F.lit('<html><head><script type="application/ld+json">'),
        jsonld,
        F.lit("</script></head><body>"), F.col("text"),
        F.lit("</body></html>"),
    )
    url = F.concat(F.lit("https://kg.example.org/page/"),
                   F.col("doc_id").cast("string"))
    return d.select(url.alias("url"), F.encode(html, "utf-8").alias("html"),
                    F.col("text"))


def _extracted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from racket_linkeddata_spark.operators.extract import extract_triples

    return extract_triples(doc_pages(spark, sf_dir))


def _triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from racket_linkeddata_spark.operators.extract import triples_only

    return triples_only(_extracted(spark, sf_dir))


# --- the DuckDB-side reconstruction of the same triples -------------------

_ORACLE_TRIPLES = f"""
WITH t AS (
  SELECT 'https://kg.example.org/page/' || doc_id AS url,
         '{KG}doc/' || doc_id AS subj, '{KG}lang' AS pred,
         2 AS obj_kind, lang AS obj_value,
         'http://www.w3.org/2001/XMLSchema#string' AS obj_dt FROM documents
  UNION ALL
  SELECT 'https://kg.example.org/page/' || doc_id,
         '{KG}doc/' || doc_id, '{KG}n_chars',
         2, CAST(n_chars AS VARCHAR), '{XSD_INT}' FROM documents
  UNION ALL
  SELECT 'https://kg.example.org/page/' || doc_id,
         '{KG}doc/' || doc_id, '{KG}source',
         2, source, 'http://www.w3.org/2001/XMLSchema#string' FROM documents
  UNION ALL
  SELECT 'https://kg.example.org/page/' || doc_id,
         '{KG}doc/' || doc_id, '{RDF_TYPE}',
         0, '{KG}Document', NULL FROM documents
)
SELECT * FROM t
"""

_ORACLE_CANON = f"""
SELECT 'https://kg.example.org/page/' || doc_id AS url,
       sha256(
         '<{KG}doc/' || doc_id || '> <{KG}lang> "' || lang || '" .' || chr(10)
      || '<{KG}doc/' || doc_id || '> <{KG}n_chars> "' || n_chars
         || '"^^<{XSD_INT}> .' || chr(10)
      || '<{KG}doc/' || doc_id || '> <{KG}source> "' || source || '" .'
         || chr(10)
      || '<{KG}doc/' || doc_id || '> <{RDF_TYPE}> <{KG}Document> .' || chr(10)
       ) AS canon_hash,
       4::BIGINT AS n_triples
FROM documents
"""


# DuckDB replica of the full MinHash-LSH candidate pipeline
# (operators/textstats.py): word 3-gram shingles -> md5-prefix base
# hashes folded to 31 bits -> 16 affine-rehash minima -> 4 bands of 4
# rows -> candidate pairs within each band bucket (cap 512), distinct.
_MERSENNE = (1 << 31) - 1
def _oracle_shingles(table: str = "documents", n: int = 3) -> str:
    """Word n-gram shingle SELECT (doc_id, s) over ``table`` — the
    single source of truth for shingle SQL across the minhash,
    text-pipeline, training-data-prep and decontamination oracles
    (review r05b: copy-pasted variants could drift)."""
    terms = " || ' ' || ".join(
        f"string_split(text, ' ')[i+{k}]" if k else
        "string_split(text, ' ')[i]" for k in range(n))
    return f"""
  SELECT doc_id,
         CASE WHEN len(string_split(text, ' ')) >= {n}
              THEN list_distinct(list_transform(
                     range(1, len(string_split(text, ' ')) - {n - 2}),
                     i -> {terms}))
              ELSE [] END AS s
  FROM {table}"""


def _oracle_bpe_tokens(table: str = "documents") -> str:
    """Closed form of the [(t,h),(th,e)] BPE merge table (see
    q_text_tokens_bpe_real for the derivation) — shared by the
    standalone and composed oracles."""
    return f"""
  SELECT doc_id,
         -- coalesce pins NULL text to the engine's bpe_token_count
         -- (None -> 0 tokens); bare length(NULL) would yield NULL
         CAST(length(replace(coalesce(text, ''), ' ', ''))
              - (length(coalesce(text, ''))
                 - length(replace(coalesce(text, ''), 'th', ''))) / 2
              - (length(coalesce(text, ''))
                 - length(replace(coalesce(text, ''), 'the', ''))) / 3
              AS BIGINT) AS n_tokens
  FROM {table}"""


def _oracle_minhash_banded(table: str) -> str:
    """The MinHash band-table CTE chain (sh -> base -> mins -> banded)
    over ``table`` — the single source of truth shared by the
    minhash-LSH dedup oracle and the fuzzy-decontamination oracle
    (the r05b no-copy-paste-oracles rule).  Emits CTE names prefixed
    with the table name so two instances can coexist in one query."""
    p = table
    return f"""{p}_sh AS ({_oracle_shingles(table)}),
{p}_base AS (
  SELECT doc_id,
         list_transform(s, g ->
           ('0x' || substr(md5(g), 1, 15))::BIGINT % 2147483648) AS hs
  FROM {p}_sh),
{p}_mins AS (
  SELECT doc_id,
         {', '.join(
             f"coalesce(list_min(list_transform(hs, h -> "
             f"(h*{2 * j + 1} + {104729 * (j + 1)}) % {_MERSENNE})), "
             f"{_MERSENNE}) AS mh{j}" for j in range(16))}
  FROM {p}_base),
{p}_banded AS (
  {' UNION ALL '.join(
      f"SELECT doc_id, {i} AS band, "
      f"{'||chr(31)||'.join(f'mh{i * 4 + r}::VARCHAR' for r in range(4))}"
      f" AS bucket FROM {p}_mins" for i in range(4))})"""


def _oracle_minhash_lsh(table: str = "documents") -> str:
    """DuckDB replica of minhash_lsh_candidates over ``table`` (a view
    or an outer CTE with (doc_id, text)) — parameterized so composed
    pipelines can scope it to a survivor subset."""
    return f"""
WITH {_oracle_minhash_banded(table)},
banded AS (SELECT * FROM {table}_banded),
sized AS (
  SELECT band, bucket, count(*) AS c FROM banded GROUP BY band, bucket),
ok AS (
  SELECT banded.* FROM banded JOIN sized USING (band, bucket)
  WHERE c BETWEEN 2 AND 512)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM ok a JOIN ok b
  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
"""


_ORACLE_MINHASH_LSH = _oracle_minhash_lsh()


def _srp_planes_values(dim: int = 64, n: int = 64) -> str:
    """The SRP hyperplanes as a DuckDB VALUES CTE. _hyperplanes is a
    deterministic seeded-xorshift stream (no RNG state), so emitting the
    exact float64 values via repr() (shortest round-trip form — DuckDB
    parses back the identical double) makes the LSH bucketing fully
    SQL-reproducible: both LSH queries consume the SAME 64-plane stream,
    split 8 tables x 8 planes (dedup) or 16 tables x 4 planes (topk).
    dim=64 matches the testdata embedding width the driver checks at
    sf0.01 (the Spark UDF derives the same planes from the observed
    dim). Caveat: sign(dot) near 0 could in principle differ between
    numpy's blocked summation and DuckDB's sequential list_inner_product
    (~1e-13 relative error window) — verified exact on the full corpus
    for both configurations. Elements go through f64_sql: a bare
    decimal literal is DECIMAL-typed and its DOUBLE conversion can be
    one ulp off nearest-double parsing (caught by the pinned-kmeans
    roundtrip test; buckets here happened to survive the ulp)."""
    from racket_linkeddata_spark.operators.similarity import _hyperplanes
    from racket_linkeddata_spark.operators.util import f64_sql

    rows = ", ".join(
        "({}, [{}]::DOUBLE[])".format(i, ", ".join(f64_sql(x) for x in v))
        for i, v in enumerate(_hyperplanes(dim, n)))
    return f"planes(idx, w) AS (VALUES {rows})"


def _oracle_embedding_lsh(n_planes: int = 8, n_tables: int = 8,
                          max_bucket: int = 256,
                          threshold: float = 0.4) -> str:
    """DuckDB replica of similarity.embedding_near_dup_lsh: SRP sign
    buckets -> capped (tbl, bucket) groups -> distinct candidate pairs ->
    exact-cosine verify."""
    cos = ("round(list_inner_product(a.v, b2.v) / "
           "(sqrt(list_inner_product(a.v, a.v)) * "
           "sqrt(list_inner_product(b2.v, b2.v))), 4)")
    return f"""
        WITH {_srp_planes_values()},
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings),
        b AS (SELECT vec_id, idx // {n_planes} AS tbl,
                     sum(CASE WHEN list_inner_product(v, w) >= 0
                              THEN 1 << (idx % {n_planes}) ELSE 0 END)
                       AS bucket
              FROM e CROSS JOIN planes GROUP BY vec_id, tbl),
        sized AS (SELECT tbl, bucket, count(*) AS c FROM b
                  GROUP BY tbl, bucket),
        ok AS (SELECT b.* FROM b JOIN sized USING (tbl, bucket)
               WHERE c BETWEEN 2 AND {max_bucket}),
        cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
                 FROM ok x JOIN ok y
                   ON x.tbl = y.tbl AND x.bucket = y.bucket
                  AND x.vec_id < y.vec_id)
        SELECT id_a, id_b, {cos} AS cos_sim
        FROM cand JOIN e a ON a.vec_id = id_a
                  JOIN e b2 ON b2.vec_id = id_b
        WHERE {cos} >= {threshold}"""


def _oracle_lsh_topk(n_planes: int = 4, n_tables: int = 16,
                     k: int = 5) -> str:
    """DuckDB replica of similarity.lsh_topk: a corpus item is a
    candidate when it shares the query's bucket in ANY table; exact
    cosine + row_number top-k over candidates."""
    cos = ("round(list_inner_product(qe.v, ce.v) / "
           "(sqrt(list_inner_product(qe.v, qe.v)) * "
           "sqrt(list_inner_product(ce.v, ce.v))), 4)")
    return f"""
        WITH {_srp_planes_values()},
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings),
        b AS (SELECT vec_id, idx // {n_planes} AS tbl,
                     sum(CASE WHEN list_inner_product(v, w) >= 0
                              THEN 1 << (idx % {n_planes}) ELSE 0 END)
                       AS bucket
              FROM e CROSS JOIN planes GROUP BY vec_id, tbl),
        cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS item_id
                 FROM b q JOIN b c
                   ON q.tbl = c.tbl AND q.bucket = c.bucket
                 WHERE q.vec_id < 5 AND q.vec_id != c.vec_id),
        scored AS (SELECT query_id, item_id, {cos} AS cos_sim
                   FROM cand JOIN e qe ON qe.vec_id = query_id
                             JOIN e ce ON ce.vec_id = item_id)
        SELECT query_id, item_id, cos_sim, CAST(rank AS INT) AS rank
        FROM (SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY cos_sim DESC, item_id) AS rank
              FROM scored)
        WHERE rank <= {k}"""


# DuckDB replica of multimodal._fake_decode's checksum: an FNV-style
# fold over the payload bytes sampled at stride max(1, n//64) —
# expressed as list_reduce over the sampled byte positions in HUGEINT
# (the 64-bit product would overflow BIGINT, which DuckDB makes an
# error). Payloads are the utf-8 text bytes and the corpus is pure
# ASCII (strlen == length verified), so ord(substring(...)) IS the
# byte value.
_ORACLE_MULTIMODAL_FEATURES = """
    WITH m AS (
      SELECT doc_id AS media_id,
             CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                  ELSE 'video' END AS kind,
             text FROM documents)
    SELECT media_id, kind, strlen(text)::INT AS n_bytes,
           CASE WHEN strlen(text) = 0 THEN 0 ELSE
             list_reduce(
               list_prepend(0::HUGEINT,
                 list_transform(
                   range(0, strlen(text), greatest(strlen(text) // 64, 1)),
                   i -> ord(substring(text, (i + 1)::INT, 1))::HUGEINT)),
               (acc, x) -> (acc * 1099511628211 + x) % 9223372036854775808
             )::BIGINT
           END AS checksum
    FROM m"""


# --- query implementations -------------------------------------------------

def q_kg_triples(spark, sf_dir):
    t = _triples(spark, sf_dir)
    return t.select("url", "subj", "pred",
                    F.col("obj_kind").cast("int").alias("obj_kind"),
                    "obj_value", "obj_dt")


def q_kg_pred_counts(spark, sf_dir):
    return (_triples(spark, sf_dir)
            .groupBy("pred").agg(F.count(F.lit(1)).alias("n_triples")))


def q_kg_edges(spark, sf_dir):
    from racket_linkeddata_spark.operators.dedup import (
        dedup_triples, skolemize_bnodes)

    edges = dedup_triples(skolemize_bnodes(_triples(spark, sf_dir)))
    return edges.select("subj", "pred",
                        F.col("obj_kind").cast("int").alias("obj_kind"),
                        "obj_value", "n_sources")


def q_kg_nodes(spark, sf_dir):
    from racket_linkeddata_spark.plans.kg import build_kg

    kg = build_kg(doc_pages(spark, sf_dir))
    return kg.nodes.select("canon_uri", F.col("kind").cast("int").alias("kind"),
                           "n_mentions")


def q_kg_page_log(spark, sf_dir):
    from racket_linkeddata_spark.operators.lineage import page_log

    log = page_log(_extracted(spark, sf_dir))
    return log.select("url", "canon_hash", "n_triples")


def rdfa_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> RDFa-bearing pages: deterministic schema.org Article
    markup exercising vocab/typeof/about/property/content/href/datatype
    plus relative-IRI resolution, built entirely JVM-side."""
    d = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    div = F.concat(
        F.lit('<div vocab="http://schema.org/" typeof="Article" '
              'about="#art"><span property="headline" content="Doc '),
        did,
        F.lit('"></span><a property="author" href="/person/'),
        (F.col("doc_id") % 101).cast("string"),
        F.lit('">a</a><span property="wordCount" '
              'datatype="http://www.w3.org/2001/XMLSchema#integer" '
              'content="'),
        F.col("n_chars").cast("string"),
        F.lit('"></span></div>'))
    html = F.concat(F.lit("<html><head></head><body>"), div,
                    F.lit("</body></html>"))
    url = F.concat(F.lit("https://kg.example.org/page/"), did)
    return d.select(url.alias("url"), F.encode(html, "utf-8").alias("html"))


def q_kg_rdfa(spark, sf_dir):
    """RDFa-Lite front end end-to-end: html attributes -> quads -> the
    same canonicalization/triples schema as script-tag JSON-LD."""
    from racket_linkeddata_spark.operators.extract import (
        extract_triples, triples_only)

    t = triples_only(extract_triples(rdfa_pages(spark, sf_dir)))
    return t.select("url", "subj", "pred",
                    F.col("obj_kind").cast("int").alias("obj_kind"),
                    "obj_value", "obj_dt")


_ORACLE_RDFA = f"""
WITH t AS (
  SELECT 'https://kg.example.org/page/' || doc_id AS url,
         'https://kg.example.org/page/' || doc_id || '#art' AS subj,
         '{RDF_TYPE}' AS pred,
         0 AS obj_kind, 'http://schema.org/Article' AS obj_value,
         NULL::VARCHAR AS obj_dt FROM documents
  UNION ALL
  SELECT 'https://kg.example.org/page/' || doc_id,
         'https://kg.example.org/page/' || doc_id || '#art',
         'http://schema.org/headline', 2, 'Doc ' || doc_id,
         'http://www.w3.org/2001/XMLSchema#string' FROM documents
  UNION ALL
  SELECT 'https://kg.example.org/page/' || doc_id,
         'https://kg.example.org/page/' || doc_id || '#art',
         'http://schema.org/author', 0,
         'https://kg.example.org/person/' || (doc_id % 101),
         NULL FROM documents
  UNION ALL
  SELECT 'https://kg.example.org/page/' || doc_id,
         'https://kg.example.org/page/' || doc_id || '#art',
         'http://schema.org/wordCount', 2, CAST(n_chars AS VARCHAR),
         '{XSD_INT}' FROM documents
)
SELECT * FROM t
"""


def microdata_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> microdata-bearing pages: deterministic schema.org
    Product markup (itemscope/itemtype/itemid/itemprop, text + href +
    meta-content values), built entirely JVM-side."""
    d = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    div = F.concat(
        F.lit('<div itemscope itemtype="http://schema.org/Product" '
              'itemid="#prod"><span itemprop="name">Item '),
        did,
        F.lit('</span><a itemprop="url" href="/item/'),
        (F.col("doc_id") % 71).cast("string"),
        F.lit('">x</a><meta itemprop="sku" content="SKU-'),
        did,
        F.lit('"></div>'))
    html = F.concat(F.lit("<html><head></head><body>"), div,
                    F.lit("</body></html>"))
    url = F.concat(F.lit("https://kg.example.org/page/"), did)
    return d.select(url.alias("url"), F.encode(html, "utf-8").alias("html"))


def q_kg_microdata(spark, sf_dir):
    """Microdata front end end-to-end: itemscope/itemprop -> quads ->
    the same canonicalization/triples schema as the other formats."""
    from racket_linkeddata_spark.operators.extract import (
        extract_triples, triples_only)

    t = triples_only(extract_triples(microdata_pages(spark, sf_dir)))
    return t.select("url", "subj", "pred",
                    F.col("obj_kind").cast("int").alias("obj_kind"),
                    "obj_value", "obj_dt")


_ORACLE_MICRODATA = f"""
WITH t AS (
  SELECT 'https://kg.example.org/page/' || doc_id AS url,
         'https://kg.example.org/page/' || doc_id || '#prod' AS subj,
         '{RDF_TYPE}' AS pred,
         0 AS obj_kind, 'http://schema.org/Product' AS obj_value,
         NULL::VARCHAR AS obj_dt FROM documents
  UNION ALL
  SELECT 'https://kg.example.org/page/' || doc_id,
         'https://kg.example.org/page/' || doc_id || '#prod',
         'http://schema.org/name', 2, 'Item ' || doc_id,
         'http://www.w3.org/2001/XMLSchema#string' FROM documents
  UNION ALL
  SELECT 'https://kg.example.org/page/' || doc_id,
         'https://kg.example.org/page/' || doc_id || '#prod',
         'http://schema.org/url', 0,
         'https://kg.example.org/item/' || (doc_id % 71),
         NULL FROM documents
  UNION ALL
  SELECT 'https://kg.example.org/page/' || doc_id,
         'https://kg.example.org/page/' || doc_id || '#prod',
         'http://schema.org/sku', 2, 'SKU-' || doc_id,
         'http://www.w3.org/2001/XMLSchema#string' FROM documents
)
SELECT * FROM t
"""


def mixed_format_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> pages carrying ALL THREE embedded formats at once
    (JSON-LD script tag + RDFa + microdata): the real-web shape, and the
    proof that the three extractors compose in ONE per-document
    canonicalization pass."""
    d = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<html><head><script type="application/ld+json">'
              '{"@id": "https://kg.example.org/page/'),
        did,
        F.lit('#js", "http://schema.org/name": "J'),
        did,
        F.lit('"}</script></head><body>'
              '<div vocab="http://schema.org/" about="#rd">'
              '<span property="name" content="R'),
        did,
        F.lit('"></span></div>'
              '<div itemscope itemtype="http://schema.org/Product" '
              'itemid="#md"><meta itemprop="sku" content="S'),
        did,
        F.lit('"></div></body></html>'))
    url = F.concat(F.lit("https://kg.example.org/page/"), did)
    return d.select(url.alias("url"), F.encode(html, "utf-8").alias("html"))


def q_kg_mixed_formats(spark, sf_dir):
    from racket_linkeddata_spark.operators.extract import (
        extract_triples, triples_only)

    t = triples_only(extract_triples(mixed_format_pages(spark, sf_dir)))
    return t.select("url", "subj", "pred",
                    F.col("obj_kind").cast("int").alias("obj_kind"),
                    "obj_value", "obj_dt")


_ORACLE_MIXED = f"""
WITH t AS (
  SELECT 'https://kg.example.org/page/' || doc_id AS url,
         'https://kg.example.org/page/' || doc_id || '#js' AS subj,
         'http://schema.org/name' AS pred, 2 AS obj_kind,
         'J' || doc_id AS obj_value,
         'http://www.w3.org/2001/XMLSchema#string' AS obj_dt
  FROM documents
  UNION ALL
  SELECT 'https://kg.example.org/page/' || doc_id,
         'https://kg.example.org/page/' || doc_id || '#rd',
         'http://schema.org/name', 2, 'R' || doc_id,
         'http://www.w3.org/2001/XMLSchema#string' FROM documents
  UNION ALL
  SELECT 'https://kg.example.org/page/' || doc_id,
         'https://kg.example.org/page/' || doc_id || '#md',
         '{RDF_TYPE}', 0, 'http://schema.org/Product', NULL FROM documents
  UNION ALL
  SELECT 'https://kg.example.org/page/' || doc_id,
         'https://kg.example.org/page/' || doc_id || '#md',
         'http://schema.org/sku', 2, 'S' || doc_id,
         'http://www.w3.org/2001/XMLSchema#string' FROM documents
)
SELECT * FROM t
"""


def q_kg_entity_link(spark, sf_dir):
    from racket_linkeddata_spark.operators.entity_link import link_entities

    aliases = spark.createDataFrame(
        [(KG + "Document", "http://schema.org/CreativeWork")],
        "mention string, canon_uri string")
    linked = link_entities(_triples(spark, sf_dir), aliases)
    return (linked.filter(F.col("obj_kind") == 0)
            .groupBy("obj_value").agg(F.count(F.lit(1)).alias("n")))


def q_dedup_url_canonical(spark, sf_dir):
    """URL canonicalization dedup: two deterministic messy variants per
    logical resource (case-varied host, default port, shuffled +
    tracking-polluted query, fragment) must collapse to one canonical
    key. Oracle derives ground truth INDEPENDENTLY (constructs the
    expected canonical string, does not reimplement the operator)."""
    from racket_linkeddata_spark.operators.urlnorm import (
        dedup_by_canonical_url)

    d = _docs(spark, sf_dir)
    key = (F.col("doc_id") % 250).cast("string")
    messy = F.when(
        F.col("doc_id") < 250,
        F.concat(F.lit("https://EX.example.org:443/item/"), key,
                 F.lit("?b=2&a=1&utm_source=x#top"))
    ).otherwise(
        F.concat(F.lit("https://ex.EXAMPLE.org/item/"), key,
                 F.lit("?a=1&b=2&gclid=zz")))
    return dedup_by_canonical_url(d.select(messy.alias("url")))


_ORACLE_URL_CANON = """
WITH u AS (
  SELECT doc_id % 250 AS key,
         CASE WHEN doc_id < 250
           THEN 'https://EX.example.org:443/item/' || (doc_id % 250)
                || '?b=2&a=1&utm_source=x#top'
           ELSE 'https://ex.EXAMPLE.org/item/' || (doc_id % 250)
                || '?a=1&b=2&gclid=zz' END AS url
  FROM documents)
SELECT 'https://ex.example.org/item/' || key || '?a=1&b=2' AS canon_url,
       min(url) AS keep_url, count(*) AS n_variants
FROM u GROUP BY key
"""


def q_dedup_exact(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return (d.groupBy(F.substring("text", 1, 30).alias("text_prefix"))
            .agg(F.min("doc_id").alias("keep_id"),
                 F.count(F.lit(1)).alias("n_dups")))


def q_dedup_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard verification over a corpus with PLANTED
    near-duplicates: docs 0-29 plus a one-word-appended variant at
    doc_id+30 (round-5 verdict: the raw corpus has no pair above
    threshold at the driver's sf, making the gate vacuous — 0 == 0
    rows; the planted pairs make it check ~30 real values at every
    sf). Unrelated pairs stay below threshold; planted pairs sit near
    (n-2)/(n-1)."""
    from racket_linkeddata_spark.operators.textstats import ngram_jaccard_pairs

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 30)
    variants = d.select((F.col("doc_id") + 30).alias("doc_id"),
                        F.concat(F.col("text"), F.lit(" nearduptail"))
                        .alias("text"))
    corpus = d.select("doc_id", "text").unionByName(variants)
    return ngram_jaccard_pairs(corpus, n=3, threshold=0.3, max_docs=60)


def _passage_corpus(d):
    """The derived passage-bearing corpus both paragraph-dedup queries
    run on (the documents text is single-line): each doc becomes 3
    paragraphs — its own (unique) text, one of 7 shared boilerplate
    variants keyed by doc_id % 7, and a universal footer. Single
    source of truth for the Spark side; _oracle_passage_keyed is its
    SQL twin."""
    return d.select(
        "doc_id",
        F.concat_ws(
            # coalesce pins NULL text to '' (concat_ws would SKIP a
            # null arg — one paragraph fewer than the oracle's
            # coalesce-then-|| derivation)
            "\n", F.coalesce(F.col("text"), F.lit("")),
            F.concat(F.lit("shared boilerplate passage variant "),
                     (F.col("doc_id") % 7).cast("string")),
            F.lit("all rights reserved footer")).alias("text"))


def q_dedup_paragraphs(spark, sf_dir):
    """Paragraph-level exact dedup (Lee et al. passage dedup — the
    within-document repeated-passage mode document-level dedup cannot
    express), over the derived passage-bearing corpus (_passage_corpus).
    paragraph_dedup(min_repeat=5) must drop both planted passages at
    every sf (>= 7 occurrences each at sf0.001) and return the original
    text byte-exact."""
    from racket_linkeddata_spark.operators.paragraphs import paragraph_dedup

    return paragraph_dedup(_passage_corpus(_docs(spark, sf_dir)),
                           min_repeat=5)


def q_dedup_passage_stats(spark, sf_dir):
    """Observability face of paragraph dedup ('no silent caps'): the
    repeated-passage table an operator watches before choosing
    min_repeat — per normalized passage, total occurrences and distinct
    documents, over the same derived passage-bearing corpus as
    dedup_paragraphs."""
    from racket_linkeddata_spark.operators.paragraphs import passage_counts

    return passage_counts(_passage_corpus(_docs(spark, sf_dir)),
                          min_repeat=2)


def _oracle_passage_keyed() -> str:
    """Shared CTE prefix (aug -> sp -> paras -> keyed) of the two
    paragraph-dedup oracles: the derived passage-bearing corpus, split
    to positioned paragraphs, each carrying the normalized-passage key.
    One copy so the normalization / corpus derivation cannot drift
    between the dedup and stats oracles (review r06b — same drift
    class _oracle_shingles was factored for)."""
    return r"""aug AS (
  SELECT doc_id,
         coalesce(text, '') || chr(10)
              || 'shared boilerplate passage variant '
              || (doc_id % 7)
              || chr(10) || 'all rights reserved footer' AS text
  FROM documents),
sp AS (SELECT doc_id, string_split(text, chr(10)) AS p FROM aug),
paras AS (
  SELECT doc_id,
         unnest(range(1, len(p) + 1)) AS pos,  -- parallel unnests zip
         unnest(p) AS para
  FROM sp),
keyed AS (
  SELECT doc_id, pos, para,
         md5(lower(trim(regexp_replace(para, '[ \t\n\r\f\x0B]+',
                                       ' ', 'g')))) AS pkey,
         length(lower(trim(regexp_replace(para, '[ \t\n\r\f\x0B]+',
                                          ' ', 'g')))) AS nlen
  FROM paras)"""


_ORACLE_DEDUP_PASSAGE_STATS = f"""
WITH {_oracle_passage_keyed()}
SELECT pkey, min(para) AS passage,
       count(*) AS n_occurrences,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM keyed WHERE nlen >= 1
GROUP BY pkey HAVING count(*) >= 2
"""


_ORACLE_DEDUP_PARAGRAPHS = f"""
WITH {_oracle_passage_keyed()},
hot AS (
  SELECT pkey FROM keyed WHERE nlen >= 1
  GROUP BY pkey HAVING count(*) >= 5),
surv AS (SELECT k.* FROM keyed k ANTI JOIN hot h USING (pkey)),
agg AS (
  SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS text_dedup,
         count(*) AS n_kept
  FROM surv GROUP BY doc_id)
SELECT s.doc_id,
       coalesce(a.text_dedup, '') AS text_dedup,
       CAST(len(s.p) AS BIGINT) AS n_paragraphs,
       CAST(len(s.p) - coalesce(a.n_kept, 0) AS BIGINT) AS n_dropped
FROM sp s LEFT JOIN agg a USING (doc_id)
"""


def q_dedup_minhash_lsh(spark, sf_dir):
    from racket_linkeddata_spark.operators.textstats import (
        minhash_lsh_candidates)

    return minhash_lsh_candidates(_docs(spark, sf_dir), n=3, k=16, bands=4)


def q_dedup_simhash(spark, sf_dir):
    from racket_linkeddata_spark.operators.textstats import simhash

    return simhash(_docs(spark, sf_dir))


def q_text_fingerprint(spark, sf_dir):
    from racket_linkeddata_spark.operators.textstats import fingerprint

    return fingerprint(_docs(spark, sf_dir))


def q_text_tokens(spark, sf_dir):
    from racket_linkeddata_spark.operators.textstats import token_stats

    return token_stats(_docs(spark, sf_dir))


def q_text_quality(spark, sf_dir):
    from racket_linkeddata_spark.operators.textstats import quality_score

    return quality_score(_docs(spark, sf_dir))


def q_text_langid(spark, sf_dir):
    from racket_linkeddata_spark.operators.textstats import lang_id

    return lang_id(_docs(spark, sf_dir))


def q_text_langid_model(spark, sf_dir):
    """Trigram-profile + script-tier language ID (the real model next
    to the stopword heuristic; round-4 verdict #3). Integer scores make
    it exactly DuckDB-replicable — see _oracle_langid_model."""
    from racket_linkeddata_spark.operators.langid import lang_id_model

    return lang_id_model(_docs(spark, sf_dir))


def _oracle_langid_model() -> str:
    """Independent DuckDB derivation of lang_id_model: the SAME profile
    table (generated from the same embedded seed corpora, emitted as a
    VALUES literal), trigram explode via range+substring, script-block
    counts via regexp char classes, the same decision cascade. Every
    score is an integer, so the value hash is exact.

    Known bound: exactness assumes 1:1 lowercase mappings. Python
    str.lower() expands e.g. Turkish 'İ' (U+0130) to 'i'+combining-dot
    while DuckDB's utf8proc lower() yields plain 'i', so a corpus
    containing such characters in the sampled prefix could diverge;
    the bench corpora are ASCII and the model itself is unaffected
    (only this SQL replica is)."""
    from racket_linkeddata_spark.operators.langid import (
        SAMPLE_CHARS,
        SCRIPT_LANGS,
        _HAN,
        _KANA,
        build_profiles,
    )

    rows = []
    for lang, prof in sorted(build_profiles().items()):
        for tg, w in sorted(prof.items()):
            rows.append(f"('{lang}','{tg}',{w})")
    values = ",\n              ".join(rows)

    def blocks_class(blocks):
        return "".join(f"\\x{{{lo:04x}}}-\\x{{{hi:04x}}}"
                       for lo, hi in blocks)

    def count_expr(blocks):
        # keep only block chars, count what survives
        return (f"length(regexp_replace(n, "
                f"'[^{blocks_class(blocks)}]', '', 'g'))")

    script_counts = ",\n                 ".join(
        f"{count_expr(blocks)} AS n_{lang}"
        for lang, blocks in SCRIPT_LANGS)
    tier1 = "\n                ".join(
        f"WHEN 2 * n_{lang} >= n_letters THEN '{lang}'"
        for lang, _ in SCRIPT_LANGS)
    tier1_score = "\n                ".join(
        f"WHEN 2 * n_{lang} >= n_letters THEN n_{lang}"
        for lang, _ in SCRIPT_LANGS)

    return f"""
        WITH norm AS (
          SELECT doc_id,
                 regexp_replace(lower(substring(text, 1, {SAMPLE_CHARS})),
                                '[^\\pL]', ' ', 'g') AS n
          FROM documents),
        scripts AS (
          SELECT doc_id, n,
                 length(replace(n, ' ', '')) AS n_letters,
                 {count_expr(_HAN)} AS n_han,
                 {count_expr(_KANA)} AS n_kana,
                 {script_counts}
          FROM norm),
        grams AS (
          SELECT doc_id, substring(n, CAST(i AS INT), 3) AS tg
          FROM norm, unnest(range(1, greatest(length(n) - 1, 1))) AS t(i)),
        counts AS (
          SELECT doc_id, tg, count(*) AS c FROM grams
          WHERE tg <> '   ' GROUP BY doc_id, tg),
        prof(lang, tg, w) AS (
          VALUES {values}),
        tscore AS (
          SELECT doc_id, lang, SUM(c * w) AS s
          FROM counts JOIN prof USING (tg) GROUP BY doc_id, lang),
        tbest AS (
          SELECT doc_id, lang AS tlang, s FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id
                ORDER BY s DESC, lang) AS rn FROM tscore) WHERE rn = 1)
        SELECT sc.doc_id,
               CASE WHEN n_letters = 0 THEN 'und'
                WHEN 2 * (n_han + n_kana) >= n_letters THEN
                  CASE WHEN n_kana > 0 THEN 'ja' ELSE 'zh' END
                {tier1}
                WHEN COALESCE(s, 0) > 0 THEN tlang
                ELSE 'und' END AS lang,
               CAST(CASE WHEN n_letters = 0 THEN 0
                WHEN 2 * (n_han + n_kana) >= n_letters THEN
                  CASE WHEN n_kana > 0 THEN n_han + n_kana ELSE n_han END
                {tier1_score}
                WHEN COALESCE(s, 0) > 0 THEN s
                ELSE 0 END AS BIGINT) AS lang_score
        FROM scripts sc LEFT JOIN tbest ON sc.doc_id = tbest.doc_id"""


def q_text_repetition(spark, sf_dir):
    """Gopher-style repetition signals (top-token share, dup-token
    fraction) — one map-only Arrow pandas UDF (C-speed Counter per doc;
    the earlier JVM HOF fold measured ~5x slower and was dropped —
    see repetition_stats), no explode, no shuffle; oracle explodes +
    groups to the same ints."""
    from racket_linkeddata_spark.operators.textstats import (
        repetition_stats)

    return repetition_stats(_docs(spark, sf_dir))


def q_text_redact_pii(spark, sf_dir):
    """PII scrub (email/IP/phone shapes) — pure column algebra; the
    oracle is generated from the same PII_PATTERNS table so the two
    engines cannot drift."""
    from racket_linkeddata_spark.operators.textstats import redact_pii

    return redact_pii(_docs(spark, sf_dir))


def _oracle_redact_pii() -> str:
    from racket_linkeddata_spark.operators.textstats import PII_PATTERNS

    def esc(p):
        return p.replace("'", "''")

    red = "text"
    for name, pat in PII_PATTERNS:
        red = (f"regexp_replace({red}, '{esc(pat)}', "
               f"'[{name.upper()}]', 'g')")
    counts = ",\n               ".join(
        f"CAST(len(regexp_extract_all(text, '{esc(pat)}')) AS BIGINT) "
        f"AS n_{name}" for name, pat in PII_PATTERNS)
    return f"""
        SELECT doc_id,
               {red} AS text_redacted,
               {counts}
        FROM documents"""


def _quality_aug(d):
    """Deterministic signal-bearing corpus for the quality queries: the
    documents text is single-line keyword prose, so bullet / ellipsis /
    symbol signals would be vacuously zero on it (the round-5 lesson
    from dedup_ngram_jaccard: a gate that checks nothing). Suffix by
    doc_id % 5 plants every signal class; the oracle derives the same
    corpus in SQL."""
    return d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 5 == 0,
                   F.lit("\n- bullet item\n- second bullet\nplain tail"))
            .when(F.col("doc_id") % 5 == 1,
                  F.lit("\nthis line trails off..."))
            .when(F.col("doc_id") % 5 == 2,
                  F.lit(" ### anomalous # symbols"))
            .when(F.col("doc_id") % 5 == 3,
                  F.lit("\n• unicode bullet\nclosing thought…"))
            .otherwise(F.lit(""))).alias("text"))


_QUALITY_AUG_SQL = """
  SELECT doc_id,
         text || CASE doc_id % 5
           WHEN 0 THEN chr(10) || '- bullet item' || chr(10) ||
                       '- second bullet' || chr(10) || 'plain tail'
           WHEN 1 THEN chr(10) || 'this line trails off...'
           WHEN 2 THEN ' ### anomalous # symbols'
           WHEN 3 THEN chr(10) || '• unicode bullet' || chr(10) ||
                       'closing thought…'
           ELSE '' END AS text
  FROM documents"""


def q_text_quality_signals(spark, sf_dir):
    """The full heuristic quality-filter signal set (C4/Gopher shape:
    token/line counts, mean word + line length, stopword fraction,
    symbol-to-word ratio, bullet / ellipsis line fractions) — one
    map-only fixed-point projection over the signal-planted corpus."""
    from racket_linkeddata_spark.operators.textstats import quality_signals

    return quality_signals(_quality_aug(_docs(spark, sf_dir)))


def _oracle_quality_signals_over(src: str) -> str:
    """DuckDB replica of textstats.quality_signals over any
    (doc_id, text) source table expression; the stopword list is
    generated from textstats.STOPWORDS so the engines cannot drift.
    Integer division (//) per the fixed-point oracle rule: the engine
    computes 1000*a/b in float64 and truncates — exact for int results
    < 2^53, i.e. floor, which // is."""
    from racket_linkeddata_spark.operators.textstats import STOPWORDS

    stop = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
        WITH base AS (
          SELECT doc_id, coalesce(text, '') AS t,
                 list_filter(regexp_split_to_array(coalesce(text, ''),
                                                   '[ \\t\\n\\r\\f\\x0B]+'),
                             w -> w != '') AS words,
                 string_split(coalesce(text, ''), chr(10)) AS lines
          FROM {src}),
        counted AS (
          SELECT doc_id, t, words, lines,
                 len(words) AS nw, len(lines) AS nl,
                 len(list_filter(words,
                     w -> list_contains([{stop}], lower(w)))) AS nstop,
                 (length(t) - length(replace(t, '#', '')))
                 + (length(t) - length(replace(t, '...', ''))) // 3
                 + (length(t) - length(replace(t, '…', ''))) AS nsym,
                 len(list_filter(lines,
                     l -> regexp_matches(l, '^[ \\t\\n\\r\\f\\x0B]*[-*•]'))) AS nbul,
                 len(list_filter(lines,
                     l -> regexp_matches(l, '(\\.\\.\\.|…)[ \\t\\n\\r\\f\\x0B]*$')))
                   AS nell
          FROM base)
        SELECT doc_id,
               CAST(nw AS BIGINT) AS n_tokens,
               CAST(nl AS BIGINT) AS n_lines,
               CAST(CASE WHEN nw > 0 THEN
                 1000 * length(regexp_replace(t, '[ \\t\\n\\r\\f\\x0B]', '', 'g')) // nw
                 ELSE 0 END AS BIGINT) AS mean_word_len_x1000,
               CAST(nstop AS BIGINT) AS n_stopwords,
               CAST(CASE WHEN nw > 0 THEN 1000 * nstop // nw
                 ELSE 0 END AS BIGINT) AS stopword_x1000,
               CAST(CASE WHEN nw > 0 THEN 1000 * nsym // nw
                 ELSE 0 END AS BIGINT) AS symbol_x1000,
               CAST(CASE WHEN nl > 0 THEN 1000 * nbul // nl
                 ELSE 0 END AS BIGINT) AS bullet_x1000,
               CAST(CASE WHEN nl > 0 THEN 1000 * nell // nl
                 ELSE 0 END AS BIGINT) AS ellipsis_x1000,
               CAST(CASE WHEN nl > 0 THEN
                 1000 * (length(t) - (nl - 1)) // nl
                 ELSE 0 END AS BIGINT) AS mean_line_len_x1000
        FROM counted"""


def _oracle_quality_signals() -> str:
    return _oracle_quality_signals_over(f"({_QUALITY_AUG_SQL}) aug_src")


def q_text_decontaminate(spark, sf_dir):
    """Benchmark decontamination (GPT-3 appendix-C shape): per training
    document, distinct word 8-grams, hits against a benchmark corpus'
    gram set, and the collision verdict. Benchmark = docs 0-19's text
    (so those docs and their exact/near duplicates in the corpus are
    contaminated by construction — non-vacuous at every sf). 8-grams
    instead of the production 13 because the corpus documents are ~50
    words."""
    from racket_linkeddata_spark.operators.decontam import (
        contamination_stats)

    d = _docs(spark, sf_dir)
    bench = d.filter(F.col("doc_id") < 20).select("text")
    return contamination_stats(d, bench, n=8)


_ORACLE_TEXT_DECONTAMINATE = f"""
    WITH docg AS ({_oracle_shingles("documents", n=8)}),
    bench AS (
      SELECT DISTINCT unnest(s) AS g FROM (
        {_oracle_shingles(
            "(SELECT * FROM documents WHERE doc_id < 20) bsrc", n=8)}) b),
    expl AS (SELECT doc_id, unnest(s) AS g FROM docg),
    hits AS (
      SELECT doc_id, count(*) AS n_hits
      FROM expl JOIN bench USING (g) GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(len(d.s) AS BIGINT) AS n_grams,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           coalesce(h.n_hits, 0) >= 1 AS is_contaminated
    FROM docg d LEFT JOIN hits h USING (doc_id)"""


# the driver mixture recipe: a spread of rates incl the keep-all and
# drop-all edges; unlisted sources ride the default
_MIXTURE_WEIGHTS = {"src0": 1.0, "src1": 0.75, "src2": 0.5,
                    "src3": 0.25, "src4": 0.1, "src5": 0.0}
_MIXTURE_DEFAULT = 0.9


def q_text_mixture_stats(spark, sf_dir):
    """Deterministic training-mixture sampling, observability face:
    per source, corpus count, sampled count under the recipe, realized
    vs requested rate (fixed-point). The keep rule is an md5-prefix
    threshold compare — the oracle is generated from the SAME
    weight_threshold table, so the engines compare identical strings."""
    from racket_linkeddata_spark.operators.mixture import mixture_stats

    return mixture_stats(_docs(spark, sf_dir), _MIXTURE_WEIGHTS,
                         default_weight=_MIXTURE_DEFAULT)


def _mixture_keep_sql(weights, default_weight) -> str:
    """The mixture keep predicate as SQL, generated from the SAME
    weight_threshold table the Spark operator uses."""
    from racket_linkeddata_spark.operators.mixture import weight_threshold

    def cond(w):
        thr = weight_threshold(w)
        if thr is None:
            return "TRUE"
        return (f"substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '{thr}'")

    branches = " ".join(
        f"WHEN '{src}' THEN {cond(w)}"
        for src, w in sorted(weights.items()))
    return f"CASE source {branches} ELSE {cond(default_weight)} END"


def _oracle_mixture_stats() -> str:
    # single grouped pass, keep as a conditional sum — the same shape
    # as mixture_stats (a sampled-side LEFT JOIN was null-unsafe on a
    # NULL source group; review r06b)
    keep = _mixture_keep_sql(_MIXTURE_WEIGHTS, _MIXTURE_DEFAULT)
    req = " ".join(
        f"WHEN '{src}' THEN {int(1000 * w)}"
        for src, w in sorted(_MIXTURE_WEIGHTS.items()))
    return f"""
        SELECT source, count(*) AS n_docs,
               CAST(sum(CASE WHEN {keep} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_sampled,
               CAST(1000 * sum(CASE WHEN {keep} THEN 1 ELSE 0 END)
                    // count(*) AS BIGINT) AS rate_x1000,
               CAST(CASE source {req}
                    ELSE {int(1000 * _MIXTURE_DEFAULT)} END
                    AS BIGINT) AS requested_x1000
        FROM documents GROUP BY source"""


# The three exact all-pairs baseline queries below are VERIFICATION
# ANCHORS (the LSH/IVF scale paths are verified against them), not
# 100 TB plans — their cost is quadratic in corpus size, so the driver
# contract caps the ids they scan (round-5 verdict item 6): the gate
# stays safe at ANY sf dir, and every oracle carries the same bound.
_EXACT_BASELINE_MAX_IDS = 1000


def q_ann_cosine_threshold(spark, sf_dir):
    from racket_linkeddata_spark.operators.similarity import cosine

    e = _emb(spark, sf_dir).filter(
        F.col("vec_id") < _EXACT_BASELINE_MAX_IDS)
    q = F.broadcast(
        e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"),
                F.col("embedding").cast("array<double>").alias("qv")))
    c = e.select(F.col("vec_id").alias("item_id"),
                 F.col("embedding").cast("array<double>").alias("cv"))
    return (q.join(c, F.col("query_id") != F.col("item_id"))
            .select("query_id", "item_id",
                    F.round(cosine(F.col("qv"), F.col("cv")), 4)
                    .alias("cos_sim"))
            .filter(F.col("cos_sim") >= 0.3))


def q_ann_brute_topk(spark, sf_dir):
    from racket_linkeddata_spark.operators.similarity import brute_force_topk

    e = _emb(spark, sf_dir)
    return brute_force_topk(e, e.filter(F.col("vec_id") < 5), k=5)


def q_ann_lsh_topk(spark, sf_dir):
    from racket_linkeddata_spark.operators.similarity import lsh_topk

    e = _emb(spark, sf_dir)
    return lsh_topk(e, e.filter(F.col("vec_id") < 5), k=5)


def q_ann_ivf_topk(spark, sf_dir):
    from racket_linkeddata_spark.operators.similarity import ivf_topk

    e = _emb(spark, sf_dir)
    return ivf_topk(e, e.filter(F.col("vec_id") < 5), k=5)


def _oracle_ivf_topk(n_centroids: int = 8, nprobe: int = 3,
                     k: int = 5) -> str:
    """DuckDB replica of similarity.ivf_topk: hash-ordered FIXED-COUNT
    centroid sample (md5 of the decimal id — byte-identical between
    Spark's F.md5 and DuckDB's md5, verified), rounded-cosine argmax
    cell assignment (ties to lowest centroid id), nprobe probe cells
    per query, exact cosine + row_number top-k."""
    def cos(a, b):
        return (f"round(list_inner_product({a}, {b}) / "
                f"(sqrt(list_inner_product({a}, {a})) * "
                f"sqrt(list_inner_product({b}, {b}))), 4)")

    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        c AS (SELECT vec_id AS cid, v AS cv FROM e
              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
              LIMIT {n_centroids}),
        sims AS (SELECT e.vec_id, c.cid, {cos('e.v', 'c.cv')} AS s
                 FROM e CROSS JOIN c),
        assign AS (SELECT vec_id AS item_id, cid AS cell FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                ORDER BY s DESC, cid) AS rn FROM sims) WHERE rn = 1),
        probes AS (SELECT vec_id AS query_id, cid AS cell FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                ORDER BY s DESC, cid) AS rn FROM sims
            WHERE vec_id < 5) WHERE rn <= {nprobe}),
        cand AS (SELECT query_id, item_id
                 FROM probes JOIN assign USING (cell)
                 WHERE query_id != item_id),
        scored AS (SELECT query_id, item_id,
                          {cos('qe.v', 'ce.v')} AS cos_sim
                   FROM cand JOIN e qe ON qe.vec_id = query_id
                             JOIN e ce ON ce.vec_id = item_id)
        SELECT query_id, item_id, cos_sim, CAST(rank AS INT) AS rank
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cos_sim DESC, item_id) AS rank FROM scored)
        WHERE rank <= {k}"""


def q_ann_ivf_kmeans(spark, sf_dir):
    """Train-then-probe IVF: ivf_topk driven by a k-means-TRAINED coarse
    quantizer instead of the sampled default — the full IVF deployment
    shape (train on a sample, assign + probe the corpus). The quantizer
    is the pinned kmeans_centroids output (operators/ivf_pinned.py, see
    its docstring for why it is frozen); the oracle replicates the
    probe from the same float64 literals."""
    from racket_linkeddata_spark.operators.ivf_pinned import centroids_df
    from racket_linkeddata_spark.operators.similarity import ivf_topk

    e = _emb(spark, sf_dir)
    return ivf_topk(e, e.filter(F.col("vec_id") < 5), k=5,
                    centroids=centroids_df(spark), nprobe=3)


def _oracle_ivf_kmeans(nprobe: int = 3, k: int = 5) -> str:
    """DuckDB replica of q_ann_ivf_kmeans: the pinned trained centroids
    as a VALUES CTE (generated from the SAME literal table the Spark
    query loads), then the ivf_topk probe — rounded-cosine argmax cell
    assignment (ties to lowest centroid id), nprobe probe cells per
    query, exact cosine + row_number top-k."""
    from racket_linkeddata_spark.operators.ivf_pinned import (
        centroids_values_cte)

    def cos(a, b):
        return (f"round(list_inner_product({a}, {b}) / "
                f"(sqrt(list_inner_product({a}, {a})) * "
                f"sqrt(list_inner_product({b}, {b}))), 4)")

    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        {centroids_values_cte("c")},
        sims AS (SELECT e.vec_id, c.cid, {cos('e.v', 'c.cv')} AS s
                 FROM e CROSS JOIN c),
        assign AS (SELECT vec_id AS item_id, cid AS cell FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                ORDER BY s DESC, cid) AS rn FROM sims) WHERE rn = 1),
        probes AS (SELECT vec_id AS query_id, cid AS cell FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                ORDER BY s DESC, cid) AS rn FROM sims
            WHERE vec_id < 5) WHERE rn <= {nprobe}),
        cand AS (SELECT query_id, item_id
                 FROM probes JOIN assign USING (cell)
                 WHERE query_id != item_id),
        scored AS (SELECT query_id, item_id,
                          {cos('qe.v', 'ce.v')} AS cos_sim
                   FROM cand JOIN e qe ON qe.vec_id = query_id
                             JOIN e ce ON ce.vec_id = item_id)
        SELECT query_id, item_id, cos_sim, CAST(rank AS INT) AS rank
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cos_sim DESC, item_id) AS rank FROM scored)
        WHERE rank <= {k}"""


def q_ann_pq_topk(spark, sf_dir):
    """Product-quantization ADC top-k (operators/pq.py) — the
    memory-side ANN scale path next to IVF's pruning: 8 subspaces x 16
    codes, integer quantization (floor(x*1024) — power-of-two scaling
    is float-exact in both engines), data-derived md5-sample codebook,
    all-integer ADC distances.  Value-exact vs the DuckDB replica at
    any sf by construction."""
    from racket_linkeddata_spark.operators.pq import pq_topk

    e = _emb(spark, sf_dir)
    return pq_topk(e, e.filter(F.col("vec_id") < 5), 5)


def _pq_common_sql(m: int = 8, dsub: int = 8, k: int = 16,
                   scale: int = 1024) -> str:
    """Shared CTE prefix for the PQ oracles: quantized corpus, the
    md5-sample codebook (code id = sample position), per-subspace
    slices, and the integer-argmin encoding — the exact rules of
    operators/pq.py (lowest-code tie-break == numpy argmin
    first-occurrence)."""
    return f"""
        eq AS (
          SELECT vec_id,
                 list_transform(CAST(embedding AS DOUBLE[]),
                                x -> CAST(floor(x * {scale}.0) AS BIGINT))
                   AS q
          FROM embeddings),
        samp AS (
          SELECT row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
                   AS cid, q
          FROM eq ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
          LIMIT {k}),
        cb AS (
          SELECT m, cid, q[{dsub}*m + 1 : {dsub}*m + {dsub}] AS cvec
          FROM samp, (SELECT unnest(range({m})) AS m)),
        esub AS (
          SELECT vec_id, m, q[{dsub}*m + 1 : {dsub}*m + {dsub}] AS sv
          FROM eq, (SELECT unnest(range({m})) AS m)),
        enc AS (
          SELECT vec_id, m, cid AS code FROM (
            SELECT esub.vec_id, esub.m, cb.cid,
                   row_number() OVER (PARTITION BY esub.vec_id, esub.m
                     ORDER BY CAST(list_sum(list_transform(
                       range(1, {dsub}+1),
                       i -> (sv[i] - cvec[i]) * (sv[i] - cvec[i])))
                       AS BIGINT), cb.cid) AS rn
            FROM esub JOIN cb USING (m)) WHERE rn = 1)"""


def _oracle_pq_topk(m: int = 8, dsub: int = 8, k: int = 16,
                    scale: int = 1024, topk: int = 5) -> str:
    """DuckDB replica of q_ann_pq_topk: same quantization, codebook
    sample, encode argmin, integer ADC sum and (distance, item_id)
    top-k tie-break as operators/pq.py — exact because every distance
    is a BIGINT."""
    return f"""
        WITH {_pq_common_sql(m, dsub, k, scale)},
        qsub AS (
          SELECT vec_id AS query_id, m,
                 q[{dsub}*m + 1 : {dsub}*m + {dsub}] AS sv
          FROM eq, (SELECT unnest(range({m})) AS m) WHERE vec_id < 5),
        pdist AS (
          SELECT query_id, m, cid AS code,
                 CAST(list_sum(list_transform(range(1, {dsub}+1),
                   i -> (sv[i] - cvec[i]) * (sv[i] - cvec[i])))
                   AS BIGINT) AS pd
          FROM qsub JOIN cb USING (m)),
        adist AS (
          SELECT query_id, vec_id AS item_id,
                 CAST(sum(pd) AS BIGINT) AS approx_l2sq
          FROM enc JOIN pdist USING (m, code)
          WHERE query_id != vec_id
          GROUP BY 1, 2)
        SELECT query_id, item_id, approx_l2sq, CAST(rank AS INT) AS rank
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY approx_l2sq, item_id) AS rank FROM adist)
        WHERE rank <= {topk}"""


def q_ann_ivf_pq_topk(spark, sf_dir):
    """IVF-PQ composition (operators/pq.py ivf_pq_topk) — the FAISS
    IVFPQ arrangement: md5-sampled coarse cells prune the scan to
    nprobe/n_cells of the corpus, salted-sample RESIDUAL codebook, and
    an all-integer ADC over (cell, m, code) — exact in both engines,
    including the residual identity ||(q-c)-(v-c)||^2 == ||q-v||^2
    that the full-probe/full-codebook limit test pins."""
    from racket_linkeddata_spark.operators.pq import ivf_pq_topk

    e = _emb(spark, sf_dir)
    return ivf_pq_topk(e, e.filter(F.col("vec_id") < 5), 5)


def _oracle_ivf_pq_topk(n_cells: int = 8, nprobe: int = 3, m: int = 8,
                        dsub: int = 8, k: int = 16, scale: int = 1024,
                        topk: int = 5, dim: int = 64) -> str:
    """DuckDB replica of q_ann_ivf_pq_topk: md5-sample cells, integer
    argmin assignment + residuals, 'cb'-salted residual codebook,
    per-(query, probed-cell) residual distance tables, integer ADC sum,
    (distance, item_id) top-k — every number a BIGINT."""
    def l2(a, b, n):
        return (f"CAST(list_sum(list_transform(range(1, {n}+1), "
                f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))) AS BIGINT)")

    return f"""
        WITH eq AS (
          SELECT vec_id,
                 list_transform(CAST(embedding AS DOUBLE[]),
                                x -> CAST(floor(x * {scale}.0) AS BIGINT))
                   AS q
          FROM embeddings),
        cent AS (
          SELECT row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
                   AS cellid, q AS cv
          FROM eq ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
          LIMIT {n_cells}),
        assign AS (
          SELECT vec_id, cellid AS cell,
                 list_transform(range(1, {dim}+1), i -> q[i] - cv[i])
                   AS resid
          FROM (
            SELECT eq.vec_id, cent.cellid, eq.q, cent.cv,
                   row_number() OVER (PARTITION BY eq.vec_id
                     ORDER BY {l2('q', 'cv', dim)}, cent.cellid) AS rn
            FROM eq CROSS JOIN cent) WHERE rn = 1),
        cbsamp AS (
          SELECT row_number() OVER (
                   ORDER BY md5(CAST(a.vec_id AS VARCHAR) || 'cb'),
                            a.vec_id) - 1 AS cid, a.resid
          FROM assign a
          ORDER BY md5(CAST(a.vec_id AS VARCHAR) || 'cb'), a.vec_id
          LIMIT {k}),
        cb AS (
          SELECT m, cid, resid[{dsub}*m + 1 : {dsub}*m + {dsub}] AS cvec
          FROM cbsamp, (SELECT unnest(range({m})) AS m)),
        esub AS (
          SELECT vec_id, cell, m,
                 resid[{dsub}*m + 1 : {dsub}*m + {dsub}] AS sv
          FROM assign, (SELECT unnest(range({m})) AS m)),
        enc AS (
          SELECT vec_id, cell, m, cid AS code FROM (
            SELECT esub.vec_id, esub.cell, esub.m, cb.cid,
                   row_number() OVER (PARTITION BY esub.vec_id, esub.m
                     ORDER BY {l2('sv', 'cvec', dsub)}, cb.cid) AS rn
            FROM esub JOIN cb USING (m)) WHERE rn = 1),
        probes AS (
          SELECT vec_id AS query_id, cellid AS cell,
                 list_transform(range(1, {dim}+1), i -> q[i] - cv[i])
                   AS qresid
          FROM (
            SELECT eq.vec_id, cent.cellid, eq.q, cent.cv,
                   row_number() OVER (PARTITION BY eq.vec_id
                     ORDER BY {l2('q', 'cv', dim)}, cent.cellid) AS rn
            FROM eq CROSS JOIN cent WHERE eq.vec_id < 5)
          WHERE rn <= {nprobe}),
        qsub AS (
          SELECT query_id, cell, m,
                 qresid[{dsub}*m + 1 : {dsub}*m + {dsub}] AS sv
          FROM probes, (SELECT unnest(range({m})) AS m)),
        pdist AS (
          SELECT query_id, cell, m, cid AS code,
                 {l2('sv', 'cvec', dsub)} AS pd
          FROM qsub JOIN cb USING (m)),
        adist AS (
          SELECT query_id, vec_id AS item_id,
                 CAST(sum(pd) AS BIGINT) AS approx_l2sq
          FROM enc JOIN pdist USING (cell, m, code)
          WHERE query_id != vec_id
          GROUP BY 1, 2)
        SELECT query_id, item_id, approx_l2sq, CAST(rank AS INT) AS rank
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY approx_l2sq, item_id) AS rank FROM adist)
        WHERE rank <= {topk}"""


def q_pq_code_stats(spark, sf_dir):
    """PQ codebook-occupancy observability (the lsh_bucket_stats
    analogue): items per (subspace, code).  Dead or corpus-swallowing
    codewords are the failure mode to watch before trusting PQ recall
    at a new scale."""
    from racket_linkeddata_spark.operators.pq import pq_code_stats

    return pq_code_stats(_emb(spark, sf_dir))


def _oracle_pq_code_stats(m: int = 8, dsub: int = 8, k: int = 16,
                          scale: int = 1024) -> str:
    return f"""
        WITH {_pq_common_sql(m, dsub, k, scale)}
        SELECT CAST(m AS INT) AS m, CAST(code AS INT) AS code,
               count(*) AS n_items
        FROM enc GROUP BY 1, 2"""


def q_text_decontam_fuzzy(spark, sf_dir):
    """MinHash-LSH fuzzy decontamination (decontam.fuzzy_contamination):
    NEAR-duplicate benchmark collisions — catches perturbed leaks the
    verbatim n-gram probe (text_decontaminate) misses. Benchmark =
    docs 0-19, so those docs (16 shared bands) and their corpus
    near-dups collide by construction at every sf. Empty-signature
    (short) docs are excluded on both sides — the sentinel bucket is
    removed by a literal inequality, mirrored in the oracle."""
    from racket_linkeddata_spark.operators.decontam import (
        fuzzy_contamination)

    d = _docs(spark, sf_dir)
    bench = d.filter(F.col("doc_id") < 20).select("doc_id", "text")
    return fuzzy_contamination(d, bench)


def _oracle_decontam_fuzzy() -> str:
    """DuckDB replica of q_text_decontam_fuzzy: the shared banded CTE
    chain over the corpus AND the benchmark subset, sentinel bands
    excluded, equi-join on (band, bucket), shared-band counts."""
    from racket_linkeddata_spark.operators.textstats import _MERSENNE

    sentinel = "||chr(31)||".join([f"'{_MERSENNE}'"] * 4)
    return f"""
        WITH bench AS (SELECT doc_id, text FROM documents
                       WHERE doc_id < 20),
        {_oracle_minhash_banded("documents")},
        {_oracle_minhash_banded("bench")},
        cb AS (SELECT doc_id, band, bucket FROM documents_banded
               WHERE bucket != {sentinel}),
        bb AS (SELECT doc_id AS bench_id, band, bucket FROM bench_banded
               WHERE bucket != {sentinel})
        SELECT cb.doc_id, bb.bench_id,
               count(*) AS n_shared_bands
        FROM cb JOIN bb USING (band, bucket)
        GROUP BY 1, 2"""


_BLOCKLIST_TERMS = ("slow", "big", "drop")
_BLOCKLIST_THRESH = 80  # x1000: block if >8% of tokens are listed


def q_text_blocklist(spark, sf_dir):
    """C4/Gopher-style blocklist annotate (operators/blockfilter.py) in
    fraction mode: pure-integer 1000*n_blocked > thr*n_tokens verdict,
    map-only JVM column algebra (no explode of the corpus, no Python).
    Terms+threshold chosen so the sf corpora split non-trivially
    (sf0.01: 159/500 blocked)."""
    from racket_linkeddata_spark.operators.blockfilter import (
        blocklist_annotate)

    return blocklist_annotate(
        _docs(spark, sf_dir), list(_BLOCKLIST_TERMS),
        mode="fraction", threshold_x1000=_BLOCKLIST_THRESH)


def q_blocklist_stats(spark, sf_dir):
    """Per-term blocklist observability: doc frequency + occurrence
    counts (explodes ONLY matched occurrences — bounded by hits)."""
    from racket_linkeddata_spark.operators.blockfilter import (
        blocklist_stats)

    return blocklist_stats(_docs(spark, sf_dir), list(_BLOCKLIST_TERMS))


def _blocklist_sql_terms() -> str:
    return ", ".join(f"'{t}'" for t in sorted(_BLOCKLIST_TERMS))


def _oracle_blocklist() -> str:
    """DuckDB replica of q_text_blocklist: same tokenization regex,
    same integer fixed-point inequality, same NULL-text COALESCE."""
    return f"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split_regex(
                   lower(coalesce(text, '')), '[^a-z0-9]+'),
                   x -> x != '') AS toks
          FROM documents)
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(len(list_filter(toks,
                 x -> x IN ({_blocklist_sql_terms()}))) AS BIGINT)
                 AS n_blocked,
               CAST(len(list_intersect(toks,
                 [{_blocklist_sql_terms()}])) AS BIGINT)
                 AS n_blocked_terms,
               1000 * len(list_filter(toks,
                 x -> x IN ({_blocklist_sql_terms()})))
                 > {_BLOCKLIST_THRESH} * len(toks) AS blocked
        FROM t"""


def _oracle_blocklist_stats() -> str:
    return f"""
        WITH hits AS (
          SELECT doc_id AS doc, unnest(list_filter(
            list_filter(string_split_regex(
              lower(coalesce(text, '')), '[^a-z0-9]+'), x -> x != ''),
            x -> x IN ({_blocklist_sql_terms()}))) AS term
          FROM documents)
        SELECT term, count(DISTINCT doc) AS n_docs,
               count(*) AS n_occurrences
        FROM hits GROUP BY term"""


def q_dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup dedup — exact baseline (the dedup-family
    analogue of ann_cosine_threshold; the scale path is the LSH variant
    below, verified as a subset of this)."""
    from racket_linkeddata_spark.operators.similarity import (
        embedding_cosine_pairs)

    return embedding_cosine_pairs(
        _emb(spark, sf_dir).filter(
            F.col("vec_id") < _EXACT_BASELINE_MAX_IDS),
        threshold=0.4)


def q_dedup_embedding_lsh(spark, sf_dir):
    """SRP-LSH-bucketed embedding near-dup (candidates from sign-random-
    projection buckets, exact cosine verification pass). Fully
    oracle-checked: the deterministic SRP planes are emitted as float64
    literals into the DuckDB replica (_oracle_embedding_lsh); recall vs
    the exact query is additionally pinned in
    tests/test_similarity_quality.py."""
    from racket_linkeddata_spark.operators.similarity import (
        embedding_near_dup_lsh)

    # 8 planes = 256 buckets/table: bucket occupancy (and thus candidate
    # count) stays ~linear in corpus size — 4 planes measured 20s at
    # sf0.1 because 16 buckets/table degenerates toward all-pairs
    return embedding_near_dup_lsh(_emb(spark, sf_dir), threshold=0.4,
                                  n_planes=8, n_tables=8, max_bucket=256)


def q_dedup_clusters(spark, sf_dir):
    """The dedup endgame: near-dup pairs -> connected components
    (pointer-jumping min-label propagation) -> keep-one-per-cluster
    verdicts. Oracle: DuckDB recursive-CTE transitive closure."""
    from racket_linkeddata_spark.operators.graph import dedup_keepers
    from racket_linkeddata_spark.operators.similarity import (
        embedding_cosine_pairs)

    e = _emb(spark, sf_dir).filter(
        F.col("vec_id") < _EXACT_BASELINE_MAX_IDS)
    pairs = (embedding_cosine_pairs(e, threshold=0.4)
             .select(F.col("id_a").alias("doc_a"),
                     F.col("id_b").alias("doc_b")))
    ids = e.select(F.col("vec_id").alias("doc_id"))
    return dedup_keepers(pairs, ids)


def q_lsh_bucket_stats(spark, sf_dir):
    """Hot-bucket-cap observability ('no silent caps'): per-band bucket
    counts, capped buckets, docs living in capped buckets — the numbers
    an operator watches next to minhash_lsh_candidates at 100 TB."""
    from racket_linkeddata_spark.operators.textstats import lsh_bucket_stats

    s = lsh_bucket_stats(_docs(spark, sf_dir), n=3, k=16, bands=4,
                         max_bucket=512)
    return s.select("band", "n_buckets", "n_capped_buckets",
                    F.col("n_docs_in_capped").cast("bigint")
                    .alias("n_docs_in_capped"),
                    "max_bucket_size")


def q_dedup_text_pipeline(spark, sf_dir):
    """The COMPLETE text-dedup endgame composed from the scale-shaped
    pieces: minhash-LSH candidate pairs -> exact n-gram-Jaccard verify
    (>= 0.5) on candidates only -> connected components -> one keeper
    per cluster. Oracle: the DuckDB minhash replica + list-based jaccard
    + a recursive-CTE transitive closure."""
    from racket_linkeddata_spark.operators.graph import dedup_keepers
    from racket_linkeddata_spark.operators.textstats import near_dup_pairs

    d = _docs(spark, sf_dir)
    return dedup_keepers(near_dup_pairs(d, 0.5), d.select("doc_id"))


def q_multimodal_features(spark, sf_dir):
    from racket_linkeddata_spark.operators.multimodal import (
        extract_features, synthesize_media)

    media = synthesize_media(_docs(spark, sf_dir))
    feats = extract_features(media)
    return feats.select("media_id", "kind", "n_bytes", "checksum")


def q_multimodal_frames(spark, sf_dir):
    """Video frame sampling (1->N mapInPandas fan-out). Oracle-checkable:
    the fake decode is byte-window slicing of an ASCII payload, so DuckDB
    reproduces each frame's md5 from substring(text, ...)."""
    from racket_linkeddata_spark.operators.multimodal import (
        sample_frames, synthesize_media)

    media = synthesize_media(_docs(spark, sf_dir))
    frames = sample_frames(media, every_ms=1000, max_frames=4)
    return frames.select(
        "media_id", "frame_idx", "ts_ms",
        F.md5("frame_payload").alias("frame_md5"),
        F.length("frame_payload").cast("int").alias("n_frame_bytes"))


def q_jsonld_expand_docs(spark, sf_dir):
    """Document-level expansion lifted to a DataFrame op. The wrap doc's
    expanded JSON (sort_keys) is deterministic, so DuckDB reconstructs
    the exact output string."""
    from racket_linkeddata_spark.operators.jsonld_ops import expand_documents

    d = _docs(spark, sf_dir)
    jsonld = F.concat(
        F.lit('{"@context": {"@vocab": "' + KG + '"}, "@id": "' + KG + 'doc/'),
        F.col("doc_id").cast("string"),
        F.lit('", "lang": "'), F.col("lang"), F.lit('"}'))
    docs = d.select("doc_id", jsonld.alias("doc"))
    return expand_documents(docs)


def q_jsonld_compact_docs(spark, sf_dir):
    """Document-level compaction lifted to a DataFrame op — exact-string
    oracle (the compacted sort_keys JSON of the wrap doc is
    deterministic)."""
    from racket_linkeddata_spark.operators.jsonld_ops import (
        compact_documents)

    d = _docs(spark, sf_dir)
    jsonld = F.concat(
        F.lit('{"@context": {"@vocab": "' + KG + '"}, "@id": "' + KG + 'doc/'),
        F.col("doc_id").cast("string"),
        F.lit('", "lang": "'), F.col("lang"), F.lit('"}'))
    docs = d.select("doc_id", jsonld.alias("doc"))
    return compact_documents(docs, context={"@vocab": KG})


def q_jsonld_flatten_docs(spark, sf_dir):
    """Document-level flattening lifted to a DataFrame op: a nested node
    object is pulled up into the flat node array — exact-string
    oracle."""
    from racket_linkeddata_spark.operators.jsonld_ops import (
        flatten_documents)

    d = _docs(spark, sf_dir)
    jsonld = F.concat(
        F.lit('{"@context": {"@vocab": "' + KG + '"}, "@id": "' + KG + 'doc/'),
        F.col("doc_id").cast("string"),
        F.lit('", "lang": "'), F.col("lang"),
        F.lit('", "rel": {"@id": "' + KG + 'doc/'),
        F.col("doc_id").cast("string"),
        F.lit('/sub", "lang": "qq"}}'))
    docs = d.select("doc_id", jsonld.alias("doc"))
    return flatten_documents(docs)


def q_jsonld_frame_docs(spark, sf_dir):
    """Document-level framing lifted to a DataFrame op — exact-string
    oracle over the @graph-wrapped framed output."""
    from racket_linkeddata_spark.operators.jsonld_ops import frame_documents

    d = _docs(spark, sf_dir)
    jsonld = F.concat(
        F.lit('{"@context": {"@vocab": "' + KG + '"}, "@id": "' + KG + 'doc/'),
        F.col("doc_id").cast("string"),
        F.lit('", "lang": "'), F.col("lang"), F.lit('"}'))
    docs = d.select("doc_id", jsonld.alias("doc"))
    return frame_documents(docs, frame={"@context": {"@vocab": KG}})


def q_jsonld_normalize_docs(spark, sf_dir):
    """Document-level URDNA2015 normalize lifted to a DataFrame op —
    EXACT-string oracle (the wrap doc is bnode-free, so DuckDB rebuilds
    the canonical N-Quads document verbatim)."""
    from racket_linkeddata_spark.operators.jsonld_ops import (
        normalize_documents)

    d = _docs(spark, sf_dir)
    jsonld = F.concat(
        F.lit('{"@context": {"@vocab": "' + KG + '"}, "@id": "' + KG + 'doc/'),
        F.col("doc_id").cast("string"),
        F.lit('", "lang": "'), F.col("lang"), F.lit('"}'))
    docs = d.select("doc_id", jsonld.alias("doc"))
    return (normalize_documents(docs)
            .select("doc_id", F.col("out").alias("canon_nquads")))


def q_skew_salted_domain_rollup(spark, sf_dir):
    """Salted two-phase aggregate over a deliberately skewed key."""
    from racket_linkeddata_spark.operators.skew import salted_agg

    t = _triples(spark, sf_dir)
    return salted_agg(t.select("pred"), ["pred"], salt_buckets=16)


def q_tpch_q1(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.count(F.lit(1)).alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


def q_tpch_join(spark, sf_dir):
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = F.broadcast(spark.read.parquet(f"{sf_dir}/nation.parquet"))
    r = F.broadcast(spark.read.parquet(f"{sf_dir}/region.parquet"))
    return (c.join(n, c.c_nationkey == n.n_nationkey)
            .join(r, n.n_regionkey == r.r_regionkey)
            .groupBy("r_name")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal")))


def q_tpch_q3(spark, sf_dir):
    """TPC-H Q3 shape (shipping priority): dim-filtered customer
    BROADCAST onto orders, orders shuffle-joined to lineitem on the
    order key, per-order revenue aggregate, top-10 via TakeOrdered on
    the ROUNDED revenue (round-2 absorbs float summation-order ulps;
    the tie-break on (o_orderdate, o_orderkey) makes the cut
    deterministic in both engines)."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cutoff = F.lit("1997-01-01").cast("timestamp_ntz")
    j = (F.broadcast(c.filter(F.col("c_mktsegment") == "BUILDING"))
         .join(o, F.col("c_custkey") == F.col("o_custkey"))
         .filter(F.col("o_orderdate") < cutoff)
         .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
         .filter(F.col("l_shipdate") > cutoff))
    return (j.groupBy("o_orderkey", "o_orderdate")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (F.lit(1.0) - F.col("l_discount"))), 2)
                 .alias("revenue"))
            .orderBy(F.desc("revenue"), F.asc("o_orderdate"),
                     F.asc("o_orderkey"))
            .limit(10)
            .select("o_orderkey",
                    F.col("o_orderdate").cast("string")
                    .alias("o_orderdate"), "revenue"))


_ORACLE_TPCH_Q3 = """
SELECT o_orderkey, CAST(o_orderdate AS VARCHAR) AS o_orderdate,
       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_shipdate > TIMESTAMP '1997-01-01'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderdate, o_orderkey
LIMIT 10"""


def q_events_window(spark, sf_dir):
    """First event per user. r07: the row_number window (full
    per-partition sort of every event) is replaced by ONE map-side-
    combinable min(struct(ts, event_id, event_type)) aggregate —
    identical result (struct ordering == the window's (ts, event_id)
    ascending order, and event_id disambiguates ties), no Sort node,
    half the shuffled bytes."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (ev.groupBy("user_id")
            .agg(F.min(F.struct("ts", "event_id", "event_type"))
                 .alias("_m"))
            .select("user_id",
                    F.col("_m.event_type").alias("first_event")))


def q_events_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity) via lag + running sum."""
    from pyspark.sql.window import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    prev_ts = F.lag("ts").over(w)
    new_session = F.when(
        prev_ts.isNull()
        | ((F.unix_timestamp("ts") - F.unix_timestamp(prev_ts)) > 1800),
        1).otherwise(0)
    sess = (ev.withColumn("new_s", new_session)
            .withColumn("session_id", F.sum("new_s").over(
                w.rowsBetween(Window.unboundedPreceding, 0))))
    return (sess.groupBy("user_id", "session_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 2).alias("session_value")))


def q_text_tokens_bpe(spark, sf_dir):
    """BPE-ish regex token count: letter runs, digit runs, single
    punctuation — the usual pre-tokenizer shape."""
    d = _docs(spark, sf_dir)
    pat = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
    return d.select(
        "doc_id",
        F.size(F.expr(f"regexp_extract_all(text, '{pat}', 0)"))
        .cast("bigint").alias("n_bpe_tokens"))


# training_data_prep's mixture recipe: one mid-rate source, one heavy
# subsample, one drop-all edge; everything else rides default 1.0
_PREP_MIXTURE = {"src2": 0.5, "src7": 0.25, "src11": 0.0}


def q_training_data_prep(spark, sf_dir):
    """The END-TO-END training-data prep pipeline — what a 100 TB crawl
    actually runs before pretraining, composed from the scale-shaped
    operators and verified as ONE exact cross-engine query:

    1. exact dedup (full-text md5, keep the min doc_id);
    2. near-dup dedup on survivors: minhash-LSH candidates -> exact
       Jaccard verify (>= 0.5) on candidate-only shingles -> connected
       components -> one keeper per cluster;
    3. quality gate: the FULL textstats.quality_gate signal set
       (token count, mean word length, stopword presence, symbol /
       bullet / ellipsis ratios — C4 + Gopher shape), thresholds tuned
       to this corpus's scale (>= 5 tokens, mean word length [2, 20],
       >= 1 stopword);
    4. benchmark decontamination: drop survivors sharing any word
       8-gram with the benchmark corpus (docs 0-19);
    5. mixture sampling: deterministic md5-threshold subsampling per
       source (the _PREP_MIXTURE recipe);
    6. annotate what survives: language (trigram/script model) and BPE
       token price (the [(t,h),(th,e)] table with the closed-form
       oracle).

    Returns (doc_id, lang, n_tokens) for the documents a training run
    would keep. prep_corpus runs it as two concurrent branches over the
    exact-dedup survivors, near-dup losers (2) ∥ steps 3-6, joined
    once at the end (removing the losers commutes with the
    per-document steps; plans/curation.py). Oracle: the composed DuckDB
    replica stitched from the per-operator replicas, in the serial
    order above, value-hash exact."""
    from racket_linkeddata_spark.plans.curation import prep_corpus

    d = _docs(spark, sf_dir)
    # the planted benchmark: docs 0-19 (same as text_decontaminate)
    bench = d.filter(F.col("doc_id") < 20).select("text")
    return prep_corpus(d, benchmark=bench,
                       mixture_weights=_PREP_MIXTURE, default_weight=1.0)


def _oracle_training_data_prep() -> str:
    """Composed DuckDB replica: per-operator replicas stitched into one
    WITH RECURSIVE chain (exact dedup -> scoped minhash/verify/CC ->
    quality gate -> benchmark decontamination -> mixture sampling ->
    langid + BPE annotation)."""
    keep_mix = _mixture_keep_sql(_PREP_MIXTURE, 1.0)
    return f"""
        WITH RECURSIVE
        keep1 AS (SELECT min(doc_id) AS doc_id FROM documents
                  GROUP BY md5(text)),
        surv AS (SELECT d.* FROM documents d JOIN keep1 USING (doc_id)),
        cand AS (SELECT * FROM ({_oracle_minhash_lsh('surv')}) q),
        shv AS ({_oracle_shingles('surv')}),
        verified AS (
          SELECT c.doc_a AS src, c.doc_b AS dst
          FROM cand c
          JOIN shv a ON a.doc_id = c.doc_a
          JOIN shv b ON b.doc_id = c.doc_b
          WHERE len(a.s) > 0
            AND round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                      len(list_distinct(list_concat(a.s, b.s))), 4)
                >= 0.5),
        edges AS (SELECT src, dst FROM verified
                  UNION SELECT dst, src FROM verified),
        walk(id, r) AS (
          SELECT doc_id, doc_id FROM surv
          UNION
          SELECT w.id, e.dst FROM walk w JOIN edges e ON e.src = w.r),
        keepers AS (SELECT id AS doc_id FROM walk
                    GROUP BY id HAVING min(r) = id),
        qsig AS (SELECT * FROM (
          {_oracle_quality_signals_over(
              "(SELECT s.doc_id, s.text FROM surv s "
              "JOIN keepers USING (doc_id)) gate_src")}) q),
        gated AS (
          SELECT doc_id FROM qsig
          WHERE n_tokens BETWEEN 5 AND 100000
            AND mean_word_len_x1000 BETWEEN 2000 AND 20000
            AND n_stopwords >= 1
            AND symbol_x1000 <= 100
            AND bullet_x1000 <= 900
            AND ellipsis_x1000 <= 300),
        gsurv AS (SELECT s.doc_id, s.text, s.source
                  FROM surv s JOIN gated USING (doc_id)),
        benchg AS (
          SELECT DISTINCT unnest(s) AS g FROM (
            {_oracle_shingles(
                "(SELECT * FROM documents WHERE doc_id < 20) bsrc",
                n=8)}) b),
        gsh AS ({_oracle_shingles('gsurv', n=8)}),
        contam AS (
          SELECT DISTINCT e.doc_id
          FROM (SELECT doc_id, unnest(s) AS g FROM gsh) e
          JOIN benchg USING (g)),
        clean AS (SELECT g.* FROM gsurv g
                  ANTI JOIN contam USING (doc_id)),
        mixed AS (SELECT doc_id FROM clean WHERE {keep_mix}),
        lang AS (SELECT * FROM ({_oracle_langid_model()}) l),
        bpe AS ({_oracle_bpe_tokens('documents')})
        SELECT m.doc_id, l.lang, b.n_tokens
        FROM mixed m JOIN lang l USING (doc_id) JOIN bpe b USING (doc_id)"""


def q_text_tokens_bpe_real(spark, sf_dir):
    """REAL BPE token pricing (rank-merge loop, round-4 verdict #4)
    with the mini merge table [(t,h), (th,e)]. Chosen because its
    token count has a closed form an independent engine can compute —
    n_tokens = nonspace_chars - count('th') - count('the') (every 'th'
    occurrence merges: t != h makes occurrences disjoint; every 'the'
    then merges its [th] with 'e') — so the oracle is value-exact
    without reimplementing the merge loop in SQL. The general engine
    (trained vocabularies, independent reference implementation) is
    pinned by tests/test_bpe.py."""
    from racket_linkeddata_spark.operators.bpe import bpe_token_count

    return bpe_token_count(_docs(spark, sf_dir),
                           [("t", "h"), ("th", "e")])


_PACK_BUDGET = 100
_PACK_SHARDS = 8


def _tokenized_docs(spark, sf_dir):
    """(doc_id, n_tokens): whitespace token counts (lowercased regexp
    \\s+ split, empties dropped — the quality_signals tokenization),
    the input both packing queries share."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.size(F.filter(
            F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))),
                    r"\s+"),
            lambda x: x != "")).cast("bigint").alias("n_tokens"))


def q_train_pack_offsets(spark, sf_dir):
    """GPT-style concat-and-chunk packing plan: deterministic md5
    shuffle into shards, window cumsum offsets, budget-sized sequence
    spans. Pure window algebra — one shuffle, SQL-replicable to the
    last offset."""
    from racket_linkeddata_spark.operators.packing import pack_offsets

    return pack_offsets(_tokenized_docs(spark, sf_dir),
                        _PACK_BUDGET, _PACK_SHARDS)


def q_train_pack_stats(spark, sf_dir):
    """Observability face of the packing plan: per shard, totals, the
    sequence count, tail padding and straddler count — the numbers an
    operator tunes budget/n_shards with."""
    from racket_linkeddata_spark.operators.packing import packing_stats

    return packing_stats(_tokenized_docs(spark, sf_dir),
                         _PACK_BUDGET, _PACK_SHARDS)


def q_train_pack_greedy(spark, sf_dir):
    """Document-boundary-respecting next-fit packing (a document never
    straddles a sequence). The per-shard fold is an Arrow
    applyInPandas (the shard is the parallelism unit); the oracle
    replays the identical linear recurrence as a recursive CTE."""
    from racket_linkeddata_spark.operators.packing import pack_greedy

    return pack_greedy(_tokenized_docs(spark, sf_dir),
                       _PACK_BUDGET, _PACK_SHARDS)


def _oracle_packed_base(shards: int, toks_body: str | None = None) -> str:
    """Shared CTE prefix of the packing oracles: tokenize, md5 shard
    assignment (the same conv(substr(md5,1,15),16,10) <->
    CAST('0x'||... AS BIGINT) pair the minhash oracle pins), and the
    within-shard md5-order position. One copy so tokenization and the
    permutation cannot drift between the packing oracles.
    ``toks_body`` overrides the (doc_id, key, n_tokens) source — the
    prep-packed capstone feeds the PREP SURVIVORS' BPE token counts
    instead of the raw-corpus whitespace counts."""
    if toks_body is None:
        toks_body = """SELECT doc_id,
         md5(coalesce(CAST(doc_id AS VARCHAR), '')) AS key,
         CAST(len(list_filter(
             regexp_split_to_array(lower(coalesce(text, '')), '[ \\t\\n\\r\\f\\x0B]+'),
             x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents"""
    return f"""toks AS (
  {toks_body}),
sh AS (
  SELECT doc_id, key, n_tokens,
         CAST(('0x' || substr(key, 1, 15)) AS BIGINT) % {shards} AS shard
  FROM toks),
base AS (
  SELECT doc_id, shard, key, n_tokens,
         CAST(row_number() OVER (PARTITION BY shard ORDER BY key, doc_id)
              AS BIGINT) AS pos,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY key, doc_id
                             ROWS UNBOUNDED PRECEDING) AS end_off
  FROM sh)"""


def _oracle_pack_select(budget: int) -> str:
    """The pack_offsets projection tail over the ``base`` CTE — one
    copy (shared with the prep-packed capstone) so the non-obvious
    last_seq formula cannot drift between the two oracles."""
    return f"""SELECT doc_id, shard, pos, n_tokens,
       CAST(end_off - n_tokens AS BIGINT) AS start_off,
       CAST(end_off AS BIGINT) AS end_off,
       CAST((end_off - n_tokens) // {budget} AS BIGINT) AS first_seq,
       CAST(greatest(end_off - 1, end_off - n_tokens) // {budget}
            AS BIGINT) AS last_seq
FROM base"""


_ORACLE_PACK_OFFSETS = f"""
WITH {_oracle_packed_base(_PACK_SHARDS)}
{_oracle_pack_select(_PACK_BUDGET)}
"""


_ORACLE_PACK_STATS = f"""
WITH {_oracle_packed_base(_PACK_SHARDS)}
SELECT shard,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(greatest((sum(n_tokens) + {_PACK_BUDGET} - 1)
                     // {_PACK_BUDGET}, 1) AS BIGINT) AS n_seqs,
       CAST(greatest((sum(n_tokens) + {_PACK_BUDGET} - 1)
                     // {_PACK_BUDGET}, 1) * {_PACK_BUDGET}
            - sum(n_tokens) AS BIGINT) AS tail_padding,
       CAST(sum(CASE WHEN (end_off - n_tokens) // {_PACK_BUDGET}
                       <> greatest(end_off - 1, end_off - n_tokens)
                          // {_PACK_BUDGET}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers
FROM base GROUP BY shard
"""


# the next-fit fold as a linear recurrence: one recursion step per
# within-shard position (all shards advance in the same step — depth =
# max docs per shard, not corpus size)
_ORACLE_PACK_GREEDY = f"""
WITH RECURSIVE {_oracle_packed_base(_PACK_SHARDS)},
rec AS (
  SELECT doc_id, shard, pos, n_tokens,
         CAST(0 AS BIGINT) AS seq_id, n_tokens AS fill
  FROM base WHERE pos = 1
  UNION ALL
  -- recursive rows are pos >= 2 (never first in shard), so the
  -- engine fold's i > 0 guard is implicit here
  SELECT b.doc_id, b.shard, b.pos, b.n_tokens,
         CASE WHEN r.fill + b.n_tokens > {_PACK_BUDGET}
              THEN r.seq_id + 1 ELSE r.seq_id END,
         CASE WHEN r.fill + b.n_tokens > {_PACK_BUDGET}
              THEN b.n_tokens ELSE r.fill + b.n_tokens END
  FROM rec r JOIN base b ON b.shard = r.shard AND b.pos = r.pos + 1)
SELECT doc_id, shard, pos, n_tokens, seq_id FROM rec
"""


_SPAN_L = 6
_SPAN_REPEAT = 5
_SPAN_BOILER = ("this content is syndicated under common license "
                "terms variant")


def _span_corpus(d):
    """Derived span-bearing corpus for the substring-dedup queries:
    each doc's text gets a mid-stream shared boilerplate sentence
    (5 variants keyed by doc_id % 5 — ~N/5 occurrences each), so
    duplicated spans exist INSIDE running text at every sf. Single
    source of truth; _oracle_span_base is its SQL twin."""
    return d.select(
        "doc_id",
        F.concat(F.coalesce(F.col("text"), F.lit("")),
                 F.lit(" " + _SPAN_BOILER + " "),
                 (F.col("doc_id") % 5).cast("string"),
                 F.lit(" closing words")).alias("text"))


def q_dedup_spans(spark, sf_dir):
    """Exact substring-span dedup (Lee et al. exact-substring mode at
    L-token granularity — finer than paragraph_dedup, stricter than
    MinHash): the planted boilerplate span is cut from every document
    mid-text, surviving tokens byte-preserved."""
    from racket_linkeddata_spark.operators.spans import span_dedup

    return span_dedup(_span_corpus(_docs(spark, sf_dir)),
                      L=_SPAN_L, min_repeat=_SPAN_REPEAT)


def q_dedup_span_stats(spark, sf_dir):
    """Observability face of span dedup: per doc, the maximal merged
    duplicated spans and their window counts."""
    from racket_linkeddata_spark.operators.spans import duplicate_spans

    return duplicate_spans(_span_corpus(_docs(spark, sf_dir)),
                           L=_SPAN_L, min_repeat=_SPAN_REPEAT)


def _oracle_span_base() -> str:
    """Shared CTE prefix of the two span oracles: the derived corpus,
    positioned L-token window hashes, the hot-hash set, and the merged
    maximal spans (window-function interval algebra identical to the
    engine's)."""
    L, R = _SPAN_L, _SPAN_REPEAT
    return f"""aug AS (
  SELECT doc_id,
         coalesce(text, '') || ' {_SPAN_BOILER} '
           || (doc_id % 5) || ' closing words' AS text
  FROM documents),
tw AS (SELECT doc_id, string_split(text, ' ') AS words FROM aug),
w AS (
  SELECT doc_id, u.s.start AS start, u.s.whash AS whash
  FROM (SELECT doc_id,
               unnest(list_transform(
                 range(1, len(words) - {L} + 2),
                 i -> struct_pack(
                   start := CAST(i - 1 AS BIGINT),
                   whash := md5(array_to_string(
                     words[i:i + {L} - 1], ' '))))) AS s
        FROM tw WHERE len(words) >= {L}) u),
hot AS (SELECT whash FROM w GROUP BY whash HAVING count(*) >= {R}),
dup AS (SELECT w.doc_id, w.start FROM w JOIN hot USING (whash)),
m AS (
  SELECT doc_id, start,
         max(start + {L}) OVER (
           PARTITION BY doc_id ORDER BY start
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
  FROM dup),
g AS (
  SELECT doc_id, start,
         sum(CASE WHEN pme IS NULL OR start > pme THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY start
                 ROWS UNBOUNDED PRECEDING) AS sid
  FROM m),
spans AS (
  SELECT doc_id,
         CAST(min(start) AS BIGINT) AS span_start,
         CAST(max(start) + {L} AS BIGINT) AS span_end,
         count(*) AS n_windows
  FROM g GROUP BY doc_id, sid)"""


_ORACLE_DEDUP_SPAN_STATS = f"""
WITH {_oracle_span_base()}
SELECT doc_id, span_start, span_end, n_windows FROM spans
"""


_ORACLE_DEDUP_SPANS = f"""
WITH {_oracle_span_base()},
sp AS (SELECT doc_id,
              list(struct_pack(s := span_start, e := span_end)) AS spans
       FROM spans GROUP BY doc_id)
SELECT a.doc_id,
       CASE WHEN sp.spans IS NULL THEN a.text
            ELSE array_to_string(list_filter(
                   string_split(a.text, ' '),
                   (x, i) -> len(list_filter(sp.spans,
                     v -> i - 1 >= v.s AND i - 1 < v.e)) = 0), ' ')
       END AS text_dedup,
       CAST(len(string_split(a.text, ' ')) AS BIGINT) AS n_tokens,
       CAST(coalesce(list_sum(list_transform(sp.spans, v -> v.e - v.s)),
                     0) AS BIGINT) AS n_dropped_tokens
FROM aug a LEFT JOIN sp USING (doc_id)
"""


def q_text_nfc_normalize(spark, sf_dir):
    """Unicode NFC normalization (the canonicalization step before any
    hash dedup — NFC vs NFD text hashes differently). The corpus is
    ASCII, so a third of the docs get a planted decomposed sequence
    ('e' + COMBINING ACUTE) appended to make the query non-vacuous;
    norm_changed flags exactly those. Arrow UDF over stdlib
    unicodedata; DuckDB's utf8proc nfc_normalize is the oracle (both
    UAX#15 — divergence bound documented in operators/unicode_norm)."""
    from racket_linkeddata_spark.operators.unicode_norm import (
        normalize_text)

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.coalesce(F.col("text"), F.lit("")),
                        # e + COMBINING ACUTE (decomposed on purpose)
                        F.lit(" Cafe\u0301")))
        .otherwise(F.col("text")).alias("text"))
    return normalize_text(d)


_ORACLE_NFC_NORMALIZE = """
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN coalesce(text, '') || ' Cafe' || chr(769)
              ELSE text END AS text
  FROM documents)
SELECT doc_id, nfc_normalize(text) AS text,
       coalesce(text IS DISTINCT FROM nfc_normalize(text), false)
         AS norm_changed
FROM aug
"""


_QUOTA_RECIPE = {"src0": 10, "src1": 3, "src2": 0}
_QUOTA_DEFAULT = 7


def q_text_quota_sample(spark, sf_dir):
    """Exact per-source quotas (absolute-count sibling of
    mixture_sample): md5-order prefix of each source, deterministic
    and subset-monotone across quota sizes. The rank<=K filter rides
    Spark's WindowGroupLimit partial top-K (plan-pinned)."""
    from racket_linkeddata_spark.operators.mixture import quota_sample

    return quota_sample(_docs(spark, sf_dir), _QUOTA_RECIPE,
                        default_quota=_QUOTA_DEFAULT)


def _oracle_quota_sample() -> str:
    cases = " ".join(f"WHEN '{s}' THEN {q}"
                     for s, q in sorted(_QUOTA_RECIPE.items()))
    return f"""
        WITH ranked AS (
          SELECT doc_id, text, lang, source, n_chars,
                 row_number() OVER (
                   PARTITION BY source
                   ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8),
                            doc_id) AS rnk
          FROM documents)
        SELECT doc_id, text, lang, source, n_chars FROM ranked
        WHERE rnk <= CASE source {cases} ELSE {_QUOTA_DEFAULT} END"""


_EPOCH_RECIPE = {"src0": 2.5, "src1": 0.25, "src2": 3.0}
_EPOCH_DEFAULT = 1.0


_PREP_PACK_BUDGET = 512
_PREP_PACK_SHARDS = 4


def q_train_prep_packed(spark, sf_dir):
    """The CAPSTONE composition: training_data_prep's survivors
    (dedup -> quality -> decontam -> mixture -> lang/BPE pricing)
    packed into fixed-budget training sequences BY THEIR BPE TOKEN
    COUNT — raw crawl in, shard/sequence placement out. One extra
    window shuffle on top of the prep plan."""
    from racket_linkeddata_spark.operators.packing import pack_offsets

    prep = q_training_data_prep(spark, sf_dir).select(
        "doc_id", "n_tokens")
    return pack_offsets(prep, _PREP_PACK_BUDGET, _PREP_PACK_SHARDS)


def _oracle_prep_packed() -> str:
    toks = ("SELECT doc_id,\n"
            "         md5(coalesce(CAST(doc_id AS VARCHAR), '')) AS key,\n"
            "         CAST(n_tokens AS BIGINT) AS n_tokens\n"
            "  FROM prep")
    return f"""
WITH prep AS ({_oracle_training_data_prep()}),
{_oracle_packed_base(_PREP_PACK_SHARDS, toks)}
{_oracle_pack_select(_PREP_PACK_BUDGET)}
"""


def q_text_epoch_upsample(spark, sf_dir):
    """Epoch up-sampling (the w > 1 half of the mixture recipe —
    "books x2.4 epochs"): floor(w) copies + a salted-md5 fractional
    epoch, deterministic in the id. Map-side explode, no shuffle."""
    from racket_linkeddata_spark.operators.mixture import epoch_upsample

    return (epoch_upsample(_docs(spark, sf_dir), _EPOCH_RECIPE,
                           default_weight=_EPOCH_DEFAULT)
            .select("doc_id", "source", "epoch"))


def _oracle_epoch_upsample() -> str:
    """Generated from the same recipe + threshold helper as the engine
    (weight_threshold), so the fractional-epoch gate compares the
    identical hex strings."""
    from racket_linkeddata_spark.operators.mixture import weight_threshold

    def n_sql(w: float) -> str:
        base = int(w)
        frac = w - base
        if frac <= 0:
            return str(base)
        thr = weight_threshold(frac)
        return (f"({base} + CASE WHEN substr(md5(CAST(doc_id AS "
                f"VARCHAR) || ':epoch'), 1, 8) < '{thr}' "
                f"THEN 1 ELSE 0 END)")

    cases = " ".join(f"WHEN '{s}' THEN {n_sql(w)}"
                     for s, w in sorted(_EPOCH_RECIPE.items()))
    return f"""
        WITH n AS (
          SELECT doc_id, source,
                 CASE source {cases}
                 ELSE {n_sql(_EPOCH_DEFAULT)} END AS n_epochs
          FROM documents)
        SELECT doc_id, source, CAST(unnest(range(0, n_epochs)) AS BIGINT)
               AS epoch
        FROM n WHERE n_epochs > 0"""


def q_text_bigram_surprisal(spark, sf_dir):
    """Conditional (bigram) surprisal — the fluency signal unigram
    surprisal cannot see: integer bits floor(log2 n(w1 *)) -
    floor(log2 n(w1 w2)), mean per doc x1000. One (w1,w2) aggregate
    (a lazy localCheckpoint, read twice) + head marginals derived FROM
    it + one scoring equi-join; integer domain end to end."""
    from racket_linkeddata_spark.operators.lmscore import (
        bigram_surprisal)

    return bigram_surprisal(_docs(spark, sf_dir))


_ORACLE_BIGRAM_SURPRISAL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(
             regexp_split_to_array(lower(coalesce(text, '')), '[ \\t\\n\\r\\f\\x0B]+'),
             x -> x <> '') AS l
  FROM documents),
flat AS (
  SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(l)),
                                 i -> {'w1': l[i], 'w2': l[i + 1]}))
             AS p
    FROM toks WHERE len(l) >= 2) q),
counts AS (SELECT w1, w2, count(*)::BIGINT AS n
           FROM flat GROUP BY w1, w2),
heads AS (SELECT w1, sum(n)::BIGINT AS n_head FROM counts GROUP BY w1),
scored AS (
  SELECT f.doc_id,
         (length(bin(h.n_head)) - 1) - (length(bin(c.n)) - 1) AS bits
  FROM flat f JOIN counts c USING (w1, w2) JOIN heads h USING (w1)),
agg AS (SELECT doc_id, count(*) AS n_bigrams,
               sum(bits) AS sum_surprisal
        FROM scored GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(a.n_bigrams, 0)::BIGINT AS n_bigrams,
       coalesce(a.sum_surprisal, 0)::BIGINT AS sum_surprisal,
       (CASE WHEN coalesce(a.n_bigrams, 0) = 0 THEN 0
        ELSE (1000 * a.sum_surprisal) // a.n_bigrams
        END)::BIGINT AS avg_surprisal_x1000
FROM documents d LEFT JOIN agg a USING (doc_id)"""


def q_text_tfidf(spark, sf_dir):
    """Per-document top-5 TF-IDF keywords (operators/tfidf.py):
    integer bit-idf (floor-log2, the lmscore convention) so scores are
    value-exact vs SQL; (doc,term) tf aggregate -> unpinned
    vocab-sized df aggregate -> token equi-join -> WindowGroupLimit
    partial top-K. Ties break on the term, fully deterministic."""
    from racket_linkeddata_spark.operators.tfidf import tfidf_topk

    return tfidf_topk(_docs(spark, sf_dir), 5)


_ORACLE_TFIDF = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(
             regexp_split_to_array(lower(coalesce(text, '')), '[ \\t\\n\\r\\f\\x0B]+'),
             x -> x <> '')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
       FROM toks GROUP BY doc_id, term),
df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df, n.n_docs,
         (tf.tf * ((length(bin(n.n_docs)) - 1)
                   - (length(bin(df.df)) - 1)))::BIGINT AS score
  FROM tf JOIN df USING (term) CROSS JOIN n),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term)::INT AS rank
  FROM scored)
SELECT doc_id, term, tf, df, n_docs, score, rank
FROM ranked WHERE rank <= 5"""


def q_text_textrank(spark, sf_dir):
    """TextRank keyword salience (operators/pagerank.py): weighted
    PageRank in scaled-integer arithmetic over the adjacent-token
    co-occurrence graph — 5 power-iteration rounds, each one src
    equi-join + dst aggregate + left join, localCheckpointed so the
    loop never grows a nested plan. Integer division at every step
    makes all 5 rounds value-exact vs the unrolled-CTE oracle."""
    from racket_linkeddata_spark.operators.pagerank import (
        textrank_scores)

    return textrank_scores(_docs(spark, sf_dir), iterations=5)


def _oracle_textrank(iterations: int = 5, damping: int = 85,
                     scale: int = 1_000_000) -> str:
    """Unrolled chained-CTE replay of the SAME fixed iteration count
    (a recursive CTE cannot aggregate over its own reference)."""
    base = ((100 - damping) * scale) // 100
    rounds = []
    for i in range(1, iterations + 1):
        rounds.append(f"""
r{i} AS (
  SELECT n.node,
         ({base} + ({damping} * coalesce(s.m, 0)) // 100)::BIGINT
           AS pr
  FROM nodes n LEFT JOIN (
    SELECT e.dst, sum((r.pr * e.w) // e.outw) AS m
    FROM e JOIN r{i - 1} r ON e.src = r.node GROUP BY e.dst) s
  ON n.node = s.dst)""")
    return f"""
WITH toks AS (
  SELECT list_filter(
           regexp_split_to_array(lower(coalesce(text, '')), '[ \\t\\n\\r\\f\\x0B]+'),
           x -> x <> '') AS l
  FROM documents),
pairs AS (
  SELECT unnest(list_transform(range(1, len(l)),
                               i -> {{'a': l[i], 'b': l[i + 1]}})) AS p
  FROM toks WHERE len(l) >= 2),
directed AS (SELECT p.a AS a, p.b AS b FROM pairs WHERE p.a <> p.b),
edges AS (
  SELECT a AS src, b AS dst, count(*)::BIGINT AS w FROM (
    SELECT a, b FROM directed UNION ALL SELECT b AS a, a AS b
    FROM directed)
  GROUP BY a, b),
outw AS (SELECT src, sum(w)::BIGINT AS outw FROM edges GROUP BY src),
e AS (SELECT edges.src, edges.dst, edges.w, outw.outw
      FROM edges JOIN outw USING (src)),
nodes AS (SELECT src AS node FROM edges
          UNION SELECT dst FROM edges),
r0 AS (SELECT node, {scale}::BIGINT AS pr FROM nodes),
{",".join(rounds)}
SELECT node AS term, pr AS "rank" FROM r{iterations}"""


def q_sketch_hll_registers(spark, sf_dir):
    """Deterministic HyperLogLog state over the corpus token stream
    (operators/sketch.py): md5-derived 32-bit hashes, integer rho,
    one map-side-combinable (bucket, max) aggregate — 64 rows of
    state for any corpus size, value-exact vs the SQL replica."""
    from racket_linkeddata_spark.operators.lmscore import _tokens
    from racket_linkeddata_spark.operators.sketch import hll_registers

    return hll_registers(_tokens(_docs(spark, sf_dir), "text",
                                 "doc_id"), "token", p=6)


def q_sketch_hll_summary(spark, sf_dir):
    """Integer-exact HLL distinct-token estimate: the harmonic sum is
    carried as sum(2^(RMAX-register)) in the integer domain and the
    alpha*m^2*2^RMAX numerator is a Python-computed literal, so the
    estimate matches DuckDB to the last digit."""
    from racket_linkeddata_spark.operators.lmscore import _tokens
    from racket_linkeddata_spark.operators.sketch import hll_summary

    return hll_summary(_tokens(_docs(spark, sf_dir), "text",
                               "doc_id"), "token", p=6)


_HLL_REGS_SQL = """
WITH toks AS (
  SELECT unnest(list_filter(
           regexp_split_to_array(lower(coalesce(text, '')), '[ \\t\\n\\r\\f\\x0B]+'),
           x -> x <> '')) AS token
  FROM documents),
h AS (SELECT CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) AS h
      FROM toks),
regs AS (
  SELECT (h >> 26)::BIGINT AS bucket,
         max(CASE WHEN h % 67108864 = 0 THEN 27
             ELSE 26 - (length(bin(h % 67108864)) - 1)
             END)::INT AS register
  FROM h GROUP BY bucket)"""


def _oracle_hll_summary() -> str:
    from racket_linkeddata_spark.operators.sketch import _alpha_x1e6
    numerator = _alpha_x1e6(64) * 64 * 64 * (1 << 27)
    return f"""{_HLL_REGS_SQL},
a AS (SELECT count(*)::BIGINT AS n_filled,
             coalesce(sum((1::BIGINT << (27 - register))), 0)::BIGINT
               AS fd
      FROM regs)
SELECT 6::INT AS p, 64::BIGINT AS m,
       (64 - n_filled)::BIGINT AS n_zero_buckets,
       (fd + (64 - n_filled) * 134217728)::BIGINT AS harmonic_denom,
       (({numerator} // (fd + (64 - n_filled) * 134217728))
        // 1000000)::BIGINT AS estimate
FROM a"""


def q_events_asof(spark, sf_dir):
    """As-of join (operators/asof.py): every click joined to the
    user's most recent prior-or-simultaneous view. Spark has no
    native ASOF JOIN; this is the tagged-union + last-non-null
    running-window composition — ONE shuffle on the key, no range
    cross product. The oracle is DuckDB's NATIVE ASOF LEFT JOIN (an
    independent industry-semantics implementation, not a replica of
    our plan), with the same max-event_id tie rule on duplicate
    (user, ts) right rows."""
    from racket_linkeddata_spark.operators.asof import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    left = (ev.filter(F.col("event_type") == "click")
            .select("event_id", "user_id", "ts", "value"))
    right = (ev.filter(F.col("event_type") == "view")
             .select("user_id", "ts",
                     F.col("value").alias("view_value"), "event_id"))
    out = asof_join(left, right, value_cols=["view_value"],
                    seq_col="event_id")
    # tz-free integer micros (events.ts is TIMESTAMP_NTZ; unix_micros
    # wants TIMESTAMP and the driver compare cannot sort NULLable
    # datetimes) — micros since a fixed NTZ epoch in BOTH engines
    us = ("timestampdiff(MICROSECOND, "
          "TIMESTAMP_NTZ '2024-01-01 00:00:00', {c})")
    # unmatched rows: -1 sentinels, not NULLs — the value compare
    # cannot sort a NULLable numeric column (NULL normalizes to a
    # string); ts is never NULL in events, match columns can be
    return out.select(
        "event_id", "user_id",
        F.expr(us.format(c="ts")).alias("ts_us"), "value",
        F.coalesce("view_value", F.lit(-1.0)).alias("view_value"),
        F.coalesce(F.expr(us.format(c="asof_ts")), F.lit(-1))
        .cast("bigint").alias("asof_ts_us"))


_ORACLE_ASOF = """
WITH l AS (SELECT event_id, user_id, ts, value FROM events
           WHERE event_type = 'click'),
r0 AS (SELECT user_id, ts, value AS view_value, event_id FROM events
       WHERE event_type = 'view'),
r AS (SELECT user_id, ts, view_value FROM r0
      QUALIFY row_number() OVER (PARTITION BY user_id, ts
                                 ORDER BY event_id DESC) = 1)
SELECT l.event_id, l.user_id,
       date_diff('microsecond', TIMESTAMP '2024-01-01 00:00:00',
                 l.ts) AS ts_us,
       l.value,
       coalesce(r.view_value, -1.0) AS view_value,
       coalesce(date_diff('microsecond',
                          TIMESTAMP '2024-01-01 00:00:00', r.ts),
                -1)::BIGINT AS asof_ts_us
FROM l ASOF LEFT JOIN r
ON l.user_id = r.user_id AND l.ts >= r.ts"""


_SPLIT_RECIPE = {"train": 980, "val": 10, "test": 10}


def q_text_split(spark, sf_dir):
    """Deterministic train/val/test partition (mixture.split_corpus):
    salted-md5 hex ranges over sorted split names, per-mille integer
    shares summing to exactly 1000 — map-only when-chain, no shuffle.
    The oracle CASE is generated from the SAME split_thresholds table
    so the two engines compare identical strings."""
    from racket_linkeddata_spark.operators.mixture import split_corpus

    return split_corpus(_docs(spark, sf_dir), _SPLIT_RECIPE) \
        .select("doc_id", "split")


def _split_case_sql() -> str:
    """The CASE expression assigning _SPLIT_RECIPE splits — ONE
    source of truth shared by the text_split oracle and the
    split_leak_check composition (generated from the same
    split_thresholds table the operator uses)."""
    from racket_linkeddata_spark.operators.mixture import (
        split_thresholds)
    ths = split_thresholds(_SPLIT_RECIPE)
    key = "substr(md5(CAST(doc_id AS VARCHAR) || 'split'), 1, 8)"
    whens = " ".join(f"WHEN {key} < '{up}' THEN '{name}'"
                     for name, up in ths[:-1])
    return f"CASE {whens} ELSE '{ths[-1][0]}' END"


def _oracle_split() -> str:
    return (f"SELECT doc_id, {_split_case_sql()} "
            f"AS split FROM documents")


# ONE place for the sketch dimensions and hash fragment: the query
# pair and the oracle pair would otherwise desynchronize silently on
# any retune (review r06h)
_CMS_WIDTH, _CMS_DEPTH = 256, 4
_CMS_PROBES = ["the", "and", "of", "zz_nonexistent_token"]


def _cms_cells_sql(value_expr: str) -> str:
    """DuckDB fragment: the depth (r, c) hash cells for a value —
    mirrors sketch._cms_hash (same ':i' salt, same md5 prefix)."""
    return (f"unnest(list_transform(range(0, {_CMS_DEPTH}), i -> {{"
            f"'r': i, "
            f"'c': CAST('0x' || substr(md5({value_expr} || ':' || i),"
            f" 1, 8) AS BIGINT) % {_CMS_WIDTH}}}))")


def q_sketch_cms(spark, sf_dir):
    """Count-min sketch state over the corpus token stream
    (operators/sketch.py): depth md5-salted hashes per token, one
    map-side-combinable (row, col) count aggregate — at most
    width*depth rows for any corpus size; estimates never
    underestimate. Value-exact vs the SQL replica."""
    from racket_linkeddata_spark.operators.lmscore import _tokens
    from racket_linkeddata_spark.operators.sketch import cms_sketch

    return cms_sketch(_tokens(_docs(spark, sf_dir), "text", "doc_id"),
                      "token", width=_CMS_WIDTH, depth=_CMS_DEPTH)


def _oracle_cms() -> str:
    return f"""
WITH toks AS (
  SELECT unnest(list_filter(
           regexp_split_to_array(lower(coalesce(text, '')), '[ \\t\\n\\r\\f\\x0B]+'),
           x -> x <> '')) AS token
  FROM documents),
cells AS (SELECT {_cms_cells_sql("token")} AS cell FROM toks)
SELECT CAST(cell.r AS INT) AS "row", cell.c AS col,
       count(*)::BIGINT AS cnt
FROM cells GROUP BY cell.r, cell.c"""


def q_sketch_cms_estimate(spark, sf_dir):
    """The CMS estimate face under the driver gate: frequency
    estimates for a fixed probe list — min over the depth sketch
    cells, missing cell = 0; the sketch side broadcasts (bounded at
    width*depth rows by construction)."""
    from racket_linkeddata_spark.operators.lmscore import _tokens
    from racket_linkeddata_spark.operators.sketch import (
        cms_estimate, cms_sketch)

    toks = _tokens(_docs(spark, sf_dir), "text", "doc_id")
    sk = cms_sketch(toks, "token", width=_CMS_WIDTH, depth=_CMS_DEPTH)
    probes = spark.createDataFrame([(p,) for p in _CMS_PROBES],
                                   "token string")
    return cms_estimate(sk, probes, "token",
                        width=_CMS_WIDTH, depth=_CMS_DEPTH)


def _oracle_cms_estimate() -> str:
    probes = ", ".join(f"'{p}'" for p in _CMS_PROBES)
    return f"""
WITH cells AS ({_oracle_cms()}),
probes AS (SELECT unnest([{probes}]) AS value),
keys AS (SELECT value, {_cms_cells_sql("value")} AS k FROM probes)
SELECT value, min(coalesce(cells.cnt, 0))::BIGINT AS estimate
FROM keys LEFT JOIN cells
ON CAST(keys.k.r AS INT) = cells."row" AND keys.k.c = cells.col
GROUP BY value"""


def q_split_leak_check(spark, sf_dir):
    """Cross-split leak check — the operators COMPOSING: deterministic
    split_corpus partitions the corpus, then the train split is
    n-gram-decontaminated against the test split's gram set
    (contamination_stats). The thing a real prep run must do before
    shipping a split: prove train does not verbatim-contain eval.
    Output: per train doc, gram/hit counts + the collision verdict.
    Oracle nests the split CASE (generated from the same
    split_thresholds table) + the shared shingle fragment as CTEs.
    n=4 (not the production 13) so the HITS path is non-vacuous at
    EVERY sf (6/6/646 contaminated at 0.001/0.01/0.1 — the r06
    de-vacuated-gate rule; review r06i)."""
    from racket_linkeddata_spark.operators.decontam import (
        contamination_stats)
    from racket_linkeddata_spark.operators.mixture import split_corpus

    assigned = split_corpus(_docs(spark, sf_dir), _SPLIT_RECIPE)
    train = assigned.filter(F.col("split") == "train")
    test = assigned.filter(F.col("split") == "test").select("text")
    return contamination_stats(train, test, n=4)


def _oracle_split_leak() -> str:
    return f"""
WITH assigned AS (
  SELECT doc_id, text, {_split_case_sql()} AS split FROM documents),
docg AS ({_oracle_shingles(
    "(SELECT doc_id, text FROM assigned WHERE split = 'train') trn",
    n=4)}),
bench AS (
  SELECT DISTINCT unnest(s) AS g FROM ({_oracle_shingles(
      "(SELECT doc_id, text FROM assigned WHERE split = 'test') tst",
      n=4)}) b),
expl AS (SELECT doc_id, unnest(s) AS g FROM docg),
hits AS (
  SELECT doc_id, count(*) AS n_hits
  FROM expl JOIN bench USING (g) GROUP BY doc_id)
SELECT d.doc_id,
       CAST(len(d.s) AS BIGINT) AS n_grams,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       coalesce(h.n_hits, 0) >= 1 AS is_contaminated
FROM docg d LEFT JOIN hits h USING (doc_id)"""


def q_corpus_quantiles(spark, sf_dir):
    """Exact document-length deciles (operators/quantiles.py):
    percentile_disc over the VALUE DOMAIN — a map-side-combinable
    (value, count) aggregate + a window over the compact table, never
    a global row sort. Integer ceil thresholds make every decile
    value-exact vs the SQL replica."""
    from racket_linkeddata_spark.operators.quantiles import (
        exact_quantiles)

    return exact_quantiles(_docs(spark, sf_dir), "n_chars")


_ORACLE_QUANTILES = """
WITH counts AS (
  SELECT n_chars::BIGINT AS value, count(*)::BIGINT AS n
  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
cum AS (
  SELECT value,
         sum(n) OVER (ORDER BY value
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW)::BIGINT AS cum,
         sum(n) OVER ()::BIGINT AS N
  FROM counts),
qs AS (SELECT unnest([10,20,30,40,50,60,70,80,90,100])::INT AS q_x100)
SELECT q_x100, min(value)::BIGINT AS value
FROM cum JOIN qs ON cum * 100 >= q_x100 * N
GROUP BY q_x100"""


def q_corpus_quantiles_by_source(spark, sf_dir):
    """Per-source document-length deciles: the value-domain quantile
    shape with the cumulative window partitioned by source — each
    source's compact value table sorts independently, so the window
    is no longer single-partition."""
    from racket_linkeddata_spark.operators.quantiles import (
        exact_quantiles)

    return exact_quantiles(_docs(spark, sf_dir), "n_chars",
                           group_col="source")


_ORACLE_QUANTILES_BY = """
WITH counts AS (
  SELECT source, n_chars::BIGINT AS value, count(*)::BIGINT AS n
  FROM documents WHERE n_chars IS NOT NULL GROUP BY source, n_chars),
cum AS (
  SELECT source, value,
         sum(n) OVER (PARTITION BY source ORDER BY value
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW)::BIGINT AS cum,
         sum(n) OVER (PARTITION BY source)::BIGINT AS N
  FROM counts),
qs AS (SELECT unnest([10,20,30,40,50,60,70,80,90,100])::INT AS q_x100)
SELECT source, q_x100, min(value)::BIGINT AS value
FROM cum JOIN qs ON cum * 100 >= q_x100 * N
GROUP BY source, q_x100"""


def q_text_lm_surprisal(spark, sf_dir):
    """CCNet-shaped frequency-surprisal quality score: integer
    bit-surprisal (floor-log2) of each token against the corpus's own
    unigram counts, mean per document x1000. Two-phase count aggregate
    + token equi-join + per-doc re-aggregate; integer domain end to
    end, so the oracle is value-exact."""
    from racket_linkeddata_spark.operators.lmscore import word_surprisal

    return word_surprisal(_docs(spark, sf_dir))


_ORACLE_LM_SURPRISAL = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(
             regexp_split_to_array(lower(coalesce(text, '')), '[ \\t\\n\\r\\f\\x0B]+'),
             x -> x <> '')) AS token
  FROM documents),
counts AS (SELECT token, count(*) AS n FROM toks GROUP BY token),
tot AS (SELECT CAST(coalesce(sum(n), 1) AS BIGINT) AS g FROM counts),
scored AS (
  SELECT t.doc_id,
         (length(bin(g)) - 1)
           - (length(bin(CAST(coalesce(c.n, 1) AS BIGINT))) - 1) AS bits
  FROM toks t LEFT JOIN counts c USING (token) CROSS JOIN tot),
agg AS (SELECT doc_id, count(*) AS n_tokens,
               sum(bits) AS sum_surprisal
        FROM scored GROUP BY doc_id)
SELECT d.doc_id,
       CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(a.sum_surprisal, 0) AS BIGINT) AS sum_surprisal,
       CAST(CASE WHEN coalesce(a.n_tokens, 0) = 0 THEN 0
            ELSE (1000 * a.sum_surprisal) // a.n_tokens END
            AS BIGINT) AS avg_surprisal_x1000
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG build over sf0.001 documents-derived pages."""
    from racket_linkeddata_spark.plans.kg import build_kg

    kg = build_kg(doc_pages(spark, "/root/testdata/sf0.001"))
    return kg.edges


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "kg_triples": q_kg_triples,
        "kg_pred_counts": q_kg_pred_counts,
        "kg_edges": q_kg_edges,
        "kg_nodes": q_kg_nodes,
        "kg_page_log": q_kg_page_log,
        "kg_rdfa": q_kg_rdfa,
        "kg_microdata": q_kg_microdata,
        "kg_mixed_formats": q_kg_mixed_formats,
        "kg_entity_link": q_kg_entity_link,
        "dedup_exact": q_dedup_exact,
        "dedup_url_canonical": q_dedup_url_canonical,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_paragraphs": q_dedup_paragraphs,
        "dedup_passage_stats": q_dedup_passage_stats,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_simhash": q_dedup_simhash,
        "text_fingerprint": q_text_fingerprint,
        "text_tokens": q_text_tokens,
        "text_quality": q_text_quality,
        "text_langid": q_text_langid,
        "text_langid_model": q_text_langid_model,
        "text_repetition": q_text_repetition,
        "text_redact_pii": q_text_redact_pii,
        "text_quality_signals": q_text_quality_signals,
        "text_blocklist": q_text_blocklist,
        "blocklist_stats": q_blocklist_stats,
        "text_decontam_fuzzy": q_text_decontam_fuzzy,
        "text_decontaminate": q_text_decontaminate,
        "text_mixture_stats": q_text_mixture_stats,
        "dedup_embedding_cosine": q_dedup_embedding_cosine,
        "dedup_clusters": q_dedup_clusters,
        "dedup_text_pipeline": q_dedup_text_pipeline,
        "lsh_bucket_stats": q_lsh_bucket_stats,
        "dedup_embedding_lsh": q_dedup_embedding_lsh,
        "ann_cosine_threshold": q_ann_cosine_threshold,
        "ann_brute_topk": q_ann_brute_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_ivf_kmeans": q_ann_ivf_kmeans,
        "ann_pq_topk": q_ann_pq_topk,
        "ann_ivf_pq_topk": q_ann_ivf_pq_topk,
        "pq_code_stats": q_pq_code_stats,
        "multimodal_features": q_multimodal_features,
        "multimodal_frames": q_multimodal_frames,
        "jsonld_expand_docs": q_jsonld_expand_docs,
        "jsonld_compact_docs": q_jsonld_compact_docs,
        "jsonld_flatten_docs": q_jsonld_flatten_docs,
        "jsonld_frame_docs": q_jsonld_frame_docs,
        "jsonld_normalize_docs": q_jsonld_normalize_docs,
        "skew_salted_domain_rollup": q_skew_salted_domain_rollup,
        "tpch_q1": q_tpch_q1,
        "tpch_join": q_tpch_join,
        "tpch_q3": q_tpch_q3,
        "events_window": q_events_window,
        "events_sessionize": q_events_sessionize,
        "text_tokens_bpe": q_text_tokens_bpe,
        "text_tokens_bpe_real": q_text_tokens_bpe_real,
        "training_data_prep": q_training_data_prep,
        "train_pack_offsets": q_train_pack_offsets,
        "train_pack_stats": q_train_pack_stats,
        "train_pack_greedy": q_train_pack_greedy,
        "text_lm_surprisal": q_text_lm_surprisal,
        "text_bigram_surprisal": q_text_bigram_surprisal,
        "text_tfidf": q_text_tfidf,
        "text_textrank": q_text_textrank,
        "sketch_hll_registers": q_sketch_hll_registers,
        "sketch_hll_summary": q_sketch_hll_summary,
        "corpus_quantiles": q_corpus_quantiles,
        "corpus_quantiles_by_source": q_corpus_quantiles_by_source,
        "text_split": q_text_split,
        "split_leak_check": q_split_leak_check,
        "events_asof": q_events_asof,
        "sketch_cms": q_sketch_cms,
        "sketch_cms_estimate": q_sketch_cms_estimate,
        "text_quota_sample": q_text_quota_sample,
        "dedup_spans": q_dedup_spans,
        "text_epoch_upsample": q_text_epoch_upsample,
        "train_prep_packed": q_train_prep_packed,
        "text_nfc_normalize": q_text_nfc_normalize,
        "dedup_span_stats": q_dedup_span_stats,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "kg_triples": _ORACLE_TRIPLES,
        "kg_pred_counts": f"""
            SELECT pred, count(*) AS n_triples
            FROM ({_ORACLE_TRIPLES}) GROUP BY pred""",
        "kg_edges": f"""
            SELECT subj, pred, obj_kind, obj_value, 1::BIGINT AS n_sources
            FROM ({_ORACLE_TRIPLES})""",
        "kg_nodes": f"""
            SELECT '{KG}doc/' || doc_id AS canon_uri, 0 AS kind,
                   4::BIGINT AS n_mentions FROM documents
            UNION ALL
            SELECT '{KG}Document', 0, (SELECT count(*) FROM documents)""",
        "kg_page_log": _ORACLE_CANON,
        "kg_rdfa": _ORACLE_RDFA,
        "kg_microdata": _ORACLE_MICRODATA,
        "kg_mixed_formats": _ORACLE_MIXED,
        "jsonld_expand_docs": f"""
            SELECT doc_id,
                   '[{{"@id": "{KG}doc/' || doc_id
                   || '", "{KG}lang": [{{"@value": "' || lang
                   || '"}}]}}]' AS out,
                   NULL::VARCHAR AS error
            FROM documents""",
        "jsonld_compact_docs": f"""
            SELECT doc_id,
                   '{{"@context": {{"@vocab": "{KG}"}}, "@id": "{KG}doc/'
                   || doc_id || '", "lang": "' || lang || '"}}' AS out,
                   NULL::VARCHAR AS error
            FROM documents""",
        "jsonld_flatten_docs": f"""
            SELECT doc_id,
                   '[{{"@id": "{KG}doc/' || doc_id
                   || '", "{KG}lang": [{{"@value": "' || lang
                   || '"}}], "{KG}rel": [{{"@id": "{KG}doc/' || doc_id
                   || '/sub"}}]}}, {{"@id": "{KG}doc/' || doc_id
                   || '/sub", "{KG}lang": [{{"@value": "qq"}}]}}]' AS out,
                   NULL::VARCHAR AS error
            FROM documents""",
        "jsonld_frame_docs": f"""
            SELECT doc_id,
                   '{{"@context": {{"@vocab": "{KG}"}}, "@graph": '
                   || '[{{"@id": "{KG}doc/' || doc_id
                   || '", "lang": "' || lang || '"}}]}}' AS out,
                   NULL::VARCHAR AS error
            FROM documents""",
        "jsonld_normalize_docs": f"""
            SELECT doc_id,
                   '<{KG}doc/' || doc_id || '> <{KG}lang> "' || lang
                   || '" .' || chr(10) AS canon_nquads
            FROM documents""",
        "skew_salted_domain_rollup": f"""
            SELECT pred, count(*) AS n FROM ({_ORACLE_TRIPLES})
            GROUP BY pred""",
        "kg_entity_link": f"""
            SELECT 'http://schema.org/CreativeWork' AS obj_value,
                   count(*) AS n FROM documents""",
        "dedup_url_canonical": _ORACLE_URL_CANON,
        "dedup_exact": """
            SELECT substr(text, 1, 30) AS text_prefix,
                   min(doc_id) AS keep_id, count(*) AS n_dups
            FROM documents GROUP BY 1""",
        "dedup_paragraphs": _ORACLE_DEDUP_PARAGRAPHS,
        "dedup_passage_stats": _ORACLE_DEDUP_PASSAGE_STATS,
        "dedup_ngram_jaccard": """
            WITH corpus AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 30
              UNION ALL
              SELECT doc_id + 30, text || ' nearduptail'
              FROM documents WHERE doc_id < 30),
            sh AS (
              SELECT * FROM (
                SELECT doc_id,
                       list_distinct(list_transform(
                         range(1, len(string_split(text, ' ')) - 1),
                         i -> string_split(text, ' ')[i] || ' ' ||
                              string_split(text, ' ')[i+1] || ' ' ||
                              string_split(text, ' ')[i+2])) AS s
                FROM corpus WHERE doc_id < 60)
              WHERE len(s) > 0)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                         len(list_distinct(list_concat(a.s, b.s))), 4)
                     AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                        len(list_distinct(list_concat(a.s, b.s))), 4) >= 0.3""",
        "text_tokens": """
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_tokens,
                   length(text) AS n_chars_actual,
                   length(replace(text, ' ', '')) AS n_nonspace,
                   len(list_distinct(string_split(text, ' ')))
                     AS n_distinct_tokens
            FROM documents""",
        "text_quality": """
            -- floor() because Spark's cast(double as bigint) truncates
            -- while DuckDB's CAST rounds
            SELECT doc_id,
                   CAST(floor(1000 * length(replace(text, ' ', '')) /
                        len(string_split(text, ' '))) AS BIGINT)
                     AS mean_word_len_x1000,
                   CAST(floor(1000 *
                        len(list_distinct(string_split(text, ' '))) /
                        len(string_split(text, ' '))) AS BIGINT)
                     AS distinct_ratio_x1000
            FROM documents""",
        "text_langid": """
            WITH s AS (
              SELECT doc_id,
                (CASE WHEN text LIKE '% the %' THEN 1 ELSE 0 END +
                 CASE WHEN text LIKE '% and %' THEN 1 ELSE 0 END +
                 CASE WHEN text LIKE '% of %' THEN 1 ELSE 0 END) AS en,
                (CASE WHEN text LIKE '% der %' THEN 1 ELSE 0 END +
                 CASE WHEN text LIKE '% und %' THEN 1 ELSE 0 END +
                 CASE WHEN text LIKE '% die %' THEN 1 ELSE 0 END) AS de,
                (CASE WHEN text LIKE '% le %' THEN 1 ELSE 0 END +
                 CASE WHEN text LIKE '% et %' THEN 1 ELSE 0 END +
                 CASE WHEN text LIKE '% les %' THEN 1 ELSE 0 END) AS fr,
                (CASE WHEN text LIKE '% el %' THEN 1 ELSE 0 END +
                 CASE WHEN text LIKE '% y %' THEN 1 ELSE 0 END +
                 CASE WHEN text LIKE '% los %' THEN 1 ELSE 0 END) AS es
              FROM documents)
            SELECT doc_id,
                   CASE WHEN greatest(en, de, fr, es) = 0 THEN 'und'
                        WHEN en = greatest(en, de, fr, es) THEN 'en'
                        WHEN de = greatest(en, de, fr, es) THEN 'de'
                        WHEN fr = greatest(en, de, fr, es) THEN 'fr'
                        ELSE 'es' END AS lang_guess,
                   greatest(en, de, fr, es) AS marker_hits
            FROM s""",
        "dedup_embedding_cosine": f"""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings
                       WHERE vec_id < {_EXACT_BASELINE_MAX_IDS})
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_inner_product(a.v, b.v) /
                         (sqrt(list_inner_product(a.v, a.v)) *
                          sqrt(list_inner_product(b.v, b.v))), 4) AS cos_sim
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE round(list_inner_product(a.v, b.v) /
                        (sqrt(list_inner_product(a.v, a.v)) *
                         sqrt(list_inner_product(b.v, b.v))), 4) >= 0.4""",
        "dedup_clusters": f"""
            WITH RECURSIVE e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings
              WHERE vec_id < {_EXACT_BASELINE_MAX_IDS}),
            pairs AS (
              SELECT a.vec_id AS src, b.vec_id AS dst
              FROM e a JOIN e b ON a.vec_id < b.vec_id
              WHERE round(list_inner_product(a.v, b.v) /
                    (sqrt(list_inner_product(a.v, a.v)) *
                     sqrt(list_inner_product(b.v, b.v))), 4) >= 0.4),
            edges AS (SELECT src, dst FROM pairs
                      UNION SELECT dst, src FROM pairs),
            walk(id, r) AS (
              SELECT vec_id, vec_id FROM e
              UNION
              SELECT w.id, ed.dst FROM walk w JOIN edges ed ON ed.src = w.r)
            SELECT id AS doc_id, min(r) AS cluster_id, (min(r) = id) AS keep
            FROM walk GROUP BY id""",
        "ann_cosine_threshold": f"""
            WITH e AS (SELECT vec_id,
                              CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings
                       WHERE vec_id < {_EXACT_BASELINE_MAX_IDS})
            SELECT q.vec_id AS query_id, c.vec_id AS item_id,
                   round(list_inner_product(q.v, c.v) /
                         (sqrt(list_inner_product(q.v, q.v)) *
                          sqrt(list_inner_product(c.v, c.v))), 4) AS cos_sim
            FROM e q JOIN e c ON q.vec_id < 5 AND q.vec_id != c.vec_id
            WHERE round(list_inner_product(q.v, c.v) /
                        (sqrt(list_inner_product(q.v, q.v)) *
                         sqrt(list_inner_product(c.v, c.v))), 4) >= 0.3""",
        "dedup_minhash_lsh": _ORACLE_MINHASH_LSH,
        "lsh_bucket_stats": f"""
            WITH sh AS (
              SELECT doc_id,
                     CASE WHEN len(string_split(text, ' ')) >= 3
                          THEN list_distinct(list_transform(
                                 range(1, len(string_split(text, ' ')) - 1),
                                 i -> string_split(text, ' ')[i] || ' ' ||
                                      string_split(text, ' ')[i+1] || ' ' ||
                                      string_split(text, ' ')[i+2]))
                          ELSE [] END AS s
              FROM documents),
            base AS (
              SELECT doc_id,
                     list_transform(s, g ->
                       ('0x' || substr(md5(g), 1, 15))::BIGINT
                       % 2147483648) AS hs
              FROM sh),
            mins AS (
              SELECT doc_id,
                     {', '.join(
                         f"coalesce(list_min(list_transform(hs, h -> "
                         f"(h*{2 * j + 1} + {104729 * (j + 1)}) "
                         f"% {_MERSENNE})), {_MERSENNE}) AS mh{j}"
                         for j in range(16))}
              FROM base),
            banded AS (
              {' UNION ALL '.join(
                  f"SELECT doc_id, {i} AS band, "
                  f"{'||chr(31)||'.join(f'mh{i * 4 + r}::VARCHAR' for r in range(4))}"
                  f" AS bucket FROM mins" for i in range(4))}),
            sized AS (
              SELECT band, bucket, count(*) AS bsz FROM banded
              GROUP BY band, bucket)
            SELECT band, count(*) AS n_buckets,
                   sum(CASE WHEN bsz > 512 THEN 1 ELSE 0 END)::BIGINT
                     AS n_capped_buckets,
                   sum(CASE WHEN bsz > 512 THEN bsz ELSE 0 END)::BIGINT
                     AS n_docs_in_capped,
                   max(bsz) AS max_bucket_size
            FROM sized GROUP BY band""",
        "dedup_text_pipeline": f"""
            WITH RECURSIVE sh0 AS ({_oracle_shingles('documents')}),
            cand AS (SELECT * FROM ({_ORACLE_MINHASH_LSH}) q),
            verified AS (
              SELECT c.doc_a AS src, c.doc_b AS dst
              FROM cand c
              JOIN sh0 a ON a.doc_id = c.doc_a
              JOIN sh0 b ON b.doc_id = c.doc_b
              WHERE len(a.s) > 0
                AND round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                          len(list_distinct(list_concat(a.s, b.s))), 4)
                    >= 0.5),
            edges AS (SELECT src, dst FROM verified
                      UNION SELECT dst, src FROM verified),
            walk(id, r) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT w.id, e.dst FROM walk w JOIN edges e ON e.src = w.r)
            SELECT id AS doc_id, min(r) AS cluster_id,
                   (min(r) = id) AS keep
            FROM walk GROUP BY id""",
        "text_fingerprint": """
            SELECT doc_id,
                   list_min(list_transform(
                     range(1, greatest(length(text) - 7, 1) + 1),
                     i -> md5(substring(text, i, 8)))) AS fp_min,
                   list_max(list_transform(
                     range(1, greatest(length(text) - 7, 1) + 1),
                     i -> md5(substring(text, i, 8)))) AS fp_max
            FROM documents""",
        "dedup_simhash": """
            -- exact replica of operators/textstats.simhash: per-word
            -- 60-bit md5-prefix hashes, per-bit majority vote; empty/None
            -- text tokenizes to ZERO tokens -> signature 0 (the Spark
            -- side skips extending the token list for falsy text)
            WITH h AS (
              SELECT doc_id,
                     (text IS NULL OR text = '') AS is_empty,
                     list_transform(string_split(text, ' '),
                        w -> ('0x' || substr(md5(w), 1, 15))::BIGINT) AS hs,
                     len(string_split(text, ' ')) AS nw
              FROM documents),
            v AS (
              SELECT doc_id, nw, is_empty,
                     list_transform(range(0, 60),
                        i -> list_sum(list_transform(hs,
                               x -> (x >> i) & 1))) AS votes
              FROM h)
            SELECT doc_id,
                   CASE WHEN is_empty THEN 0::BIGINT ELSE
                     coalesce(list_sum(list_transform(range(0, 60),
                       i -> CASE WHEN votes[i+1]*2 > nw
                                 THEN (1::BIGINT << i) ELSE 0::BIGINT END)),
                       0)::BIGINT END AS simhash
            FROM v""",
        "ann_brute_topk": """
            -- deterministic: 4-decimal rounded cosine, item_id tie-break
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
            scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS item_id,
                     round(list_inner_product(q.v, c.v) /
                           (sqrt(list_inner_product(q.v, q.v)) *
                            sqrt(list_inner_product(c.v, c.v))), 4)
                       AS cos_sim
              FROM e q JOIN e c ON q.vec_id < 5 AND q.vec_id != c.vec_id)
            SELECT query_id, item_id, cos_sim, CAST(rank AS INT) AS rank
            FROM (SELECT *, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY cos_sim DESC, item_id) AS rank
                  FROM scored)
            WHERE rank <= 5""",
        "multimodal_frames": """
            -- documents with doc_id % 3 = 2 synthesize as 'video';
            -- meta_ms = n_chars*33; frame i = 16-byte window at offset
            -- i*16 (payload is the ASCII utf-8 text, so char slices ==
            -- byte slices and md5(varchar) == md5(binary))
            WITH v AS (
              SELECT doc_id AS media_id, text,
                     (n_chars * 33)::INT AS meta_ms
              FROM documents WHERE doc_id % 3 = 2),
            f AS (
              SELECT media_id, text,
                     unnest(range(0, least(meta_ms // 1000, 4)))
                       AS frame_idx
              FROM v)
            SELECT media_id, frame_idx::INT AS frame_idx,
                   (frame_idx * 1000)::INT AS ts_ms,
                   md5(substring(text, frame_idx::INT * 16 + 1, 16))
                     AS frame_md5,
                   length(substring(text, frame_idx::INT * 16 + 1, 16))::INT
                     AS n_frame_bytes
            FROM f""",
        # round-3: the last three rows-only queries now have full
        # oracles — the SRP planes are a deterministic xorshift stream
        # emitted as float64 VALUES literals, and the fake-decode
        # checksum is a list_reduce fold in HUGEINT
        "dedup_embedding_lsh": _oracle_embedding_lsh(),
        "ann_lsh_topk": _oracle_lsh_topk(),
        "ann_ivf_topk": _oracle_ivf_topk(),
        "ann_ivf_kmeans": _oracle_ivf_kmeans(),
        "ann_pq_topk": _oracle_pq_topk(),
        "ann_ivf_pq_topk": _oracle_ivf_pq_topk(),
        "pq_code_stats": _oracle_pq_code_stats(),
        "text_langid_model": _oracle_langid_model(),
        "training_data_prep": _oracle_training_data_prep(),
        "text_redact_pii": _oracle_redact_pii(),
        "text_quality_signals": _oracle_quality_signals(),
        "text_blocklist": _oracle_blocklist(),
        "blocklist_stats": _oracle_blocklist_stats(),
        "text_decontam_fuzzy": _oracle_decontam_fuzzy(),
        "text_decontaminate": _ORACLE_TEXT_DECONTAMINATE,
        "text_mixture_stats": _oracle_mixture_stats(),
        "text_repetition": """
            -- COALESCE pins NULL-text semantics to the engine's
            -- (None -> '' -> one empty token); a bare unnest would
            -- DROP the doc while the engine emits n_tokens=1
            WITH w AS (SELECT doc_id,
                              unnest(string_split(coalesce(text, ''), ' '))
                                AS w
                       FROM documents),
            tc AS (SELECT doc_id, w, count(*) AS c FROM w
                   GROUP BY doc_id, w),
            agg AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n,
                           count(*) AS nd FROM tc GROUP BY doc_id)
            SELECT doc_id,
                   CAST(n AS BIGINT) AS n_tokens,
                   CAST(top_c AS BIGINT) AS top_token_count,
                   -- integer division (//): the engine computes pure
                   -- int arithmetic, and a double floor() could land
                   -- one off when 1000*top/n is an exact integer
                   CAST((1000 * top_c) // n AS BIGINT)
                     AS top_token_x1000,
                   CAST((1000 * (n - nd)) // n AS BIGINT)
                     AS dup_token_x1000
            FROM agg""",
        "multimodal_features": _ORACLE_MULTIMODAL_FEATURES,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   count(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus""",
        "tpch_join": """
            SELECT r_name, count(*) AS n_customers,
                   round(sum(c_acctbal), 2) AS sum_acctbal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name""",
        "tpch_q3": _ORACLE_TPCH_Q3,
        "events_window": """
            SELECT user_id, event_type AS first_event
            FROM (SELECT user_id, event_type,
                         row_number() OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS rn
                  FROM events)
            WHERE rn = 1""",
        "events_sessionize": """
            WITH flagged AS (
              SELECT user_id, ts, event_id, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                          THEN 1 ELSE 0 END AS new_s
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            sess AS (
              SELECT user_id, value,
                     sum(new_s) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
              FROM flagged)
            SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
                   count(*) AS n_events,
                   round(sum(value), 2) AS session_value
            FROM sess GROUP BY user_id, session_id""",
        "text_tokens_bpe": """
            SELECT doc_id,
                   len(regexp_extract_all(text,
                       '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS n_bpe_tokens
            FROM documents""",
        "text_tokens_bpe_real": _oracle_bpe_tokens(),
        "train_pack_offsets": _ORACLE_PACK_OFFSETS,
        "train_pack_stats": _ORACLE_PACK_STATS,
        "train_pack_greedy": _ORACLE_PACK_GREEDY,
        "text_lm_surprisal": _ORACLE_LM_SURPRISAL,
        "text_bigram_surprisal": _ORACLE_BIGRAM_SURPRISAL,
        "text_tfidf": _ORACLE_TFIDF,
        "text_textrank": _oracle_textrank(),
        "sketch_hll_registers":
            f"{_HLL_REGS_SQL} SELECT bucket, register FROM regs",
        "sketch_hll_summary": _oracle_hll_summary(),
        "corpus_quantiles": _ORACLE_QUANTILES,
        "corpus_quantiles_by_source": _ORACLE_QUANTILES_BY,
        "text_split": _oracle_split(),
        "split_leak_check": _oracle_split_leak(),
        "events_asof": _ORACLE_ASOF,
        "sketch_cms": _oracle_cms(),
        "sketch_cms_estimate": _oracle_cms_estimate(),
        "text_quota_sample": _oracle_quota_sample(),
        "dedup_spans": _ORACLE_DEDUP_SPANS,
        "text_epoch_upsample": _oracle_epoch_upsample(),
        "train_prep_packed": _oracle_prep_packed(),
        "text_nfc_normalize": _ORACLE_NFC_NORMALIZE,
        "dedup_span_stats": _ORACLE_DEDUP_SPAN_STATS,
    }
