"""End-to-end Spark pipeline tests: Arrow boundary, schema, per-row text
invariant, determinism vs the pure-Python core, skolemized dedup, resume.

The *algorithms* are pinned by the conformance suites (pure Python); these
tests pin the Spark plumbing: the distributed result must equal a
driver-side pure-Python run of the same documents.
"""

import pytest
from pyspark.sql import functions as F

from racket_linkeddata_spark.core.pipeline import (
    extract_text,
    page_to_triples,
)
from racket_linkeddata_spark.operators.dedup import dedup_triples, skolemize_bnodes
from racket_linkeddata_spark.operators.extract import extract_triples, triples_only
from racket_linkeddata_spark.plans.kg import build_kg
from racket_linkeddata_spark.sources.pages import synth_page, synthesize_pages

N_DOCS = 200


@pytest.fixture(scope="module")
def pages(spark):
    df = synthesize_pages(spark, N_DOCS, partitions=8).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def kg(pages):
    return build_kg(pages)


def test_pages_deterministic(pages):
    # same doc_id -> byte-identical html regardless of partitioning
    row = pages.filter(pages.url == synth_page(7)[0]).first()
    assert bytes(row.html) == synth_page(7)[2]
    assert row.text == synth_page(7)[3]


def test_text_invariant_byte_identical(pages):
    """North-rule per-row invariant: extract_text(html) == text, per url."""
    @F.pandas_udf("boolean")
    def text_matches(html, text):
        import pandas as pd
        return pd.Series(
            [extract_text(bytes(h)) == t for h, t in zip(html, text)])

    bad = pages.filter(~text_matches("html", "text")).count()
    assert bad == 0


def test_extraction_matches_pure_python(spark, pages, kg):
    """The distributed extraction equals a driver-side core run, doc by doc."""
    got = {
        (r.url, r.subj, r.pred, r.obj_kind, r.obj_value, r.obj_dt,
         r.obj_lang, r.graph)
        for r in triples_only(kg.extracted).collect()
    }
    want = set()
    for doc_id in range(N_DOCS):
        url, _, html, _, _ = synth_page(doc_id)
        res = page_to_triples(url, html)
        for row in res.rows:
            want.add(row[:8])
    assert got == want
    assert len(want) > 500  # non-trivial corpus


def test_marker_rows_cover_all_urls(kg, pages):
    assert kg.log.count() == pages.select("url").distinct().count()
    statuses = {r.status for r in kg.log.select("status").distinct().collect()}
    assert "ok" in statuses and "empty" in statuses
    assert any(s.startswith("error:") for s in statuses)


def test_skolemized_dedup_no_cross_doc_bnode_merge(kg):
    """Each url's bnodes stay distinct, but identical docs would collapse;
    edges row count equals distinct skolemized triples."""
    t = kg.triples
    n_distinct = t.select(*[c for c in t.columns
                            if c not in ("url", "canon_hash", "status")]) \
        .distinct().count()
    assert kg.edges.count() == n_distinct
    # no un-skolemized labels survive
    assert t.filter(t.subj.rlike("^_:c14n")).count() == 0


def test_edges_n_sources(kg):
    assert kg.edges.agg(F.max("n_sources")).first()[0] >= 1


def test_lineage_covers_all_partitions(kg):
    rows = kg.lineage.collect()
    assert sum(r.triple_count for r in rows) == triples_only(kg.extracted).count()
    assert all(r.url_min <= r.url_max for r in rows)


def test_resume_skips_processed(spark, pages, kg):
    log = kg.log
    remaining = build_kg(pages, processed_log=log)
    assert remaining.extracted.count() == 0


def test_entry_contract(spark):
    import importlib
    import __spark_entry__ as entry_mod
    importlib.reload(entry_mod)
    df = entry_mod.entry(spark)
    assert df.count() >= 0
