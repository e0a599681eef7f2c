"""N-Quads Spark source/sink round-trip + streaming ingest with
checkpoint resume."""

import os

from pyspark.sql import functions as F

from racket_linkeddata_spark.core.nquads import parse, serialize_quad
from racket_linkeddata_spark.sources.nquads_io import (
    read_nquads,
    rows_to_quads,
    write_nquads,
)
from racket_linkeddata_spark.sources.pages import synthesize_pages
from racket_linkeddata_spark.streaming.ingest import run_ingest

NQ = """<http://example.com/s> <http://example.com/p> <http://example.com/o> .
<http://example.com/s> <http://example.com/p> "plain" .
<http://example.com/s> <http://example.com/p> "typed"^^<http://example.com/dt> .
<http://example.com/s> <http://example.com/p> "hallo"@de .
_:b0 <http://example.com/p> _:b1 <http://example.com/g> .
<http://example.com/s> <http://example.com/esc> "a\\"b\\\\c\\nd" .
"""


def test_nquads_read_write_roundtrip(spark, tmp_path):
    src = tmp_path / "in.nq"
    src.write_text(NQ)
    df = read_nquads(spark, str(src))
    got = set(rows_to_quads(df.collect()))
    assert got == set(parse(NQ))

    out_dir = str(tmp_path / "out")
    write_nquads(df, out_dir)
    back = read_nquads(spark, out_dir)
    assert set(rows_to_quads(back.collect())) == got
    # written lines are valid, reference-format N-Quads
    lines = {r.value for r in spark.read.text(out_dir).collect()}
    assert lines == {serialize_quad(q) for q in got}


def test_streaming_ingest_and_checkpoint_resume(spark, tmp_path):
    pages_dir = str(tmp_path / "pages")
    out = str(tmp_path / "triples")
    ckpt = str(tmp_path / "ckpt")

    synthesize_pages(spark, 50, partitions=2).write.parquet(
        pages_dir, mode="overwrite")
    q = run_ingest(spark, pages_dir, out, ckpt)
    q.awaitTermination(120)
    first = spark.read.parquet(out)
    n_first = first.count()
    urls_first = first.select("url").distinct().count()
    assert urls_first == 50

    # new files arrive; resume from checkpoint processes ONLY them
    (synthesize_pages(spark, 80, partitions=2)
     .filter(F.col("url").rlike("/page/(5[0-9]|6[0-9]|7[0-9])$"))
     .write.mode("append").parquet(pages_dir))
    q2 = run_ingest(spark, pages_dir, out, ckpt)
    q2.awaitTermination(120)
    after = spark.read.parquet(out)
    assert after.select("url").distinct().count() == 80
    # no double-processing: the original 50 urls keep identical row counts
    before_counts = first.groupBy("url").count().withColumnRenamed(
        "count", "n_before")
    after_counts = after.groupBy("url").count()
    redone = (after_counts.join(before_counts, "url")
              .filter(F.col("count") != F.col("n_before")).count())
    assert redone == 0
    assert after.count() > n_first


def test_streaming_kg_ingest_matches_batch_build(spark, tmp_path):
    """run_ingest_kg lands micro-batches in the SAME (snap, bucket)
    layout as batch materialize: the merged read view over the streamed
    store equals a batch build_kg over the same pages, and checkpoint
    resume processes only new files."""
    from racket_linkeddata_spark.plans.kg import build_kg, read_edges
    from racket_linkeddata_spark.streaming.ingest import run_ingest_kg

    pages_dir = str(tmp_path / "pages")
    out = str(tmp_path / "kg")
    ckpt = str(tmp_path / "ckpt")
    key = ["subj", "pred", "obj_kind", "obj_value", "obj_dt",
           "obj_lang", "graph"]

    synthesize_pages(spark, 40, partitions=2).write.parquet(
        pages_dir, mode="overwrite")
    q = run_ingest_kg(spark, pages_dir, out, ckpt, buckets=4)
    q.awaitTermination(180)

    def merged():
        return {tuple(r[k] for k in key): r.n_sources
                for r in read_edges(spark, out).collect()}

    batch1 = build_kg(synthesize_pages(spark, 40, partitions=2)).edges
    want1 = {tuple(r[k] for k in key): r.n_sources
             for r in batch1.collect()}
    assert merged() == want1

    # second wave: resume processes only the new files; merged view now
    # equals a batch build over ALL 70 pages
    (synthesize_pages(spark, 70, partitions=2)
     .filter(F.col("url").rlike("/page/(4[0-9]|5[0-9]|6[0-9])$"))
     .write.mode("append").parquet(pages_dir))
    q2 = run_ingest_kg(spark, pages_dir, out, ckpt, buckets=4)
    q2.awaitTermination(180)
    batch2 = build_kg(synthesize_pages(spark, 70, partitions=2)).edges
    want2 = {tuple(r[k] for k in key): r.n_sources
             for r in batch2.collect()}
    assert merged() == want2

    # NODES parity too (ADVICE r03): the streamed nodes table shares
    # build_kg's aggregation via plans.kg.nodes_from_triples — the
    # merged read view must equal the batch nodes exactly
    from racket_linkeddata_spark.plans.kg import read_nodes
    got_nodes = {(r.canon_uri, r.kind): r.n_mentions
                 for r in read_nodes(spark, out).collect()}
    batch_nodes = build_kg(synthesize_pages(spark, 70, partitions=2)).nodes
    want_nodes = {(r.canon_uri, r.kind): r.n_mentions
                  for r in batch_nodes.collect()}
    assert got_nodes == want_nodes

    # PAGE LOG + LINEAGE parity (north rule: metrics for the streaming
    # path too): streamed page_log rows equal the batch run's, total
    # lineage triple_count matches, and a BATCH resume against the
    # streamed page_log skips every streamed url
    from racket_linkeddata_spark.operators.lineage import resume_filter
    slog = spark.read.parquet(f"{out}/page_log")
    got_log = {r.url: (r.n_triples, r.canon_hash, r.status)
               for r in slog.collect()}
    batch_log = build_kg(synthesize_pages(spark, 70, partitions=2)).log
    want_log = {r.url: (r.n_triples, r.canon_hash, r.status)
                for r in batch_log.collect()}
    assert got_log == want_log
    slin = spark.read.parquet(f"{out}/lineage")
    assert (slin.agg(F.sum("triple_count")).first()[0]
            == batch_log.sparkSession.createDataFrame(
                [(v[0],) for v in want_log.values()], "n long")
            .agg(F.sum("n")).first()[0])
    remaining = resume_filter(synthesize_pages(spark, 70, partitions=2),
                              slog)
    assert remaining.count() == 0

    # restart with no new data: no new snapshots, store unchanged
    snaps_before = {r.snap for r in spark.read.parquet(f"{out}/edges")
                    .select("snap").distinct().collect()}
    q3 = run_ingest_kg(spark, pages_dir, out, ckpt, buckets=4)
    q3.awaitTermination(180)
    snaps_after = {r.snap for r in spark.read.parquet(f"{out}/edges")
                   .select("snap").distinct().collect()}
    assert snaps_after == snaps_before and merged() == want2
