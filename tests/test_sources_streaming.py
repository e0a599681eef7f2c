"""N-Quads Spark source/sink round-trip + streaming KG ingest with
checkpoint resume."""

from pyspark.sql import functions as F

from racket_linkeddata_spark.core.nquads import parse, serialize_quad
from racket_linkeddata_spark.sources.nquads_io import (
    read_nquads,
    rows_to_quads,
    write_nquads,
)
from racket_linkeddata_spark.sources.pages import synthesize_pages

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


def test_streaming_kg_ingest_matches_batch_build(spark, tmp_path):
    """run_ingest_kg lands micro-batches in the SAME (snap, bucket)
    layout as batch materialize: after each wave the merged read view
    and the page log over the streamed store equal a batch build_kg over
    the same pages; checkpoint resume processes only the new files, and
    a restart with nothing new adds nothing."""
    from racket_linkeddata_spark.operators.lineage import resume_filter
    from racket_linkeddata_spark.plans.kg import (
        build_kg, read_edges, read_nodes)
    from racket_linkeddata_spark.streaming.ingest import run_ingest_kg

    pages_dir = str(tmp_path / "pages")
    out = str(tmp_path / "kg")
    ckpt = str(tmp_path / "ckpt")
    key = ["subj", "pred", "obj_kind", "obj_value", "obj_dt",
           "obj_lang", "graph"]

    def merged():
        return {tuple(r[k] for k in key): r.n_sources
                for r in read_edges(spark, out).collect()}

    def logged():
        return [(r.url, r.n_triples, r.canon_hash, r.status, r.snap)
                for r in spark.read.parquet(f"{out}/page_log").collect()]

    def want(n):
        kg = build_kg(synthesize_pages(spark, n, partitions=2))
        edges = {tuple(r[k] for k in key): r.n_sources
                 for r in kg.edges.collect()}
        log = {r.url: (r.n_triples, r.canon_hash, r.status)
               for r in kg.log.collect()}
        return kg, edges, log

    synthesize_pages(spark, 40, partitions=2).write.parquet(
        pages_dir, mode="overwrite")
    run_ingest_kg(spark, pages_dir, out, ckpt,
                  buckets=4).awaitTermination(180)
    _, want1, want_log1 = want(40)
    assert merged() == want1
    first = logged()
    assert {r[0]: r[1:4] for r in first} == want_log1
    assert len(first) == 40 and {r[4] for r in first} == {0}

    # second wave: resume processes only the new files; merged view now
    # equals a batch build over ALL 70 pages
    (synthesize_pages(spark, 70, partitions=2)
     .filter(F.col("url").rlike("/page/(4[0-9]|5[0-9]|6[0-9])$"))
     .write.mode("append").parquet(pages_dir))
    run_ingest_kg(spark, pages_dir, out, ckpt,
                  buckets=4).awaitTermination(180)
    batch, want2, want_log2 = want(70)
    assert merged() == want2
    second = logged()
    # each of the 70 urls logged exactly once, the first wave's urls in
    # the first micro-batch's snapshot only: nothing was reprocessed
    assert sorted(r[0] for r in second) == sorted(want_log2)
    assert {r[0]: r[1:4] for r in second} == want_log2
    assert set(first) <= set(second)
    assert {r[0] for r in second if r[4] == 1} == \
        set(want_log2) - set(want_log1)

    # NODES parity too: the streamed micro-batches run build_kg, so the
    # merged read view must equal the batch nodes exactly
    got_nodes = {(r.canon_uri, r.kind): r.n_mentions
                 for r in read_nodes(spark, out).collect()}
    want_nodes = {(r.canon_uri, r.kind): r.n_mentions
                  for r in batch.nodes.collect()}
    assert got_nodes == want_nodes

    # LINEAGE (north rule: metrics for the streaming path too): total
    # lineage triple_count matches the log, and a BATCH resume against
    # the streamed page_log skips every streamed url
    slin = spark.read.parquet(f"{out}/lineage")
    assert (slin.agg(F.sum("triple_count")).first()[0]
            == sum(v[0] for v in want_log2.values()))
    slog = spark.read.parquet(f"{out}/page_log")
    remaining = resume_filter(synthesize_pages(spark, 70, partitions=2),
                              slog)
    assert remaining.count() == 0

    # restart with no new data: no new snapshots, store unchanged
    snaps_before = {r.snap for r in spark.read.parquet(f"{out}/edges")
                    .select("snap").distinct().collect()}
    run_ingest_kg(spark, pages_dir, out, ckpt,
                  buckets=4).awaitTermination(180)
    snaps_after = {r.snap for r in spark.read.parquet(f"{out}/edges")
                   .select("snap").distinct().collect()}
    assert snaps_after == snaps_before and merged() == want2
    assert sorted(logged()) == sorted(second)
