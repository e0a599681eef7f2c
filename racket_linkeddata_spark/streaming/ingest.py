"""Structured Streaming ingest: continuously turn arriving page files
into canonical triples.

The reference has no streaming (SURVEY.md §2.11) and the north rule's
resumability is satisfied by batch snapshot resume (operators/lineage.py);
this module is the *streaming-native* alternative: a file-source
readStream over the pages table directory, the same Arrow-batched
extraction stage (mapInPandas works unchanged on streaming DataFrames),
and an append sink with Spark's own checkpointing — exactly-once per
input file, restart-safe out of the box.

Use Trigger.AvailableNow (drain-and-stop) for backfills and tests;
processingTime triggers for continuous ingest.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from ..operators.extract import TRIPLES_SCHEMA, triples_kernel


def stream_pages(spark: SparkSession, pages_path: str,
                 max_files_per_trigger: Optional[int] = None) -> DataFrame:
    reader = (spark.readStream.format("parquet")
              .schema("url string, warc_ts timestamp, html binary, "
                      "text string, lang string"))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(pages_path)


def _source_stream(spark: SparkSession, pages_path: str,
                   source: str) -> DataFrame:
    """``source='parquet'``: a pages-table directory; ``'warc'``: a raw
    .warc/.warc.gz crawl directory (sources.warc.read_warc_stream) —
    both yield the canonical pages schema, so everything downstream is
    shared."""
    if source == "warc":
        from ..sources.warc import read_warc_stream
        return read_warc_stream(spark, pages_path)
    if source != "parquet":
        raise ValueError(f"unknown stream source {source!r}")
    return stream_pages(spark, pages_path)


def stream_triples(pages_stream: DataFrame, contexts_broadcast=None,
                   mode: str = "URDNA2015") -> DataFrame:
    """Streaming variant of operators.extract.extract_triples: the same
    kernel with no fan-out (micro-batches already track file arrival)."""
    return (pages_stream.select("url", "html")
            .mapInPandas(triples_kernel(contexts_broadcast, mode),
                         schema=TRIPLES_SCHEMA))


def run_ingest(spark: SparkSession, pages_path: str, out_path: str,
               checkpoint_path: str, available_now: bool = True,
               contexts_broadcast=None, source: str = "parquet"):
    """Start (or resume, via the checkpoint) the streaming ingest.
    Returns the StreamingQuery; with available_now=True it drains the
    backlog and stops — call .awaitTermination()."""
    triples = stream_triples(_source_stream(spark, pages_path, source),
                             contexts_broadcast)
    writer = (triples.writeStream.format("parquet")
              .option("path", out_path)
              .option("checkpointLocation", checkpoint_path)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_ingest_kg(spark: SparkSession, pages_path: str, out_dir: str,
                  checkpoint_path: str, buckets: int = 64,
                  available_now: bool = True, contexts_broadcast=None,
                  source: str = "parquet"):
    """Streaming KG construction into the SAME (snap, bucket)-partitioned
    store that plans.kg.materialize writes: each micro-batch runs the
    batch dedup chain (skolemize -> two-phase hash aggregate) and lands
    as its own snapshot partition (snap = streaming batch id), so
    read_edges/read_nodes' merging view, snapshot compaction, and the
    batch/resume writers all share one layout.

    Exactly-once on plain files: foreachBatch + DYNAMIC partition
    overwrite — a replayed batch (crash between write and checkpoint
    commit) overwrites exactly its own snap partition instead of
    appending duplicates. ``out_dir`` must be dedicated to one stream:
    streaming batch ids start at 0, which would collide with a batch
    materialize()'s snapshot numbering in a shared directory.

    The north rule's lineage/metrics contract holds for the streaming
    path too: each micro-batch also lands ``page_log`` (url, n_triples,
    canon_hash, status) and per-partition ``lineage`` rows in the same
    snap-partitioned idempotent layout — so a BATCH resume
    (operators.lineage.resume_filter) pointed at a streamed store's
    page_log skips everything the stream already processed, and
    per-batch metrics survive replay."""
    from pyspark.sql import functions as F

    from ..operators.dedup import dedup_triples, skolemize_bnodes
    from ..operators.extract import triples_only
    from ..operators.lineage import page_log, partition_lineage
    from ..plans.kg import _write_store, nodes_from_triples

    def _write_batch(batch_df, batch_id: int):
        # four sinks consume the batch: pin it so the Arrow extraction
        # stage runs once, not once per write
        batch_df = batch_df.localCheckpoint(eager=True)
        snap = F.lit(batch_id).cast("int")
        triples = skolemize_bnodes(triples_only(batch_df))
        # the SAME aggregations, layout and landing order as the batch
        # plan: shared helpers, so the streamed store cannot drift from
        # materialize's (the data lands before the page log that marks
        # its pages processed)
        _write_store(
            out_dir, batch_id, buckets, dedup_triples(triples),
            nodes_from_triples(triples),
            page_log(batch_df).withColumn("snap", snap),
            partition_lineage(batch_df, batch_id).withColumn("snap", snap),
            lambda w: w.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic"))

    triples = stream_triples(_source_stream(spark, pages_path, source),
                             contexts_broadcast)
    writer = (triples.writeStream
              .foreachBatch(_write_batch)
              .option("checkpointLocation", checkpoint_path))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
