"""Structured Streaming ingest: continuously turn arriving page files
into the KG store.

The reference has no streaming (SURVEY.md §2.11) and the north rule's
resumability is satisfied by batch snapshot resume (operators/lineage.py);
this module is the *streaming-native* alternative: a file-source
readStream over the pages (or WARC) directory, Spark's own
checkpointing for exactly-once per input file, and a foreachBatch sink
that runs the batch KG build (plans.kg.build_kg) on each micro-batch.
The query drains the backlog and stops (Trigger.AvailableNow); a
restart from the same checkpoint processes only the files that arrived
since.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession


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


def run_ingest_kg(spark: SparkSession, pages_path: str, out_dir: str,
                  checkpoint_path: str, buckets: int = 64,
                  contexts_broadcast=None, source: str = "parquet"):
    """Streaming KG construction into the SAME (snap, bucket)-partitioned
    store that plans.kg.materialize writes: each micro-batch runs
    plans.kg.build_kg (snapshot_id = streaming batch id) and lands as
    its own snapshot partition, so read_edges/read_nodes' merging view,
    snapshot compaction, and the batch/resume writers all share one
    layout. Returns the StreamingQuery; it drains the backlog and stops
    — call .awaitTermination().

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

    from ..plans.kg import _write_store, build_kg

    def _write_batch(batch_df, batch_id: int):
        kg = build_kg(batch_df, contexts_broadcast=contexts_broadcast,
                      snapshot_id=batch_id)
        snap = F.lit(batch_id).cast("int")
        _write_store(
            out_dir, batch_id, buckets, kg.edges, kg.nodes,
            kg.log.withColumn("snap", snap),
            kg.lineage.withColumn("snap", snap),
            lambda w: w.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic"))

    return (_source_stream(spark, pages_path, source).writeStream
            .foreachBatch(_write_batch)
            .option("checkpointLocation", checkpoint_path)
            .trigger(availableNow=True)
            .start())
