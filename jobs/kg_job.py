#!/usr/bin/env python3
"""spark-submit entry point for the KG-construction pipeline.

    spark-submit --driver-memory 8g --py-files rls.zip jobs/kg_job.py \
        --pages <pages parquet/Iceberg path> --out <output dir> \
        [--staging <staging path>] [--resume] [--n-synth 10000]

With --n-synth and no --pages, synthesizes the deterministic test corpus
first (sandbox use). --warc <dir> reads raw Common-Crawl-style
.warc/.warc.gz files instead of a parquet pages table (a file is never
split). --resume anti-joins against <out>/page_log from a previous run
before processing. --stream runs the Structured Streaming ingest over
the --pages/--warc directory instead (exactly-once per file via the
stream checkpoint; re-invoke to drain newly arrived files). --staging
writes the extraction once to a durable table: use it on a cluster,
since without it the extraction is a local checkpoint that executor
loss destroys.
"""

from __future__ import annotations

import argparse

from pyspark.sql import functions as F


def exists(spark, path: str) -> bool:
    """Whether ``path`` exists, checked through Hadoop's FileSystem, so
    --out may be any filesystem Spark writes to."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--pages")
    p.add_argument("--warc", help="directory/glob of .warc/.warc.gz "
                   "files to read as the pages input")
    p.add_argument("--out", required=True)
    p.add_argument("--staging", help="durable staging path for the "
                   "extraction (the cluster path)")
    p.add_argument("--resume", action="store_true")
    p.add_argument("--compact", action="store_true",
                   help="fold resume snapshots into snap=0 after the run "
                        "(Iceberg rewriteDataFiles stand-in)")
    p.add_argument("--n-synth", type=int)
    p.add_argument("--buckets", type=int, default=64)
    p.add_argument("--stream", action="store_true",
                   help="run as a Structured Streaming ingest instead "
                        "of a batch build: drain the --pages/--warc "
                        "directory (availableNow) into the same "
                        "(snap,bucket) store; the stream checkpoint at "
                        "<out>/_checkpoint makes re-invocation process "
                        "only newly arrived files (so --resume/--compact "
                        "do not apply)")
    args = p.parse_args()

    if args.stream:
        # validate BEFORE the JVM spins up: these are usage errors
        if args.resume or args.compact or args.n_synth:
            raise SystemExit("--stream takes --pages or --warc only "
                             "(checkpoint IS the resume mechanism)")
        if args.pages and args.warc:
            # silently preferring one would parse the other directory
            # with the wrong reader (review r05a: parquet bytes through
            # parse_warc "succeed" as an empty KG)
            raise SystemExit("--stream: give --pages OR --warc, not both")
        if not (args.pages or args.warc):
            raise SystemExit("--stream needs --pages or --warc")

    from racket_linkeddata_spark.plans.kg import (
        build_kg, compact_snapshots, job_session, materialize, read_edges)
    from racket_linkeddata_spark.sources.pages import synthesize_pages

    spark = job_session("kg-construct")

    if args.stream:
        path = args.pages or args.warc
        from racket_linkeddata_spark.streaming.ingest import run_ingest_kg
        q = run_ingest_kg(spark, path, args.out,
                          f"{args.out}/_checkpoint",
                          buckets=args.buckets,
                          source="warc" if args.warc else "parquet")
        q.awaitTermination()
        # no edges dir: zero micro-batches fired (nothing in the input
        # dir yet), a valid drain. Any other read error is a broken
        # store and fails the job.
        n = (read_edges(spark, args.out).count()
             if exists(spark, f"{args.out}/edges") else 0)
        print(f"kg-construct done: {n} edges at {args.out} (streamed)")
        spark.stop()
        return

    if args.pages:
        pages = spark.read.parquet(args.pages)
    elif args.warc:
        from racket_linkeddata_spark.sources.warc import read_warc
        pages = read_warc(spark, args.warc)
    elif args.n_synth:
        pages = synthesize_pages(spark, args.n_synth)
    else:
        raise SystemExit("need --pages, --warc or --n-synth")

    processed_log = None
    snapshot_id = 0
    if args.resume:
        # materialize lands edges ∥ nodes, and only then page_log ∥
        # lineage. A crash of run N leaves one of these states:
        # - during the data phase: edges/nodes of snap N (possibly
        #   partial), no page_log/lineage rows of run N. A first run
        #   has no page_log, so it is rebuilt from scratch; a resume
        #   run would re-derive snapshot N and append the same pages
        #   into snap N again, beside the crashed attempt's rows, and
        #   count them twice, so abort below;
        # - page_log landed, lineage did not: a first run has a
        #   page_log but no lineage — falling back to overwrite would
        #   destroy every prior snapshot, so abort below; a resume run
        #   re-derives snapshot N and skips the logged pages;
        # - lineage landed, page_log did not: the newest snapshot's
        #   lineage names urls the log lacks; resuming would process
        #   them again into snapshot N+1 and count their data twice,
        #   so abort below. A first run has no page_log and rebuilds.
        # page_log and lineage are read in SEPARATE try blocks so the
        # second state aborts instead of overwriting.
        try:
            # pin the prior log eagerly: this job appends to
            # <out>/page_log later, and a lazily-read directory listing
            # could otherwise be re-listed mid-append if a cache-evicted
            # stage recomputes the resume anti-join
            processed_log = spark.read.parquet(
                f"{args.out}/page_log").localCheckpoint(eager=True)
        except Exception:
            processed_log = None  # first run: nothing to resume from
        if processed_log is not None:
            try:
                lineage = spark.read.parquet(f"{args.out}/lineage")
                prior = lineage.agg({"snapshot_id": "max"}).collect()[0][0]
                snapshot_id = (prior if prior is not None else -1) + 1
            except Exception:
                raise SystemExit(
                    f"--resume: {args.out}/page_log exists but "
                    f"{args.out}/lineage is unreadable — refusing to "
                    "fall back to overwrite (it would destroy prior "
                    "snapshots). Repair/remove the output dir or rerun "
                    "without --resume to rebuild from scratch.")
            unlogged = (lineage.filter(F.col("snapshot_id") == prior)
                        .select(F.explode(F.array("url_min", "url_max"))
                                .alias("url"))
                        .join(processed_log, "url", "left_anti").count())
            if unlogged:
                raise SystemExit(
                    f"--resume: {args.out}/lineage records snapshot "
                    f"{prior} but {args.out}/page_log lacks its pages — "
                    "refusing to resume (they would be processed and "
                    "counted twice). Repair/remove the output dir or "
                    "rerun without --resume to rebuild from scratch.")
            # snap N holds data: the run that wrote it crashed before
            # its resume record landed. If it logged nothing, page_log
            # and lineage count the same triples; a page_log ahead of
            # lineage logged its pages, which this run skips.
            snaps = [f"{args.out}/{t}/snap={snapshot_id}"
                     for t in ("edges", "nodes")]
            if any(exists(spark, s) for s in snaps):
                logged = processed_log.agg(F.sum("n_triples")).first()[0]
                recorded = lineage.agg(F.sum("triple_count")).first()[0]
                if logged == recorded:
                    raise SystemExit(
                        f"--resume: {' and '.join(snaps)} hold data that "
                        f"{args.out}/page_log does not record — refusing "
                        "to resume (those pages would be processed and "
                        "counted twice). Remove those two partition dirs "
                        "or rerun without --resume to rebuild from "
                        "scratch.")

    kg = build_kg(pages, processed_log=processed_log,
                  staging_path=args.staging, snapshot_id=snapshot_id)
    materialize(kg, args.out, buckets=args.buckets,
                mode="append" if args.resume and processed_log is not None
                else "overwrite")
    if args.compact:
        compact_snapshots(spark, args.out)
    n = read_edges(spark, args.out).count()
    print(f"kg-construct done: {n} edges at {args.out} "
          f"(snapshot {snapshot_id})")
    spark.stop()


if __name__ == "__main__":
    main()
