"""End-to-end KG-construction plan (SURVEY.md §3.2 Spark chain):

pages -> [resume anti-join] -> mapInPandas(extract+expand+toRDF+canonize)
      -> skolemize bnodes -> two-phase dedup (hash aggregate)
      -> edges / nodes + page log & per-partition lineage.

One derivation serves batch and stream: ``build_kg`` on a whole table
(jobs/kg_job.py) and on each streaming micro-batch
(streaming.ingest.run_ingest_kg), both landing through ``_write_store``.

Scale notes (100 TB / 1000 executors):
- extraction has NO shuffle: parquet splits -> tasks, Arrow batches;
- the only wide dependencies are the dedup/groupBy aggregates, all
  map-side combinable; AQE coalesces/splits their shuffles (skew-join
  and skewed-aggregate handling replace manual salting for hot subjects,
  with the mega-domain url skew already diluted because dedup keys are
  triple contents, not urls);
- ``extracted`` is reused by edges/nodes/log/lineage: a lazy
  localCheckpoint locally, a staging table (Iceberg) at production
  scale.
"""

from __future__ import annotations

import re
from typing import Callable, Optional, Sequence

from pyspark.sql import (
    DataFrame, DataFrameWriter, SparkSession, functions as F)

from ..operators.dedup import TRIPLE_KEY, dedup_triples, skolemize_bnodes
from ..operators.extract import TRIPLES_SCHEMA, extract_triples, triples_only
from ..operators.lineage import page_log, partition_lineage, resume_filter
from ..operators.util import concurrently


def session(app: str = "kg", cpus: Optional[int] = None,
            shuffle_partitions: Optional[int] = None) -> SparkSession:
    """Opinionated local session: one slot per CPU, Arrow enabled for
    pandas UDF stages (AQE, its coalescing and skew handling are Spark's
    defaults)."""
    import multiprocessing

    cpus = cpus or multiprocessing.cpu_count()
    b = (SparkSession.builder.appName(app)
         .master(f"local[{cpus}]")
         .config("spark.sql.shuffle.partitions",
                 str(shuffle_partitions or cpus))
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         # 8192 suits this LOCAL session's small synthetic pages (2048
         # measured ~20% slower from batch overhead). Size by BYTES at
         # production: rows x avg page size x concurrent tasks must fit
         # the JVM direct-memory arena — real 100KB+ pages need ~2048
         # (see job_session, where the 10000-row default reproducibly
         # OOMed netty direct memory at 1.2M pages)
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
         .config("spark.driver.memory", "8g"))
    return b.getOrCreate()


def job_session(app: str) -> SparkSession:
    """The session of both spark-submit entries (jobs/kg_job.py,
    jobs/prep_job.py): no master pinning (spark-submit's job on a
    cluster), Arrow enabled, bounded Arrow batches."""
    # page rows carry multi-KB html binaries, and the default
    # 10000-row batches x 32 concurrent tasks exhaust the JVM's direct
    # memory arena (reproduced at 1.2M pages: netty OutOfDirectMemoryError
    # at the 1 GiB default). 2048-row batches keep per-task buffers a few
    # MB regardless of page size. driver.memory here is effective ONLY
    # when a job is launched as a plain python process (the JVM
    # starts inside getOrCreate, and local-mode executors live in that
    # JVM — without it a million-page run OOMs the default ~1g heap,
    # reproduced at 600k pages). Under spark-submit the builder value is
    # ignored because the JVM is already up — pass --driver-memory 8g on
    # the submit command line (see jobs/kg_job.py's docstring).
    # Arrow also carries prep_job's driver-side pandas hops
    # (connected_components' bounded toPandas, _union_find_local's
    # createDataFrame): Spark's default is the pickled-row path
    return (SparkSession.builder.appName(app)
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
            .config("spark.driver.memory", "8g")
            .getOrCreate())


def nodes_from_triples(triples: DataFrame) -> DataFrame:
    """nodes = all IRI/bnode endpoints of a (skolemized) triples table
    (each row's subj, and its obj_value unless obj_kind is 2 or NULL),
    one scan and one hash aggregate."""
    ends = (F.when(F.col("obj_kind") != 2, F.array("subj", "obj_value"))
            .otherwise(F.array("subj")))
    return (
        triples.select(F.explode(ends).alias("canon_uri"))
        .groupBy("canon_uri")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .withColumn(
            "kind",
            F.when(F.col("canon_uri").startswith("_:"), F.lit(1))
            .otherwise(F.lit(0)).cast("tinyint"))
    )


class KgResult:
    def __init__(self, extracted, triples, edges, nodes, log, lineage,
                 snapshot_id: int = 0):
        self.extracted = extracted  # raw extraction output (marker rows too)
        self.triples = triples      # skolemized, pre-dedup
        self.edges = edges          # deduped, n_sources
        self.nodes = nodes          # canon_uri, kind, n_mentions
        self.log = log              # per-url page log (resume input)
        self.lineage = lineage      # per-partition lineage rows
        self.snapshot_id = snapshot_id


def build_kg(
    pages: DataFrame,
    contexts_broadcast=None,
    processed_log: Optional[DataFrame] = None,
    snapshot_id: int = 0,
    staging_path: Optional[str] = None,
) -> KgResult:
    """pages -> the KG tables of one snapshot: extraction (pinned once),
    skolemized triples, deduped edges, nodes, page log and lineage.

    ``contexts_broadcast`` carries pre-fetched remote contexts to the
    extraction (operators.extract.extract_triples); ``processed_log``
    drops the pages an earlier snapshot logged (resume_filter).

    ``staging_path``: write the extraction once to parquet and compute
    every downstream aggregate from the staged table (the production
    pattern — an Iceberg staging table; measured ~1.5x faster than DF
    cache locally and spill-proof at scale). Without it, ``extracted``
    (read by edges, nodes, log and lineage) is pinned with a
    lazy localCheckpoint, which executor loss destroys: on a cluster,
    ``staging_path`` is the durable path."""
    if processed_log is not None:
        pages = resume_filter(pages, processed_log)

    extracted = extract_triples(pages, contexts_broadcast)
    if staging_path is not None:
        extracted.write.mode("overwrite").parquet(staging_path)
        extracted = pages.sparkSession.read.schema(TRIPLES_SCHEMA) \
            .parquet(staging_path)
    else:
        extracted = extracted.localCheckpoint(eager=False)

    triples = skolemize_bnodes(triples_only(extracted))
    return KgResult(
        extracted=extracted,
        triples=triples,
        edges=dedup_triples(triples),
        nodes=nodes_from_triples(triples),
        log=page_log(extracted),
        lineage=partition_lineage(extracted, snapshot_id),
        snapshot_id=snapshot_id,
    )


def register_views(kg: KgResult, prefix: str = "kg_") -> None:
    """Expose the KG tables as temp views so the whole engine is
    spark.sql-queryable: kg_triples, kg_edges, kg_nodes, kg_page_log,
    kg_lineage."""
    kg.triples.createOrReplaceTempView(f"{prefix}triples")
    kg.edges.createOrReplaceTempView(f"{prefix}edges")
    kg.nodes.createOrReplaceTempView(f"{prefix}nodes")
    kg.log.createOrReplaceTempView(f"{prefix}page_log")
    kg.lineage.createOrReplaceTempView(f"{prefix}lineage")


# The store tables as _write_store lays them out: the data columns, then
# the partition columns (int, as partition discovery infers them). Reads
# name them, so no read runs a schema-inference job.
EDGES_SCHEMA = (
    "subj string, pred string, obj_kind tinyint, obj_value string, "
    "obj_dt string, obj_lang string, graph string, n_sources bigint, "
    "snap int, bucket int")
NODES_SCHEMA = (
    "canon_uri string, n_mentions bigint, kind tinyint, snap int, bucket int")


def _write_store(out_dir: str, snapshot_id: int, buckets: int,
                 edges: DataFrame, nodes: DataFrame, log: DataFrame,
                 lineage: DataFrame,
                 configure: Callable[[DataFrameWriter], DataFrameWriter]
                 ) -> None:
    """Land the four store tables under ``out_dir``. Shared by
    materialize and the streaming sink (streaming.ingest.run_ingest_kg),
    so the two stores' layout and landing order cannot drift.

    edges/nodes gain the partition columns ``bucket`` (xxhash64 of the
    canonical subject/uri mod ``buckets``) and ``snap``
    (``snapshot_id``); each table is partitioned by the ones of these
    it carries. ``configure`` sets the save mode and options. The order
    is materialize's: edges ∥ nodes, then page_log ∥ lineage."""
    snap = F.lit(snapshot_id).cast("int")
    edges = (edges
             .withColumn("bucket", F.pmod(F.xxhash64("subj"), F.lit(buckets)))
             .withColumn("snap", snap))
    nodes = (nodes
             .withColumn("bucket",
                         F.pmod(F.xxhash64("canon_uri"), F.lit(buckets)))
             .withColumn("snap", snap))

    def write(df: DataFrame, table: str) -> Callable[[], None]:
        writer = configure(df.write)
        partitions = [c for c in ("snap", "bucket") if c in df.columns]
        if partitions:
            writer = writer.partitionBy(*partitions)
        return lambda: writer.parquet(f"{out_dir}/{table}")

    concurrently(write(edges, "edges"), write(nodes, "nodes"))
    concurrently(write(log, "page_log"), write(lineage, "lineage"))


def materialize(kg: KgResult, out_dir: str, buckets: int = 64,
                mode: str = "overwrite") -> None:
    """Write the KG tables in a scale-oriented layout:

    - edges/nodes carry a ``bucket`` partition column (xxhash64 of the
      canonical subject/uri mod ``buckets``): downstream subject-keyed
      joins and incremental MERGEs prune to one bucket instead of a full
      shuffle (a poor man's bucketed table — Iceberg bucket-partitioning
      at production scale);
    - edges/nodes also carry a ``snap`` partition column (the run's
      snapshot id). Resume appends land in their OWN partition instead of
      interleaving rows with prior runs, and the merged view
      (read_edges/read_nodes) re-aggregates across snapshots — the
      parquet stand-in for an Iceberg MERGE. An append never replaces
      rows: a second write into a snapshot adds its rows to the first
      one's, so ``kg_job --resume`` refuses to append into a snapshot
      partition that a crashed run left without a resume record;
    - page log + lineage land beside them (resume inputs; page-log urls
      are disjoint across snapshots by construction of resume_filter).

    The tables land in two phases, each a pair of concurrent Spark jobs
    (``operators.util.concurrently``): first the data, edges ∥ nodes;
    then, only after both have committed, the resume record, page_log
    ∥ lineage. A page is logged as processed only once its triples are
    in the store, so a resume never skips a page whose data is missing; if the
    data phase fails, nothing of the resume record is written."""
    _write_store(out_dir, kg.snapshot_id, buckets, kg.edges, kg.nodes,
                 kg.log, kg.lineage, lambda w: w.mode(mode))


def _recover_compaction(out_dir: str, table: str) -> None:
    """Crash recovery for compact_snapshots' non-atomic directory swap
    (two renames can't be one syscall without renameat2): roll the swap
    forward or back so readers always see a complete table.

    States after a crash (write tmp -> move path->old -> move tmp->path
    -> delete old; each move IS atomic — same-filesystem rename):
    - path present, tmp present:  crashed before the swap started (tmp
      may be partial) -> discard tmp;
    - path present, old present:  crashed before the final cleanup ->
      discard old;
    - path absent, tmp present:   crashed between the two moves (tmp is
      complete — the swap only starts after the rewrite succeeded) ->
      roll FORWARD: move tmp into place, discard old;
    - path absent, only old:      roll BACK: restore old.
    """
    import os
    import shutil

    path = f"{out_dir}/{table}"
    tmp = f"{out_dir}/{table}__compacting"
    old = f"{out_dir}/{table}__old"
    if os.path.exists(path):
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
    elif os.path.exists(tmp):
        shutil.move(tmp, path)
        shutil.rmtree(old, ignore_errors=True)
    elif os.path.exists(old):
        shutil.move(old, path)


# a file one Spark write job made: part-<split>-<the job's uuid>...
_PART_FILE = re.compile(
    r"part-\d{5}-([0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12})[._].*")


def _one_write(df: DataFrame) -> bool:
    """Whether every file ``df`` scans is a part file of one write job.
    Reads the listed file index, so it runs no Spark job."""
    uuids = set()
    for path in df.inputFiles():
        m = _PART_FILE.fullmatch(path.rsplit("/", 1)[-1])
        if m is None:
            return False
        uuids.add(m.group(1))
    return len(uuids) == 1


def _read_store(spark: SparkSession, out_dir: str, table: str, schema: str,
                key: Sequence[str], count: str) -> DataFrame:
    """The merged view of one store table: ``key`` columns, then
    ``count`` summed over the rows that share the key.

    Every writer of the store (materialize, a streaming micro-batch,
    compact_snapshots) lands a key-unique table in one Spark write job,
    so a table that is one write is returned as a plain projection.
    Several snapshots, two writes into one snapshot, or a file name
    that is not Spark's part-file form take the aggregate."""
    _recover_compaction(out_dir, table)
    df = spark.read.schema(schema).parquet(f"{out_dir}/{table}")
    if _one_write(df):
        return df.select(*key, count)
    return df.groupBy(*key).agg(F.sum(count).alias(count))


def read_edges(spark: SparkSession, out_dir: str) -> DataFrame:
    """Merged edges view across snapshots: the same triple key in
    several writes (resume snapshots, appends into one snapshot)
    re-aggregates, summing n_sources — the read side of the parquet
    MERGE stand-in. A table that is one write is key-unique and is read
    without the aggregate."""
    return _read_store(spark, out_dir, "edges", EDGES_SCHEMA,
                       [*TRIPLE_KEY, "bucket"], "n_sources")


def read_nodes(spark: SparkSession, out_dir: str) -> DataFrame:
    """Merged nodes view across snapshots, summing n_mentions; like
    read_edges, a one-write table skips the aggregate."""
    return _read_store(spark, out_dir, "nodes", NODES_SCHEMA,
                       ["canon_uri", "kind", "bucket"], "n_mentions")


def compact_snapshots(spark: SparkSession, out_dir: str) -> None:
    """Fold all resume snapshots into snap=0: the parquet stand-in for
    Iceberg's rewriteDataFiles/MERGE maintenance pass. Resume appends
    are cheap but each adds a snapshot partition the merged read view
    re-aggregates over; a compacted table is one write again, so its
    reads skip the aggregate.

    Crash safety: the rewrite lands in a temp dir first, then swaps in
    via two same-filesystem renames. The swap itself is NOT one atomic
    step (plain filesystems lack an atomic directory exchange; Iceberg
    gets this from snapshot isolation) — a crash between the two renames
    leaves the live path briefly absent — but every entry point
    (compact_snapshots / read_edges / read_nodes) first runs
    _recover_compaction, which rolls a half-finished swap forward (tmp
    is complete by construction) or back, so no state is ever lost and
    the next reader self-heals. A CONCURRENT reader racing the swap on
    the same filesystem can still observe the path missing for the
    instant between renames — single-writer/single-reader is the
    stand-in's contract; Iceberg removes that caveat too.

    edges and nodes are rewritten as two concurrent Spark jobs
    (``operators.util.concurrently``): neither reads the other, and each
    table has its own tmp, swap and recovery, so a failure in one
    leaves the other compacted and both readable. One after the other, their few-task
    final stages left most cores idle."""
    import shutil

    def compact(table: str, reader) -> None:
        _recover_compaction(out_dir, table)
        path = f"{out_dir}/{table}"
        tmp = f"{out_dir}/{table}__compacting"
        (reader(spark, out_dir).withColumn("snap", F.lit(0).cast("int"))
         .write.partitionBy("snap", "bucket").mode("overwrite").parquet(tmp))
        old = f"{out_dir}/{table}__old"
        shutil.rmtree(old, ignore_errors=True)
        shutil.move(path, old)
        shutil.move(tmp, path)
        shutil.rmtree(old)

    concurrently(lambda: compact("edges", read_edges),
                  lambda: compact("nodes", read_nodes))
