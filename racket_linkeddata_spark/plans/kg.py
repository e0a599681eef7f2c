"""End-to-end KG-construction plan (SURVEY.md §3.2 Spark chain):

pages -> [resume anti-join] -> mapInPandas(extract+expand+toRDF+canonize)
      -> skolemize bnodes -> entity-link broadcast join
      -> two-phase dedup (hash aggregate) -> edges / nodes
      + page log & per-partition lineage.

Scale notes (100 TB / 1000 executors):
- extraction has NO shuffle: parquet splits -> tasks, Arrow batches;
- the only wide dependencies are the dedup/groupBy aggregates, all
  map-side combinable; AQE coalesces/splits their shuffles (skew-join
  and skewed-aggregate handling replace manual salting for hot subjects,
  with the mega-domain url skew already diluted because dedup keys are
  triple contents, not urls);
- the alias join is broadcast (no shuffle of the big side);
- ``extracted`` is reused by edges/nodes/log/lineage: a lazy
  localCheckpoint locally, a staging table (Iceberg) at production
  scale.
"""

from __future__ import annotations

from typing import Callable, List, Optional

from pyspark.sql import (
    DataFrame, DataFrameWriter, SparkSession, functions as F)

from ..operators.dedup import dedup_triples, skolemize_bnodes
from ..operators.entity_link import link_entities
from ..operators.extract import extract_triples, triples_only
from ..operators.lineage import page_log, partition_lineage, resume_filter


def session(app: str = "kg", cpus: Optional[int] = None,
            shuffle_partitions: Optional[int] = None) -> SparkSession:
    """Opinionated local session: AQE on (coalescing + skew handling),
    Arrow enabled for pandas UDF stages."""
    import multiprocessing

    cpus = cpus or multiprocessing.cpu_count()
    b = (SparkSession.builder.appName(app)
         .master(f"local[{cpus}]")
         .config("spark.sql.shuffle.partitions",
                 str(shuffle_partitions or cpus))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         # keep one small file = one split (CPU-bound pandas stages need
         # task count ≈ cores; default 4MB open-cost packs a whole small
         # corpus into one split — measured 30x; 32MB still packed 2
         # files/split and cost ~25% extraction throughput). Setting the
         # open cost to the full split budget means small files NEVER
         # pack; production-sized files are unaffected (they split by
         # maxPartitionBytes regardless).
         .config("spark.sql.files.openCostInBytes", str(128 * 1024 * 1024))
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         # 8192 suits this LOCAL session's small synthetic pages (2048
         # measured ~20% slower from batch overhead). Size by BYTES at
         # production: rows x avg page size x concurrent tasks must fit
         # the JVM direct-memory arena — real 100KB+ pages need ~2048
         # (see jobs/kg_job.py, where the 10000-row default reproducibly
         # OOMed netty direct memory at 1.2M pages)
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
         .config("spark.driver.memory", "8g"))
    return b.getOrCreate()


def nodes_from_triples(triples: DataFrame) -> DataFrame:
    """nodes = all IRI/bnode endpoints of a (skolemized) triples table,
    one hash aggregate. SHARED by the batch plan (build_kg) and the
    streaming writer (streaming.ingest.run_ingest_kg) so the two
    stores' nodes tables cannot drift."""
    subj_nodes = triples.select(F.col("subj").alias("canon_uri"))
    obj_nodes = (triples.filter(F.col("obj_kind") != 2)
                 .select(F.col("obj_value").alias("canon_uri")))
    return (
        subj_nodes.unionByName(obj_nodes)
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
        self.triples = triples      # skolemized, linked, pre-dedup
        self.edges = edges          # deduped, n_sources
        self.nodes = nodes          # canon_uri, kind, n_mentions
        self.log = log              # per-url page log (resume input)
        self.lineage = lineage      # per-partition lineage rows
        self.snapshot_id = snapshot_id


def build_kg(
    pages: DataFrame,
    aliases: Optional[DataFrame] = None,
    contexts_broadcast=None,
    processed_log: Optional[DataFrame] = None,
    snapshot_id: int = 0,
    mode: str = "URDNA2015",
    staging_path: Optional[str] = None,
) -> KgResult:
    """``staging_path``: write the extraction once to parquet and compute
    every downstream aggregate from the staged table (the production
    pattern — an Iceberg staging table; measured ~1.5x faster than DF
    cache locally and spill-proof at scale). Without it, ``extracted``
    (read by edges, twice by nodes, log and lineage) is pinned with a
    lazy localCheckpoint, which executor loss destroys: on a cluster,
    ``staging_path`` is the durable path."""
    if processed_log is not None:
        pages = resume_filter(pages, processed_log)

    extracted = extract_triples(pages, contexts_broadcast, mode=mode)
    if staging_path is not None:
        extracted.write.mode("overwrite").parquet(staging_path)
        extracted = pages.sparkSession.read.parquet(staging_path)
    else:
        extracted = extracted.localCheckpoint(eager=False)

    triples = skolemize_bnodes(triples_only(extracted))
    if aliases is not None:
        triples = link_entities(triples, aliases)

    edges = dedup_triples(triples)

    nodes = nodes_from_triples(triples)

    return KgResult(
        extracted=extracted,
        triples=triples,
        edges=edges,
        nodes=nodes,
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


def _concurrently(*writes: Callable[[], None]) -> None:
    """Run independent table writes as concurrent Spark jobs, one driver
    thread each, and return once every write has finished; then re-raise
    the first failure in argument order.

    Each write's final stage is only as wide as its output (1-2 tasks
    on the small tables), so writing them one after another leaves most
    cores idle. The threads are ``InheritableThread``s: in pinned-thread
    mode Spark's local properties (job group, job description,
    scheduler pool) are per thread, and a plain thread would start its
    jobs outside the caller's group."""
    from pyspark import InheritableThread

    errors: List[Optional[BaseException]] = [None] * len(writes)

    def run(i: int) -> None:
        try:
            writes[i]()
        except BaseException as e:
            errors[i] = e

    threads = [InheritableThread(target=run, args=(i,))
               for i in range(len(writes))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for e in errors:
        if e is not None:
            raise e


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

    _concurrently(write(edges, "edges"), write(nodes, "nodes"))
    _concurrently(write(log, "page_log"), write(lineage, "lineage"))


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
      interleaving rows with prior runs, so a re-run of a failed snapshot
      can overwrite just its partition and the merged view
      (read_edges/read_nodes) re-aggregates across snapshots — the
      parquet stand-in for an Iceberg MERGE;
    - page log + lineage land beside them (resume inputs; page-log urls
      are disjoint across snapshots by construction of resume_filter).

    The tables land in two phases, each a pair of concurrent Spark jobs
    (``_concurrently``): first the data, edges ∥ nodes; then, only
    after both have committed, the resume record, page_log ∥ lineage.
    A page is logged as processed only once its triples are in the
    store, so a resume never skips a page whose data is missing; if the
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


def read_edges(spark: SparkSession, out_dir: str) -> DataFrame:
    """Merged edges view across snapshots: same triple key appearing in
    several resume snapshots re-aggregates (sum n_sources) — the read
    side of the parquet MERGE stand-in. Single-snapshot outputs pass
    through the aggregate unchanged."""
    from ..operators.dedup import TRIPLE_KEY

    _recover_compaction(out_dir, "edges")
    e = spark.read.parquet(f"{out_dir}/edges")
    return (e.groupBy(*TRIPLE_KEY, "bucket")
            .agg(F.sum("n_sources").cast("bigint").alias("n_sources")))


def read_nodes(spark: SparkSession, out_dir: str) -> DataFrame:
    _recover_compaction(out_dir, "nodes")
    n = spark.read.parquet(f"{out_dir}/nodes")
    return (n.groupBy("canon_uri", "kind", "bucket")
            .agg(F.sum("n_mentions").cast("bigint").alias("n_mentions")))


def compact_snapshots(spark: SparkSession, out_dir: str) -> None:
    """Fold all resume snapshots into snap=0: the parquet stand-in for
    Iceberg's rewriteDataFiles/MERGE maintenance pass. Resume appends
    are cheap but each adds a snapshot partition the merged read view
    re-aggregates over; periodic compaction bounds that read
    amplification.

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
    (``_concurrently``): neither reads the other, and each table has its
    own tmp, swap and recovery, so a failure in one leaves the other
    compacted and both readable. One after the other, their few-task
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

    _concurrently(lambda: compact("edges", read_edges),
                  lambda: compact("nodes", read_nodes))
