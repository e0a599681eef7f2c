"""The fan-out rule (operators/util.ensure_parallelism) and the parallel
pin built on it (parallel_checkpoint): no Spark job at plan time, a
huge wide plan left to AQE, a starved checkpoint pinned again in
parallel. The pin rule: a reused intermediate is a localCheckpoint,
never a CacheManager entry."""

from pyspark.sql import functions as F

from racket_linkeddata_spark.operators.util import (
    ensure_parallelism,
    parallel_checkpoint,
)

SF01 = "/root/testdata/sf0.01"
SF1 = "/root/testdata/sf0.1"


def _jobs_launched(spark, group, fn):
    """(fn(), number of Spark jobs fn launched), counted by job group
    once the listener bus has delivered every job-start event."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _size_estimate(df) -> int:
    return int(df._jdf.queryExecution().optimizedPlan().stats()
               .sizeInBytes())


def test_ensure_parallelism_runs_no_jobs_at_plan_time(spark):
    """Grouped-map, cogrouped-map and scalar-subquery plans over a
    checkpoint are wide: probing their partition count through .rdd
    would execute their shuffle stages (or the subquery) while the
    plan is still being built."""
    ck = (spark.read.parquet(f"{SF01}/documents.parquet")
          .select("doc_id", "text", "source")
          .repartition(3).localCheckpoint(eager=True))
    by_src = ck.groupBy("source")
    plans = {
        "grouped": by_src.applyInPandas(lambda p: p.head(1), ck.schema),
        "cogrouped": by_src.cogroup(ck.groupBy("source")).applyInPandas(
            lambda a, b: a.head(1), ck.schema),
        "subquery": ck.filter(
            F.col("doc_id") < ck.select(F.max("doc_id")).scalar()),
    }
    for name, df in plans.items():
        _, n_jobs = _jobs_launched(
            spark, f"plan-time-{name}", lambda: ensure_parallelism(df))
        assert n_jobs == 0, (name, n_jobs)
    # the narrow checkpoint itself is probed through .rdd — still no job
    up, n_jobs = _jobs_launched(spark, "plan-time-narrow",
                                lambda: ensure_parallelism(ck))
    assert n_jobs == 0
    assert up is not ck  # 3 partitions < target: fanned out


def test_ensure_parallelism_huge_wide_plan_is_noop(spark):
    """A wide plan whose estimate is Catalyst's 'huge' (>= 2^60 bytes)
    is left to AQE, not funnelled through target partitions; a wide
    plan over the same scan with a small estimate still fans out."""
    docs = spark.read.parquet(f"{SF1}/documents.parquet")
    huge = docs
    for c in ("a", "b", "c"):
        huge = huge.crossJoin(docs.select(F.col("doc_id").alias(c)))
    assert _size_estimate(huge) >= 1 << 60
    assert ensure_parallelism(huge) is huge

    small = docs.join(docs.select("doc_id"), "doc_id", "left_semi")
    assert _size_estimate(small) < 1 << 30
    assert ensure_parallelism(small) is not small


def test_parallel_checkpoint_pins_starved_output_in_parallel(
        spark, monkeypatch):
    """A 1-partition join output comes back as a checkpoint with at
    least 2 x defaultParallelism partitions; an already-parallel input
    comes back as its first checkpoint, materialized once."""
    target = 2 * spark.sparkContext.defaultParallelism
    docs = spark.read.parquet(f"{SF01}/documents.parquet")
    ids = spark.createDataFrame([(i,) for i in range(0, 200, 3)],
                                "doc_id long")
    joined = docs.join(F.broadcast(ids), "doc_id")

    made = []
    orig = type(docs).localCheckpoint

    def counting(self, *a, **kw):
        made.append(orig(self, *a, **kw))
        return made[-1]

    monkeypatch.setattr(type(docs), "localCheckpoint", counting)

    assert joined.rdd.getNumPartitions() == 1
    pinned = parallel_checkpoint(joined)
    assert len(made) == 2 and pinned is made[-1]
    assert pinned.rdd.getNumPartitions() >= target
    assert (sorted(pinned.select("doc_id").collect())
            == sorted(joined.select("doc_id").collect()))

    made.clear()
    wide = docs.repartition(target)
    pinned = parallel_checkpoint(wide)
    assert made == [pinned]
    assert pinned.rdd.getNumPartitions() == target


def test_pins_leave_the_cache_manager_empty(spark):
    """Every operator that pins a table it reads twice does so with
    localCheckpoint, which the session CacheManager never sees: a
    persisted table would serve a later call (or a later rep of the
    same query) and stay in memory for the rest of the session. The
    KG nodes read the pinned extraction, so their plan runs no
    extraction kernel of its own."""
    import __spark_entry__ as em
    from racket_linkeddata_spark.operators.graph import (
        connected_components)
    from racket_linkeddata_spark.operators.lmscore import (
        bigram_surprisal, word_surprisal)
    from racket_linkeddata_spark.operators.paragraphs import (
        paragraph_dedup)
    from racket_linkeddata_spark.operators.spans import span_dedup
    from racket_linkeddata_spark.operators.textstats import (
        ngram_jaccard_pairs)
    from racket_linkeddata_spark.operators.tfidf import tfidf_topk
    from racket_linkeddata_spark.plans.kg import build_kg

    spark.catalog.clearCache()
    docs = (spark.read.parquet(f"{SF01}/documents.parquet")
            .select("doc_id", "text"))
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)],
                                  "doc_a long, doc_b long")
    kg = build_kg(em.doc_pages(spark, SF01))
    for df in (tfidf_topk(docs), word_surprisal(docs),
               bigram_surprisal(docs), paragraph_dedup(docs),
               span_dedup(docs), ngram_jaccard_pairs(docs, max_docs=60),
               connected_components(pairs),
               connected_components(pairs, driver_threshold=0),
               kg.edges, kg.nodes):
        df.collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    nodes_plan = kg.nodes._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in nodes_plan, nodes_plan[:800]
