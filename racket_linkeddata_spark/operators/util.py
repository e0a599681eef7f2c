"""Shared operator utilities."""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

# Logical-plan node classes that map rows within a partition. A plan
# built only from these (and free of subquery expressions) compiles to
# no Exchange: its partition count is its sources' and reading it off
# .rdd plans the scan without running a job. Any other node is wide.
_NARROW_NODES = frozenset({
    "LogicalRDD", "LogicalRelation", "LocalRelation", "Range",
    "Project", "Filter", "Generate", "Sample",
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow"})


def worker_runtime_tune() -> None:
    """Per-worker runtime fix, called at the top of every Arrow/pandas
    kernel in this repo (idempotent, ~ns after the first call): guard
    ``zipimport.zipimporter.invalidate_caches`` with an archive-mtime
    check.

    Why: Spark's Python worker runs ``setup_spark_files`` for EVERY
    task, which ends in ``importlib.invalidate_caches()``; CPython
    3.11's zipimporter re-parses the whole zip central directory on
    every call, unconditionally — and the workers here import pyspark
    from the distribution's multi-MB ``pyspark.zip``, so each parse
    costs ~80-105 ms (measured with a worker-side probe: mean task
    setup 250-290 ms of which setup_spark_files was ~130 ms, while the
    actual UDF compute was ~2 ms). Later CPythons only re-read when
    the archive changed; this backports that behavior for the
    long-lived reused workers. Semantics are preserved: a NEW zip on
    sys.path gets a fresh zipimporter (first call always reads), and a
    replaced/updated zip changes mtime and is re-read.

    This must run INSIDE the worker process, which is exactly where
    the repo's UDF bodies execute — hence the call-from-kernel shape
    rather than a session conf (there is none for it)."""
    import zipimport

    zi = zipimport.zipimporter
    if getattr(zi, "_zip_mtime_guard", False):
        return
    import os as _os

    orig = zi.invalidate_caches

    def invalidate_caches(self):
        try:
            st = _os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            return orig(self)
        # (mtime_ns, size) key: plain st_mtime misses in-place swaps
        # of reproducible-build zips (SOURCE_DATE_EPOCH pins mtime) or
        # rewrites within the filesystem's mtime resolution (r07
        # review finding)
        if getattr(self, "_seen_zip_stat", None) == key:
            return None
        self._seen_zip_stat = key
        return orig(self)

    zi.invalidate_caches = invalidate_caches
    zi._zip_mtime_guard = True


def parallelism_target(df: DataFrame) -> int:
    """The one definition of 'enough partitions for CPU-bound work':
    twice the cluster's slots — shared by ensure_parallelism and the
    operators that repartition explicitly (the near-dup pair stream),
    so the policy cannot drift between call sites."""
    return df.sparkSession.sparkContext.defaultParallelism * 2


def parallel_checkpoint(df: DataFrame, eager: bool = False) -> DataFrame:
    """localCheckpoint that downstream stages can actually consume in
    parallel. A small join/aggregate output lands in ONE partition
    (broadcast joins inherit a single-split scan; AQE coalesces small
    shuffles) and the checkpoint stores it that way. A repartition ON
    TOP of the checkpoint is not enough: Catalyst pushes projections
    and filters THROUGH a repartition, so an expensive expression tree
    (the quality-gate signals — measured 4.7 CPU-s in one task at
    sf1.0) still evaluates on the 1-partition side of the exchange.
    When the stored checkpoint is starved, checkpoint AGAIN above the
    repartition — consumers then scan a genuinely parallel RDD, which
    no pushdown can reach through. At production scale the partition
    probe says the first checkpoint is already parallel and the second
    materialization never happens."""
    ck = df.localCheckpoint(eager=eager)
    ep = ensure_parallelism(ck)
    if ep is ck:
        return ck
    return ep.localCheckpoint(eager=eager)


def f64_sql(x: float) -> str:
    """A float64 as a DuckDB literal that parses back BIT-EXACT — for
    oracles that pin trained/derived float tables as VALUES literals
    (SRP planes, k-means centroids). A bare decimal literal
    (``0.025248210149055178``) is typed DECIMAL first and the
    DECIMAL->DOUBLE conversion can be off by one ulp vs nearest-double
    parsing; a literal with an exponent is typed DOUBLE and
    strtod-parsed exactly. repr() already emits the shortest
    round-trip form — append ``e0`` when it carries no exponent
    ('n' covers inf/nan passthrough)."""
    r = repr(x)
    return r if ("e" in r or "E" in r or "n" in r) else r + "e0"


def _is_narrow(plan) -> bool:
    """True when every node of the optimized logical ``plan`` is in
    _NARROW_NODES and no expression holds a subquery. One structural
    walk: toJSON lists the plan's nodes pre-order in one py4j call."""
    return (all(n["class"].rsplit(".", 1)[-1] in _NARROW_NODES
                for n in json.loads(plan.toJSON()))
            and plan.subqueriesAll().isEmpty())


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """``df`` itself when it already yields at least
    parallelism_target partitions, else ``df.repartition(target)``.
    Spark sizes scans for IO (128 MB splits; a small corpus is one
    split) and AQE coalesces small shuffles to one partition, either of
    which starves a CPU-bound stage (Python UDFs, URDNA2015) — measured
    30x on a single-split corpus.

    One rule, read from the optimized plan's structure:

    - narrow plan (see _is_narrow): the partition count is exact and
      cheap — ``df.rdd.getNumPartitions()`` plans the scan (file
      splits, checkpointed RDD) without running a job. Size estimates
      are NOT used here: a checkpoint carries its pre-checkpoint guess
      (r07: a 15 MB join captured a 6 TB estimate) and a non-splittable
      source (binaryFile) has one partition per file whatever its size;
    - wide plan: never touch ``.rdd`` — on an AQE plan it executes the
      shuffle stages (and subqueries) at construction time. Its final
      partition count is AQE's call, so size decides: a no-op when the
      plan's ``sizeInBytes`` covers target x maxPartitionBytes
      (Catalyst's unknown-stats Long.MaxValue counts as large — AQE
      owns big shuffles), else repartition. A plan whose stats raise
      is repartitioned: that is always semantically safe."""
    target = parallelism_target(df)
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        if _is_narrow(plan):
            # probed through a fresh Dataset: df's own physical plan
            # (and PySpark's cached df.rdd) may predate the current
            # split-size conf
            if df.select("*").rdd.getNumPartitions() >= target:
                return df
            return df.repartition(target)
        est = int(plan.stats().sizeInBytes())
        split = (df._jdf.sparkSession().sessionState().conf()
                 .filesMaxPartitionBytes())
    except Exception:
        return df.repartition(target)
    return df if est >= target * split else df.repartition(target)


# Tokenizer whitespace: Java's \s (Spark split) is [ \t\n\x0B\f\r]
# but RE2's (DuckDB's) \s LACKS \x0B — a vertical tab in scraped text
# splits tokens in the engine and not in the oracle. ONE explicit
# class, byte-identical semantics in both engines (java.util.regex
# and RE2 both accept the \t \n \r \f \x0B escapes), and exactly
# equal to Java's \s so nothing changes engine-side (review r06i).
WS_CLASS = "[ \\t\\n\\r\\f\\x0B]+"

# single-character variant of the same class (for \s and \s* uses)
WS_CHAR = "[ \\t\\n\\r\\f\\x0B]"
