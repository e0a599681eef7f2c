"""Connected components / dedup clustering — both execution paths:
the driver-side union-find fast path (edge count under the explicit
threshold) and the distributed pointer-jumping loop (forced with
driver_threshold=0)."""

import pytest
from pyspark.sql import functions as F

BOTH_PATHS = pytest.mark.parametrize("thresh", [2_000_000, 0],
                                     ids=["driver", "distributed"])

from racket_linkeddata_spark.operators.graph import (
    connected_components,
    dedup_keepers,
)


@BOTH_PATHS
def test_components_on_known_graph(spark, thresh):
    # components: {1,2,3,4} (chain), {10,11}, {20} not in pairs
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long")
    got = {r.id: r.cluster_id
           for r in connected_components(
               pairs, driver_threshold=thresh).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


@BOTH_PATHS
def test_components_deep_chain_converges(spark, thresh):
    # a 40-link chain needs multiple propagation rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "doc_a long, doc_b long")
    got = {r.id: r.cluster_id
           for r in connected_components(
               pairs, driver_threshold=thresh).collect()}
    assert set(got.values()) == {0} and len(got) == 41


def test_components_stats_and_log_on_both_paths(spark, caplog):
    import logging

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long")
    with caplog.at_level(logging.INFO,
                         logger="racket_linkeddata_spark.operators.graph"):
        stats = {}
        connected_components(pairs, driver_threshold=2_000_000,
                             stats_out=stats).collect()
        assert stats["path"] == "driver-union-find"
        assert stats["probe_count"] == 3  # the pairs collected
        assert any("driver-union-find" in r.message for r in caplog.records)

        caplog.clear()
        stats = {}
        connected_components(pairs, driver_threshold=0,
                             stats_out=stats).collect()
        assert stats["path"] == "pointer-jumping"
        assert stats["rounds"] >= 1
        assert any("pointer-jumping" in r.message for r in caplog.records)


def test_driver_path_is_one_bounded_collect(spark):
    """Below the gate the whole call is one job: the pairs as given,
    collected once under a limit. No edge pin, no size probe."""
    from test_parallelism import _jobs_launched

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (2, 1)], "doc_a long, doc_b long")
    stats = {}
    comp, n_jobs = _jobs_launched(
        spark, "cc-driver-path",
        lambda: connected_components(pairs, stats_out=stats))
    assert stats == {"path": "driver-union-find", "probe_count": 4}
    assert n_jobs == 1
    assert sorted(map(tuple, comp.collect())) == [
        (1, 1), (2, 1), (3, 1), (10, 10), (11, 10)]


def test_dedup_keepers_keeps_min_per_cluster(spark):
    pairs = spark.createDataFrame(
        [(5, 9), (9, 7), (2, 3)], "doc_a long, doc_b long")
    ids = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    rows = {r.doc_id: (r.cluster_id, r.keep)
            for r in dedup_keepers(pairs, ids).collect()}
    assert rows[5] == (5, True) and rows[9] == (5, False) \
        and rows[7] == (5, False)
    assert rows[2] == (2, True) and rows[3] == (2, False)
    # untouched ids keep themselves
    for i in (0, 1, 4, 6, 8):
        assert rows[i] == (i, True)


def test_edges_cache_released(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (3, 4)], "doc_a long, doc_b long")
    sc = spark.sparkContext
    before = sc._jsc.sc().getPersistentRDDs().size()
    connected_components(pairs, max_iter=5, driver_threshold=0).collect()
    after = sc._jsc.sc().getPersistentRDDs().size()
    # every pin here is a localCheckpoint (the edges table and the
    # per-round labels), released by GC, not a .persist leak — allow
    # the pins but no unbounded growth vs rounds
    assert after - before <= 2 * 5 + 2, f"cache leak: {before}->{after}"


def test_components_match_union_find_on_random_graphs(spark):
    import random

    def union_find_labels(pairs):
        parent = {}
        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x
        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {x: find(x) for x in parent}

    rng = random.Random(42)
    for trial in range(3):
        n = 120
        pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(80)]
        pairs = [(a, b) for a, b in pairs if a != b]
        df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
        want = union_find_labels(pairs)
        for thresh in (2_000_000, 0):
            got = {r.id: r.cluster_id
                   for r in connected_components(
                       df, driver_threshold=thresh).collect()}
            assert got == want, f"trial {trial} thresh {thresh}"


def test_ensure_parallelism_plan_stats_probe(spark):
    """Round-4 verdict carried minor: the probe must not force physical
    planning via df.rdd. Decision mirrors the scan's split arithmetic:
    small estimated input -> repartition(target); input whose estimate
    exceeds target*maxPartitionBytes -> no-op (same object back)."""
    from racket_linkeddata_spark.operators.util import ensure_parallelism

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    up = ensure_parallelism(docs)
    assert up is not docs  # small corpus: repartitioned up

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # shrink the split size so the same corpus counts as "big"
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
        big = ensure_parallelism(docs)
        assert big is docs  # no-op, no repartition node added
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_ensure_parallelism_binaryfile_never_size_short_circuits(
        spark, tmp_path):
    """Review r05a: binaryFile sources are NON-splittable (one file =
    one partition regardless of bytes), so a large size estimate must
    not skip the repartition the way it does for parquet."""
    from racket_linkeddata_spark.operators.util import ensure_parallelism

    d = tmp_path / "blobs"
    d.mkdir()
    for i in range(2):
        (d / f"f{i}.bin").write_bytes(b"x" * 200_000)
    files = spark.read.format("binaryFile").load(str(d))
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # shrink the split size so 400 KB counts as "big" (est >=
        # target * maxPartitionBytes) — the parquet fast path would
        # no-op here; binaryFile must fall through to the file count
        spark.conf.set("spark.sql.files.maxPartitionBytes", "64")
        up = ensure_parallelism(files)
        assert up is not files  # 2 files < target: repartitioned
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
