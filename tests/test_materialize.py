"""Materialized layout: bucketed edges/nodes, resume from the written log."""

import os

from pyspark.sql import functions as F

from racket_linkeddata_spark.plans.kg import (
    build_kg, materialize, read_edges, read_nodes)
from racket_linkeddata_spark.sources.pages import synthesize_pages

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KG_JOB = os.path.join(ROOT, "jobs", "kg_job.py")
# the merged views' keys: the store's key columns and bucket
EDGE_KEY = ["subj", "pred", "obj_kind", "obj_value", "obj_dt", "obj_lang",
            "graph", "bucket"]
NODE_KEY = ["canon_uri", "kind", "bucket"]


def test_snapshot_resume_merges_edges(spark, tmp_path):
    """Two-snapshot resume == single full run under the merged read view:
    no duplicate triple keys, n_sources summed across snapshots."""
    pages = synthesize_pages(spark, 80, partitions=4).cache()
    first = pages.limit(50).cache()
    out = str(tmp_path / "kg")

    kg1 = build_kg(first, snapshot_id=0)
    materialize(kg1, out, buckets=8)

    log = spark.read.parquet(f"{out}/page_log")
    kg2 = build_kg(pages, processed_log=log, snapshot_id=1)
    materialize(kg2, out, buckets=8, mode="append")
    # materialize appended kg2's log: every url logged exactly once
    urls = spark.read.parquet(f"{out}/page_log").select("url")
    assert urls.count() == urls.distinct().count() == 80

    merged = read_edges(spark, out)
    full = build_kg(pages).edges
    key = ["subj", "pred", "obj_kind", "obj_value", "obj_dt",
           "obj_lang", "graph"]
    assert merged.groupBy(*key).count().filter("count > 1").count() == 0
    got = {tuple(r[k] for k in key): r.n_sources
           for r in merged.collect()}
    want = {tuple(r[k] for k in key): r.n_sources for r in full.collect()}
    assert got == want
    # merged nodes view also collapses across snapshots
    nodes = read_nodes(spark, out)
    assert nodes.groupBy("canon_uri").count().filter("count > 1").count() == 0


def _aggregate_read(spark, out, table, key, count):
    """The merged view as an aggregate over the inferred table: every
    read took this path before one-write tables skipped it."""
    return (spark.read.parquet(f"{out}/{table}").groupBy(*key)
            .agg(F.sum(count).cast("bigint").alias(count)))


def test_one_write_reads_equal_the_aggregate(spark, tmp_path):
    """A store that is one write is read as a projection with the
    aggregate's rows, columns, column order and types."""
    out = str(tmp_path / "kg")
    materialize(build_kg(synthesize_pages(spark, 60, partitions=4)), out,
                buckets=4)
    for got, want in (
            (read_edges(spark, out),
             _aggregate_read(spark, out, "edges", EDGE_KEY, "n_sources")),
            (read_nodes(spark, out),
             _aggregate_read(spark, out, "nodes", NODE_KEY, "n_mentions"))):
        assert got.schema == want.schema
        assert sorted(got.collect()) == sorted(want.collect())


def test_append_twice_into_one_snapshot_doubles_the_counts(spark, tmp_path):
    """Two appends into the same snapshot_id are two writes: the reads
    still aggregate, so every key appears once with its count doubled."""
    kg = build_kg(synthesize_pages(spark, 40, partitions=4))
    out = str(tmp_path / "kg")
    materialize(kg, out, buckets=4, mode="append")
    once_e = {tuple(r[:-1]): r[-1] for r in read_edges(spark, out).collect()}
    once_n = {tuple(r[:-1]): r[-1] for r in read_nodes(spark, out).collect()}
    materialize(kg, out, buckets=4, mode="append")
    edges = read_edges(spark, out).collect()
    nodes = read_nodes(spark, out).collect()
    assert {tuple(r[:-1]): r[-1] for r in edges} == {
        k: 2 * v for k, v in once_e.items()}
    assert {tuple(r[:-1]): r[-1] for r in nodes} == {
        k: 2 * v for k, v in once_n.items()}
    assert len(edges) == len(once_e) and len(nodes) == len(once_n)


def test_foreign_file_name_takes_the_aggregate(spark, tmp_path):
    """A file whose name is not Spark's part-<split>-<uuid> form proves
    nothing about the writes: here it repeats a part file's rows, and
    the read merges them."""
    import shutil

    out = tmp_path / "kg"
    materialize(build_kg(synthesize_pages(spark, 40, partitions=4)),
                str(out), buckets=4)
    part = next((out / "edges").rglob("part-*.parquet"))
    shutil.copy(part, part.parent / "extra.parquet")
    copied = spark.read.parquet(str(part)).agg(F.sum("n_sources")).first()[0]
    base = spark.read.parquet(str(out / "page_log")) \
        .agg(F.sum("n_triples")).first()[0]

    merged = read_edges(spark, str(out))
    assert merged.count() == merged.select(*EDGE_KEY).distinct().count()
    assert merged.agg(F.sum("n_sources")).first()[0] == base + copied


def test_declared_store_schemas_are_the_written_ones(spark, tmp_path):
    """The schemas the store reads declare equal the ones Spark infers
    from a freshly written store: the writer and the reader agree."""
    from racket_linkeddata_spark.plans.kg import EDGES_SCHEMA, NODES_SCHEMA

    out = str(tmp_path / "kg")
    materialize(build_kg(synthesize_pages(spark, 40, partitions=4)), out,
                buckets=4)
    for table, ddl in (("edges", EDGES_SCHEMA), ("nodes", NODES_SCHEMA)):
        path = f"{out}/{table}"
        assert spark.read.schema(ddl).parquet(path).schema == \
            spark.read.parquet(path).schema, table


def test_materialize_and_resume(spark, tmp_path):
    pages = synthesize_pages(spark, 100, partitions=4).cache()
    kg = build_kg(pages)
    out = str(tmp_path / "kg")
    materialize(kg, out, buckets=8)

    edges = spark.read.parquet(f"{out}/edges")
    assert edges.select("bucket").distinct().count() <= 8
    assert edges.count() == kg.edges.count()
    # partition pruning: a single-bucket read scans one partition dir
    one = edges.filter(F.col("bucket") == 3)
    assert one.count() == edges.filter("bucket = 3").count()

    log = spark.read.parquet(f"{out}/page_log")
    assert log.count() == 100

    # resume against the materialized log: nothing left to do
    kg2 = build_kg(pages, processed_log=log)
    assert kg2.extracted.count() == 0


def test_sql_views(spark):
    from racket_linkeddata_spark.plans.kg import register_views

    pages = synthesize_pages(spark, 60, partitions=4)
    kg = build_kg(pages)
    register_views(kg)
    top = spark.sql("""
        SELECT pred, count(*) AS n FROM kg_edges
        GROUP BY pred ORDER BY n DESC, pred LIMIT 3""").collect()
    assert len(top) == 3 and top[0].n >= top[1].n
    joined = spark.sql("""
        SELECT count(*) AS n FROM kg_edges e
        JOIN kg_nodes s ON e.subj = s.canon_uri""").first().n
    assert joined == spark.sql("SELECT count(*) FROM kg_edges").first()[0]


def test_compact_snapshots_folds_to_single_snapshot(spark, tmp_path):
    from racket_linkeddata_spark.plans.kg import compact_snapshots

    pages = synthesize_pages(spark, 60, partitions=4).cache()
    first = pages.limit(40).cache()
    out = str(tmp_path / "kg")
    materialize(build_kg(first, snapshot_id=0), out, buckets=4)
    log = spark.read.parquet(f"{out}/page_log")
    materialize(build_kg(pages, processed_log=log, snapshot_id=1), out,
                buckets=4, mode="append")

    before = {tuple(r) for r in read_edges(spark, out).collect()}
    nodes_before = {tuple(r) for r in read_nodes(spark, out).collect()}
    compact_snapshots(spark, out)

    edges = spark.read.parquet(f"{out}/edges")
    assert edges.select("snap").distinct().collect() == [
        edges.sparkSession.createDataFrame([(0,)], "snap int").first()]
    assert {tuple(r) for r in read_edges(spark, out).collect()} == before
    assert {tuple(r) for r in read_nodes(spark, out).collect()} == \
        nodes_before
    # compacted table keeps working as the base for a THIRD snapshot
    kg3 = build_kg(pages, processed_log=spark.read.parquet(
        f"{out}/page_log"), snapshot_id=1)
    materialize(kg3, out, buckets=4, mode="append")
    assert read_edges(spark, out).count() >= len(before)


def test_compaction_crash_recovery_all_states(spark, tmp_path):
    """Round-2 ADVICE: the compaction swap is two renames, not one atomic
    step — every crash state must self-heal via _recover_compaction so
    readers never see a missing table and no data is lost."""
    import shutil

    from racket_linkeddata_spark.plans.kg import (
        _recover_compaction, compact_snapshots)

    pages = synthesize_pages(spark, 40, partitions=4).cache()
    out = str(tmp_path / "kg")
    materialize(build_kg(pages, snapshot_id=0), out, buckets=4)
    want = {tuple(r) for r in read_edges(spark, out).collect()}

    path, tmp, old = (f"{out}/edges", f"{out}/edges__compacting",
                      f"{out}/edges__old")

    # state 1: crash before the swap started (tmp possibly partial)
    shutil.copytree(path, tmp)
    shutil.rmtree(f"{tmp}/snap=0")  # make it visibly partial
    assert {tuple(r) for r in read_edges(spark, out).collect()} == want
    assert not os.path.exists(tmp)

    # state 2: crash between the two renames (path absent, tmp complete)
    shutil.copytree(path, tmp)
    shutil.move(path, old)
    assert {tuple(r) for r in read_edges(spark, out).collect()} == want
    assert os.path.exists(path) and not os.path.exists(old)

    # state 3: crash before the final cleanup (path present, old present)
    shutil.copytree(path, old)
    assert {tuple(r) for r in read_edges(spark, out).collect()} == want
    assert not os.path.exists(old)

    # state 4: only old left (rolled back)
    shutil.move(path, old)
    _recover_compaction(out, "edges")
    assert {tuple(r) for r in read_edges(spark, out).collect()} == want

    # and a real compaction still works end-to-end after all that
    compact_snapshots(spark, out)
    assert {tuple(r) for r in read_edges(spark, out).collect()} == want


def test_failed_data_phase_writes_no_resume_record(spark, tmp_path):
    """materialize lands edges ∥ nodes before page_log ∥ lineage: when
    the edges write fails, materialize raises only after the nodes write
    has finished, and no resume table is written."""
    import threading

    import pytest
    from pyspark import InheritableThread

    out = tmp_path / "kg"
    out.mkdir()
    (out / "edges").write_text("a file where the edges table goes")
    kg = build_kg(synthesize_pages(spark, 40, partitions=4))
    # append: an overwrite would delete the file and succeed
    with pytest.raises(Exception):
        materialize(kg, str(out), buckets=4, mode="append")

    assert not [t for t in threading.enumerate()
                if isinstance(t, InheritableThread)]
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
    assert (out / "nodes" / "_SUCCESS").exists()
    assert not (out / "page_log").exists()
    assert not (out / "lineage").exists()


def test_store_writes_keep_the_callers_job_group(spark, tmp_path):
    """The concurrent writes run on threads that inherit the caller's
    local properties: every job materialize and compact_snapshots start
    is in the caller's job group."""
    from racket_linkeddata_spark.plans.kg import compact_snapshots

    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    def job_ids():
        jsc.listenerBus().waitUntilEmpty()
        jobs = jsc.statusStore().jobsList(None)
        return {jobs.apply(i).jobId() for i in range(jobs.length())}

    kg = build_kg(synthesize_pages(spark, 40, partitions=4))
    out = str(tmp_path / "kg")
    before = job_ids()
    sc.setJobGroup("g", "store writes")
    try:
        materialize(kg, out, buckets=4)
        compact_snapshots(spark, out)
    finally:
        sc._jsc.clearJobGroup()
    started = job_ids() - before
    assert started
    assert started <= set(sc.statusTracker().getJobIdsForGroup("g"))


def test_concurrent_writes_extract_each_page_once(spark, tmp_path):
    """Without staging_path, edges ∥ nodes both read the lazy pin of the
    extraction: one job computes each block and the other waits for it,
    so every page passes through the extraction once."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    sc = spark.sparkContext
    seen = sc.accumulator(0)

    @pandas_udf("binary")
    def counted(html: pd.Series) -> pd.Series:
        seen.add(len(html))
        return html

    n = 200
    # at least parallelism_target partitions: extract_triples does not
    # fan out
    pages = synthesize_pages(spark, n, partitions=2 * sc.defaultParallelism)
    pages = pages.withColumn("html", counted("html"))
    materialize(build_kg(pages), str(tmp_path / "kg"), buckets=4)
    assert seen.value == n


def test_kg_job_warc_input(spark, tmp_path):
    """kg_job --warc: the spark-submit entry builds the same KG from a
    raw WARC directory as from the equivalent pages table."""
    import datetime
    import subprocess
    import sys

    from racket_linkeddata_spark.sources.pages import synth_page
    from racket_linkeddata_spark.sources.warc import write_warc

    wdir = tmp_path / "warcs"
    wdir.mkdir()
    recs = []
    for i in range(30):
        url, ts, html, _, _ = synth_page(i)
        recs.append((url, ts.replace(microsecond=0,
                                     tzinfo=datetime.timezone.utc), html))
    write_warc(recs, str(wdir / "a.warc"))
    (wdir / "junk.warc").write_bytes(b"NOT A WARC")  # must be isolated

    out = str(tmp_path / "kg")
    env = dict(os.environ, PYTHONPATH=ROOT)
    run = subprocess.run(
        [sys.executable, KG_JOB,
         "--warc", str(wdir), "--out", out],
        env=env, capture_output=True, text=True)
    assert run.returncode == 0, run.stderr[-2000:]

    from racket_linkeddata_spark.plans.kg import build_kg, read_edges
    got = read_edges(spark, out).agg({"n_sources": "sum"}).first()[0]
    direct = build_kg(synthesize_pages(spark, 30, partitions=2)).edges \
        .agg({"n_sources": "sum"}).first()[0]
    assert got == direct


def test_kg_job_stream_warc_cli(spark, tmp_path):
    """kg_job --stream --warc: the CLI drains a crawl directory via
    Structured Streaming into the same store; the merged view equals
    the batch build, and a second invocation with a new archive
    processes only it (stream checkpoint)."""
    import datetime
    import subprocess
    import sys

    from racket_linkeddata_spark.sources.pages import synth_page
    from racket_linkeddata_spark.sources.warc import write_warc

    def mk(lo, hi):
        recs = []
        for i in range(lo, hi):
            url, ts, html, _, _ = synth_page(i)
            recs.append((url, ts.replace(
                microsecond=0, tzinfo=datetime.timezone.utc), html))
        return recs

    wdir = tmp_path / "warcs"
    wdir.mkdir()
    write_warc(mk(0, 20), str(wdir / "a.warc"))
    out = str(tmp_path / "kg")
    env = dict(os.environ, PYTHONPATH=ROOT)
    cmd = [sys.executable, KG_JOB,
           "--warc", str(wdir), "--out", out, "--stream"]
    run = subprocess.run(cmd, env=env, capture_output=True, text=True)
    assert run.returncode == 0, run.stderr[-2000:]

    write_warc(mk(200, 210), str(wdir / "b.warc.gz"), compress=True)
    run2 = subprocess.run(cmd, env=env, capture_output=True, text=True)
    assert run2.returncode == 0, run2.stderr[-2000:]

    from racket_linkeddata_spark.plans.kg import build_kg, read_edges
    from racket_linkeddata_spark.sources.warc import read_warc
    key = ["subj", "pred", "obj_kind", "obj_value", "obj_dt",
           "obj_lang", "graph"]
    got = {tuple(r[k] for k in key): r.n_sources
           for r in read_edges(spark, out).collect()}
    want = {tuple(r[k] for k in key): r.n_sources
            for r in build_kg(read_warc(spark, str(wdir))).edges.collect()}
    assert got == want
    log = spark.read.parquet(f"{out}/page_log")
    assert log.count() == log.select("url").distinct().count() == 30


def test_resume_aborts_when_lineage_unreadable(spark, tmp_path):
    """Round-2 ADVICE: if page_log loads but lineage is missing/corrupt
    (crash between materialize's writes), --resume must abort, NOT fall
    back to overwrite (which destroyed all prior snapshots)."""
    import shutil
    import subprocess
    import sys

    out = str(tmp_path / "kg")
    env = dict(os.environ, PYTHONPATH=ROOT)
    run = [sys.executable, KG_JOB, "--out", out]
    first = subprocess.run(run + ["--n-synth", "40"], env=env,
                           capture_output=True, text=True)
    assert first.returncode == 0, first.stderr[-2000:]

    shutil.rmtree(f"{out}/lineage")  # simulate the partial-write crash
    edges_before = sorted(
        str(p) for p in (tmp_path / "kg" / "edges").rglob("*.parquet"))
    assert edges_before
    resume = subprocess.run(run + ["--n-synth", "60", "--resume"], env=env,
                            capture_output=True, text=True)
    assert resume.returncode != 0
    assert "refusing" in (resume.stderr + resume.stdout)
    # prior snapshot data untouched
    edges_after = sorted(
        str(p) for p in (tmp_path / "kg" / "edges").rglob("*.parquet"))
    assert edges_after == edges_before


def test_resume_aborts_when_page_log_lags_lineage(tmp_path):
    """page_log and lineage land concurrently: if the newest snapshot's
    lineage committed but its page_log rows did not, --resume must
    abort — it would reprocess those pages into a new snapshot and
    count their triples twice."""
    import shutil
    import subprocess
    import sys

    out = tmp_path / "kg"
    env = dict(os.environ, PYTHONPATH=ROOT)
    run = [sys.executable, KG_JOB,
           "--out", str(out)]
    first = subprocess.run(run + ["--n-synth", "40"], env=env,
                           capture_output=True, text=True)
    assert first.returncode == 0, first.stderr[-2000:]
    shutil.copytree(out / "page_log", tmp_path / "page_log_0")
    second = subprocess.run(run + ["--n-synth", "60", "--resume"], env=env,
                            capture_output=True, text=True)
    assert second.returncode == 0, second.stderr[-2000:]

    # the crash state: snapshot 1's lineage landed, its page_log did not
    shutil.rmtree(out / "page_log")
    shutil.copytree(tmp_path / "page_log_0", out / "page_log")
    edges_before = sorted(str(p) for p in (out / "edges").rglob("*.parquet"))
    third = subprocess.run(run + ["--n-synth", "60", "--resume"], env=env,
                           capture_output=True, text=True)
    assert third.returncode != 0
    assert "refusing" in (third.stderr + third.stdout)
    assert sorted(
        str(p) for p in (out / "edges").rglob("*.parquet")) == edges_before


def test_resume_refuses_a_snapshot_its_crashed_data_phase_left(
        spark, tmp_path):
    """A resume run that crashed after edges ∥ nodes committed, before
    page_log ∥ lineage, leaves snap N with no resume record: --resume
    must refuse to append the same pages into snap N a second time (the
    merged view would count them twice). Once page_log records the
    crashed run's pages, resuming skips them and goes on."""
    import shutil
    import subprocess
    import sys

    out = tmp_path / "kg"
    env = dict(os.environ, PYTHONPATH=ROOT)
    run = [sys.executable, KG_JOB, "--out", str(out)]

    def kg_job(*args):
        return subprocess.run(run + list(args), env=env,
                              capture_output=True, text=True)

    first = kg_job("--n-synth", "50")
    assert first.returncode == 0, first.stderr[-2000:]
    for t in ("page_log", "lineage"):
        shutil.copytree(out / t, tmp_path / f"{t}_0")
    second = kg_job("--n-synth", "80", "--resume")
    assert second.returncode == 0, second.stderr[-2000:]
    shutil.copytree(out / "page_log", tmp_path / "page_log_1")

    # the crash state: snapshot 1's edges and nodes landed, its
    # page_log and lineage rows did not
    for t in ("page_log", "lineage"):
        shutil.rmtree(out / t)
        shutil.copytree(tmp_path / f"{t}_0", out / t)
    edges_before = sorted(str(p) for p in (out / "edges").rglob("*.parquet"))
    third = kg_job("--n-synth", "80", "--resume")
    assert third.returncode != 0
    said = third.stderr + third.stdout
    assert "refusing" in said
    assert f"{out}/edges/snap=1" in said and f"{out}/nodes/snap=1" in said
    assert sorted(
        str(p) for p in (out / "edges").rglob("*.parquet")) == edges_before

    # page_log landed, lineage did not: the logged pages are skipped
    shutil.rmtree(out / "page_log")
    shutil.copytree(tmp_path / "page_log_1", out / "page_log")
    fourth = kg_job("--n-synth", "80", "--resume")
    assert fourth.returncode == 0, fourth.stderr[-2000:]
    logged = spark.read.parquet(str(out / "page_log")) \
        .agg(F.sum("n_triples")).first()[0]
    assert read_edges(spark, str(out)).agg(
        F.sum("n_sources")).first()[0] == logged


def test_kg_job_stream_flag_validation(tmp_path):
    """Review r05a: --stream with BOTH --pages and --warc must be
    rejected (the wrong reader would silently yield an empty KG), and
    an empty input dir must drain to '0 edges', not crash on a
    never-created store. Validation happens before the JVM starts."""
    import subprocess
    import sys

    env = dict(os.environ, PYTHONPATH=ROOT)
    base = [sys.executable, KG_JOB,
            "--out", str(tmp_path / "kg"), "--stream"]
    both = subprocess.run(
        base + ["--pages", "/x", "--warc", "/y"],
        env=env, capture_output=True, text=True, timeout=60)
    assert both.returncode != 0 and "not both" in both.stderr

    neither = subprocess.run(base, env=env, capture_output=True,
                             text=True, timeout=60)
    assert neither.returncode != 0 and "needs" in neither.stderr

    empty = tmp_path / "emptywarcs"
    empty.mkdir()
    drain = subprocess.run(base + ["--warc", str(empty)], env=env,
                           capture_output=True, text=True, timeout=600)
    assert drain.returncode == 0, drain.stderr[-2000:]
    assert "0 edges" in drain.stdout


def test_kg_job_under_spark_submit_pyfiles(spark, tmp_path):
    """The north rule's literal launch mode: `spark-submit --py-files
    rls.zip jobs/kg_job.py`. The package is importable ONLY from the
    zip (no PYTHONPATH, neutral cwd), so this proves the job ships
    itself to executors the way a real cluster submit would."""
    import shutil
    import subprocess
    import zipfile

    pkg = os.path.join(ROOT, "racket_linkeddata_spark")
    zpath = str(tmp_path / "rls.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                full = os.path.join(root, f)
                z.write(full, os.path.relpath(full, ROOT))

    spark_submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    out = str(tmp_path / "kg")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run = subprocess.run(
        [spark_submit, "--master", "local[4]", "--driver-memory", "2g",
         "--py-files", zpath, KG_JOB,
         "--n-synth", "60", "--out", out, "--buckets", "4"],
        env=env, cwd=str(tmp_path), capture_output=True, text=True,
        timeout=420)
    assert run.returncode == 0, (run.stdout[-1000:], run.stderr[-2000:])
    assert "kg-construct done" in run.stdout
    edges = spark.read.parquet(f"{out}/edges")
    assert edges.count() > 0


def test_kg_job_stream_fails_on_unreadable_store(tmp_path):
    """An empty drain over an existing store whose edges hold a file
    that is not parquet must fail the job: only a missing store counts
    as 0 edges."""
    import subprocess
    import sys

    out = tmp_path / "kg"
    bucket = out / "edges" / "snap=0" / "bucket=0"
    bucket.mkdir(parents=True)
    (bucket / "part-00000.parquet").write_bytes(b"not a parquet file")
    empty = tmp_path / "emptywarcs"
    empty.mkdir()
    env = dict(os.environ, PYTHONPATH=ROOT)
    run = subprocess.run(
        [sys.executable, KG_JOB,
         "--warc", str(empty), "--out", str(out), "--stream"],
        env=env, capture_output=True, text=True, timeout=600)
    assert run.returncode != 0, run.stdout[-2000:]
    assert "0 edges" not in run.stdout
