"""prep_job CLI: the spark-submit curation entry writes the same
survivors the shared plan (plans/curation.prep_corpus) computes
directly, and the packed table is consistent with them."""

import os
import subprocess
import sys

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_prep_job_cli_matches_direct_plan(spark, tmp_path):
    from racket_linkeddata_spark.plans.curation import prep_corpus

    out = str(tmp_path / "prep")
    bench = str(tmp_path / "bench")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    docs.filter(F.col("doc_id") < 20).select("text") \
        .write.parquet(bench)

    r = subprocess.run(
        [sys.executable, os.path.join(ROOT, "jobs", "prep_job.py"),
         "--docs", f"{SF}/documents.parquet", "--out", out,
         "--benchmark", bench,
         "--mixture", "src2=0.5,src7=0.25,src11=0.0",
         "--budget", "256", "--shards", "8"],
        capture_output=True, text=True, timeout=600,
        env=dict(os.environ, PYTHONPATH=ROOT))
    assert r.returncode == 0, r.stderr[-2000:]
    assert "prep-corpus done:" in r.stdout

    direct = prep_corpus(
        docs, benchmark=docs.filter(F.col("doc_id") < 20).select("text"),
        mixture_weights={"src2": 0.5, "src7": 0.25, "src11": 0.0})
    want = sorted((r2["doc_id"], r2["lang"], r2["n_tokens"])
                  for r2 in direct.collect())
    got_clean = spark.read.parquet(f"{out}/docs_clean")
    got = sorted((r2["doc_id"], r2["lang"], r2["n_tokens"])
                 for r2 in got_clean.collect())
    assert got == want

    packed = spark.read.parquet(f"{out}/packed")
    assert packed.count() == len(want)
    # packed token counts agree with the clean table
    joined = (packed.select("doc_id", F.col("n_tokens").alias("pt"))
              .join(got_clean, "doc_id"))
    assert joined.filter(F.col("pt") != F.col("n_tokens")).count() == 0


def test_parse_weights():
    import pytest

    sys.path.insert(0, os.path.join(ROOT, "jobs"))
    from prep_job import parse_weights

    assert parse_weights("a=0.5,b=1.0") == {"a": 0.5, "b": 1.0}
    assert parse_weights("") == {}
    with pytest.raises(SystemExit):
        parse_weights("oops")
