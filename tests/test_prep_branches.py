"""plans/curation.prep_corpus runs as two concurrent branches over the
exact-dedup survivors: near-dup losers ∥ the per-document filters and
annotation, joined once at the end. The join order changes; the output
does not (each branch-B operator keeps or annotates a document from its
own columns, and the losers are chosen over the same survivors). These
tests pin the output against the serial composition, the overlap of
the two branches' jobs, and a clean failure."""

import random
import threading

import pytest
from pyspark import InheritableThread
from pyspark.sql import functions as F

from racket_linkeddata_spark.plans.curation import prep_corpus

# an 8-word benchmark passage (prep_corpus decontaminates on 8-grams)
BENCH = "quick brown foxes jump over lazy sleeping dogs"
WORDS = ("alpha", "bravo", "cobalt", "delta", "ember", "fjord", "garnet",
         "harbor", "indigo", "juniper", "kestrel", "lumen", "meadow",
         "nectar", "orchid", "pepper", "quartz", "raven", "saffron")


def serial_prep_corpus(docs, *, benchmark=None, mixture_weights=None,
                       default_weight=1.0, merges=None,
                       jaccard_threshold=0.5, decontam_n=8,
                       quality_kwargs=None):
    """The spec: prep_corpus as one serial chain, every filter after
    the near-dup keepers (the order the DuckDB oracle keeps)."""
    from racket_linkeddata_spark.operators.bpe import bpe_token_count
    from racket_linkeddata_spark.operators.decontam import decontaminate
    from racket_linkeddata_spark.operators.graph import dedup_keepers
    from racket_linkeddata_spark.operators.langid import lang_id_model
    from racket_linkeddata_spark.operators.mixture import mixture_sample
    from racket_linkeddata_spark.operators.textstats import (
        near_dup_pairs, quality_gate)
    from racket_linkeddata_spark.operators.util import parallel_checkpoint

    d = docs
    keep1 = (d.select("doc_id", F.md5("text").alias("th"))
             .groupBy("th").agg(F.min("doc_id").alias("doc_id"))
             .select("doc_id"))
    surv = parallel_checkpoint(
        d.join(keep1, "doc_id"))  # consumed by 3 stages

    # stage 2: near-dup, scoped to exact-dedup survivors
    verified = near_dup_pairs(surv, jaccard_threshold)
    kept = (dedup_keepers(verified, surv.select("doc_id"))
            .filter("keep").select("doc_id"))

    # stage 3: the composed quality gate (full signal set; fixed-point)
    # pinned: its join back to the keepers lands in few partitions
    qk = dict(min_tokens=5, max_tokens=100_000,
              min_mean_word_len_x1000=2000, max_mean_word_len_x1000=20_000,
              min_stopwords=1, max_symbol_x1000=100,
              max_bullet_x1000=900, max_ellipsis_x1000=300)
    qk.update(quality_kwargs or {})
    gated = parallel_checkpoint(quality_gate(
        surv.join(kept, "doc_id").select("doc_id", "text", "source"),
        **qk))

    # stage 4: benchmark decontamination (per-row gram-hit filter)
    clean = decontaminate(gated, benchmark, n=decontam_n) \
        if benchmark is not None else gated

    # stage 5: deterministic mixture sampling; pinned: stage 6 fans it
    # out to three branches
    mixed = mixture_sample(clean, mixture_weights,
                           default_weight=default_weight) \
        if mixture_weights else clean
    mixed = parallel_checkpoint(mixed)

    # stage 6: annotate survivors — both map-only ops
    lang = lang_id_model(mixed).select("doc_id", "lang")
    bpe = bpe_token_count(mixed, merges or [("t", "h"), ("th", "e")])
    return mixed.select("doc_id").join(lang, "doc_id").join(bpe, "doc_id")


def _words(seed: int, n: int) -> list:
    rng = random.Random(seed)
    return ["the"] + [f"{rng.choice(WORDS)}{seed}" for _ in range(n - 1)]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _corpus(spark, n: int):
    """``n`` documents over three sources, in near-duplicate pairs
    (2k, 2k+1) that differ in their last word."""
    return spark.createDataFrame(
        [(i, " ".join(_words(i // 2, 30) + [f"tail{i}"]), f"src{i % 3}")
         for i in range(n)], "doc_id long, text string, source string")


def test_prep_corpus_equals_the_serial_composition(spark):
    """Handmade near-dup clusters where a branch-B filter removes one
    member: the gate drops a keeper (its loser goes too), decontamination
    drops a loser (its keeper stays), mixture sampling drops a keeper.
    The concurrent plan keeps exactly the serial plan's documents."""
    from racket_linkeddata_spark.operators.textstats import near_dup_pairs

    t1, t2, t3 = _words(1, 60), _words(2, 52), _words(3, 50)
    rows = [
        # keeper 10 is one token over the gate's max_tokens=60
        (10, " ".join(t1 + ["extra1"]), "web"),
        (11, " ".join(t1), "web"),
        # loser 21 carries the benchmark passage
        (20, " ".join(t2), "web"),
        (21, " ".join(t2) + " " + BENCH, "web"),
        # keeper 30's source has mixture weight 0
        (30, " ".join(t3), "dropped"),
        (31, " ".join(t3 + ["extra3"]), "web"),
        # exact duplicates: 41 goes before the branches split
        (40, " ".join(_words(4, 30)), "web"),
        (41, " ".join(_words(4, 30)), "web"),
    ] + [(100 + i, " ".join(_words(100 + i, 20 + i)),
          "half" if i % 2 else "web") for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, "
                                       "source string")
    bench = spark.createDataFrame([(BENCH,)], "text string")
    kw = dict(benchmark=bench, mixture_weights={"dropped": 0.0, "half": 0.5},
              quality_kwargs={"max_tokens": 60})

    # the corpus plants the three clusters it claims to
    pairs = {tuple(r) for r in near_dup_pairs(docs).collect()}
    assert {(10, 11), (20, 21), (30, 31)} <= pairs

    got = _rows(prep_corpus(docs, **kw))
    assert got == _rows(serial_prep_corpus(docs, **kw))
    ids = {r[0] for r in got}
    assert 20 in ids and 40 in ids
    assert not ids & {10, 11, 21, 30, 31, 41}


def _jobs(spark, since):
    """(job id, tags, submitted ms, completed ms) of every job in the
    status store not in ``since``."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)
    out = []
    for i in range(jobs.length()):
        j = jobs.apply(i)
        if j.jobId() in since:
            continue
        out.append((j.jobId(), set(j.jobTags().mkString(",").split(",")),
                    j.submissionTime().get().getTime(),
                    j.completionTime().get().getTime()))
    return out


def test_branches_run_as_overlapping_jobs_in_the_callers_group(
        spark, monkeypatch):
    """Each branch tags its jobs from its first operator on (job tags
    are thread-local, like the job group): near-dup jobs and gate-onward
    jobs overlap in time, and every job is in the caller's job group."""
    from racket_linkeddata_spark.operators import textstats

    sc = spark.sparkContext

    def tagged(fn, tag):
        def run(*a, **kw):
            sc.addJobTag(tag)
            return fn(*a, **kw)
        return run

    monkeypatch.setattr(textstats, "near_dup_pairs",
                        tagged(textstats.near_dup_pairs, "near-dup"))
    monkeypatch.setattr(textstats, "quality_gate",
                        tagged(textstats.quality_gate, "per-doc"))
    docs = _corpus(spark, 400)
    before = {j[0] for j in _jobs(spark, set())}
    sc.setJobGroup("prep", "prep_corpus")
    try:
        prep_corpus(docs,
                    benchmark=docs.filter(F.col("doc_id") < 20)
                    .select("text"),
                    mixture_weights={"src1": 0.5}).collect()
    finally:
        sc._jsc.clearJobGroup()
        sc.clearJobTags()
    jobs = _jobs(spark, before)
    assert ({j[0] for j in jobs}
            <= set(sc.statusTracker().getJobIdsForGroup("prep")))
    a = [j for j in jobs if "near-dup" in j[1] and "per-doc" not in j[1]]
    b = [j for j in jobs if "per-doc" in j[1] and "near-dup" not in j[1]]
    assert a and b
    assert any(ja[2] < jb[3] and jb[2] < ja[3] for ja in a for jb in b)


def test_failing_branch_fails_prep_corpus_cleanly(spark):
    """A branch that raises (here the gate, on an unknown threshold)
    fails prep_corpus only after the other branch has finished: no
    runner thread and no active job is left behind."""
    docs = _corpus(spark, 40)
    with pytest.raises(TypeError):
        prep_corpus(docs, quality_kwargs={"no_such_threshold": 1})
    assert not [t for t in threading.enumerate()
                if isinstance(t, InheritableThread)]
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getActiveJobsIds() == []
