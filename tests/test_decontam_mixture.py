"""Benchmark decontamination + deterministic mixture sampling."""

import pytest
from pyspark.sql import functions as F

from racket_linkeddata_spark.operators.decontam import (
    contamination_stats, decontaminate)
from racket_linkeddata_spark.operators.mixture import (
    mixture_sample, mixture_stats, weight_threshold)


def _training(spark):
    rows = [
        (0, "alpha beta gamma delta epsilon zeta"),      # clean
        (1, "the quick brown fox jumps over the dog"),   # contains bench
        (2, "prefix words the quick brown fox jumps over the dog and "
            "more trailing words"),                      # embedded bench
        (3, "quick brown fox"),                          # shorter than n
        (4, "the quick brown fox leaps over the dog"),   # one word off
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _bench(spark):
    return spark.createDataFrame(
        [("the quick brown fox jumps over the dog",)], "text string")


def test_contamination_stats(spark):
    out = {r["doc_id"]: r for r in contamination_stats(
        _training(spark), _bench(spark), n=5).collect()}
    assert not out[0]["is_contaminated"] and out[0]["n_hits"] == 0
    # doc 1 == the benchmark: every one of its 5-grams hits
    assert out[1]["is_contaminated"]
    assert out[1]["n_hits"] == out[1]["n_grams"] == 4
    # embedded span still collides
    assert out[2]["is_contaminated"] and out[2]["n_hits"] == 4
    # shorter than n: zero grams, never contaminated
    assert out[3]["n_grams"] == 0 and not out[3]["is_contaminated"]
    # a substitution in the MIDDLE of an 8-token doc breaks every
    # 5-gram (each spans the changed word): clean — n-gram collision
    # flags verbatim spans, not near-duplicates (that's minhash's job)
    assert out[4]["n_hits"] == 0 and not out[4]["is_contaminated"]


def test_decontaminate_filters(spark):
    kept = {r["doc_id"] for r in decontaminate(
        _training(spark), _bench(spark), n=5).collect()}
    assert kept == {0, 3, 4}
    # columns preserved
    assert set(decontaminate(_training(spark), _bench(spark),
                             n=5).columns) == {"doc_id", "text"}


def test_decontaminate_null_doc_id_survives(spark):
    """A NULL-id row can never be attributed a hit (the stats face
    reports it n_hits=0), so the filter face must keep it — the
    anti-join on contaminated ids pins the two faces and the SQL
    ANTI JOIN replica to the same verdict (review r06b: the former
    inner join on clean ids silently dropped it)."""
    rows = [(0, "alpha beta gamma delta epsilon zeta"),
            (None, "the quick brown fox jumps over the dog")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    stats = {r["doc_id"]: r for r in contamination_stats(
        d, _bench(spark), n=5).collect()}
    assert not stats[None]["is_contaminated"]
    kept = [r["doc_id"] for r in decontaminate(
        d, _bench(spark), n=5).collect()]
    assert sorted(kept, key=lambda x: (x is None, x)) == [0, None]


def test_decontam_decides_each_row_not_each_id(spark):
    """Two rows share id 5, one carrying the benchmark passage, one
    clean: each is decided from its own text. The clean row is kept
    and each row reports its own counts (a hit count keyed on the id
    would give both rows the contaminated row's hits)."""
    clean = "alpha beta gamma delta epsilon zeta"
    d = spark.createDataFrame(
        [(5, "the quick brown fox jumps over the dog"), (5, clean)],
        "doc_id long, text string")
    stats = sorted((r["n_grams"], r["n_hits"], r["is_contaminated"])
                   for r in contamination_stats(
                       d, _bench(spark), n=5).collect())
    assert stats == [(2, 0, False), (4, 4, True)]
    kept = decontaminate(d, _bench(spark), n=5).collect()
    assert [tuple(r) for r in kept] == [(5, clean)]


def test_mixture_stats_null_source_counted(spark):
    """NULL source rides the default rate in mixture_sample; the stats
    face must report the SAME survivors for the NULL group (review
    r06b: the former sampled-side left join was null-unsafe and
    reported n_sampled=0)."""
    rows = [(i, None if i % 2 else "s0", f"text {i}") for i in range(40)]
    d = spark.createDataFrame(
        rows, "doc_id long, source string, text string")
    w = {"s0": 0.0}
    sampled_null = sum(
        1 for r in mixture_sample(d, w, default_weight=1.0).collect()
        if r["source"] is None)
    stats = {r["source"]: r for r in
             mixture_stats(d, w, default_weight=1.0).collect()}
    assert stats[None]["n_docs"] == 20
    assert stats[None]["n_sampled"] == sampled_null == 20
    assert stats[None]["rate_x1000"] == 1000
    assert stats[None]["requested_x1000"] == 1000
    assert stats["s0"]["n_sampled"] == 0


def test_weight_threshold_edges():
    assert weight_threshold(1.0) is None
    assert weight_threshold(0.0) == "00000000"
    assert weight_threshold(0.5) == "80000000"
    with pytest.raises(ValueError):
        weight_threshold(1.5)
    with pytest.raises(ValueError):
        weight_threshold(-0.1)


def _corpus(spark, n=400):
    rows = [(i, f"s{i % 4}", f"text {i}") for i in range(n)]
    return spark.createDataFrame(
        rows, "doc_id long, source string, text string")


def test_mixture_sample_deterministic_and_rates(spark):
    d = _corpus(spark)
    w = {"s0": 1.0, "s1": 0.5, "s2": 0.0}
    a = sorted(r["doc_id"] for r in
               mixture_sample(d, w, default_weight=0.25).collect())
    b = sorted(r["doc_id"] for r in
               mixture_sample(d, w, default_weight=0.25).collect())
    assert a == b  # deterministic: no RNG anywhere
    rows = {r["source"]: r for r in
            mixture_stats(d, w, default_weight=0.25).collect()}
    assert rows["s0"]["n_sampled"] == rows["s0"]["n_docs"] == 100
    assert rows["s2"]["n_sampled"] == 0
    # md5-uniform: realized rate within ~15pp of requested at n=100
    assert abs(rows["s1"]["rate_x1000"] - 500) < 150
    assert abs(rows["s3"]["rate_x1000"] - 250) < 150
    assert rows["s1"]["requested_x1000"] == 500
    assert rows["s3"]["requested_x1000"] == 250  # default


def test_mixture_sample_is_subset_stable_under_recipe_change(spark):
    """Raising a source's weight only ADDS documents (threshold compare
    is monotone) — the property that makes mix re-balancing reproducible
    without reshuffling previously selected data."""
    d = _corpus(spark)
    small = {r["doc_id"] for r in
             mixture_sample(d, {"s1": 0.3}, default_weight=1.0)
             .filter(F.col("source") == "s1").collect()}
    big = {r["doc_id"] for r in
           mixture_sample(d, {"s1": 0.7}, default_weight=1.0)
           .filter(F.col("source") == "s1").collect()}
    assert small <= big and len(small) < len(big)


def test_quota_sample_exact_counts_and_subset(spark):
    from racket_linkeddata_spark.operators.mixture import quota_sample

    rows = [(i, f"s{i % 3}") for i in range(90)]
    d = spark.createDataFrame(rows, "doc_id long, source string")
    out = quota_sample(d, {"s0": 5, "s1": 3}, default_quota=7).collect()
    counts = {}
    for r in out:
        counts[r["source"]] = counts.get(r["source"], 0) + 1
    assert counts == {"s0": 5, "s1": 3, "s2": 7}
    # subset relation: shrinking a quota yields a subset of the larger
    small = {r["doc_id"] for r in
             quota_sample(d, {"s0": 2, "s1": 3}, default_quota=7).collect()}
    big = {r["doc_id"] for r in out}
    assert small < big
    # determinism
    again = {r["doc_id"] for r in
             quota_sample(d, {"s0": 5, "s1": 3}, default_quota=7).collect()}
    assert again == big


def test_quota_sample_unlimited_default_and_null_source(spark):
    from racket_linkeddata_spark.operators.mixture import quota_sample

    rows = [(i, None if i % 2 else "s0") for i in range(40)]
    d = spark.createDataFrame(rows, "doc_id long, source string")
    # default None = unlimited: NULL-source docs all survive
    out = quota_sample(d, {"s0": 4}).collect()
    assert sum(1 for r in out if r["source"] is None) == 20
    assert sum(1 for r in out if r["source"] == "s0") == 4
    # default quota applies to NULL source too
    out2 = quota_sample(d, {"s0": 4}, default_quota=6).collect()
    assert sum(1 for r in out2 if r["source"] is None) == 6


def test_quota_sample_zero_quota_and_validation(spark):
    import pytest as _pytest
    from racket_linkeddata_spark.operators.mixture import quota_sample

    d = spark.createDataFrame([(1, "s0"), (2, "s1")],
                              "doc_id long, source string")
    out = quota_sample(d, {"s0": 0}).collect()
    assert [r["source"] for r in out] == ["s1"]
    with _pytest.raises(ValueError):
        quota_sample(d, {"s0": -1})
    # no quotas at all = identity
    assert len(quota_sample(d, {}).collect()) == 2


def test_epoch_upsample_counts_and_determinism(spark):
    from racket_linkeddata_spark.operators.mixture import epoch_upsample

    rows = [(i, f"s{i % 2}") for i in range(200)]
    d = spark.createDataFrame(rows, "doc_id long, source string")
    out = epoch_upsample(d, {"s0": 2.5, "s1": 0.0},
                         default_weight=1.0).collect()
    s0 = [r for r in out if r["source"] == "s0"]
    # every s0 doc appears 2 or 3 times; ~50% get the 3rd epoch
    per_doc = {}
    for r in s0:
        per_doc.setdefault(r["doc_id"], []).append(r["epoch"])
    assert all(sorted(v) == list(range(len(v))) for v in per_doc.values())
    assert all(len(v) in (2, 3) for v in per_doc.values())
    n3 = sum(1 for v in per_doc.values() if len(v) == 3)
    assert 25 <= n3 <= 75  # md5-uniform around 50 of 100
    assert not [r for r in out if r["source"] == "s1"]
    # determinism
    again = sorted((r["doc_id"], r["epoch"]) for r in epoch_upsample(
        d, {"s0": 2.5, "s1": 0.0}, default_weight=1.0).collect())
    assert again == sorted((r["doc_id"], r["epoch"]) for r in out)


def test_epoch_upsample_integer_weight_and_validation(spark):
    import pytest as _pytest
    from racket_linkeddata_spark.operators.mixture import epoch_upsample

    d = spark.createDataFrame([(1, "s0"), (2, None)],
                              "doc_id long, source string")
    out = epoch_upsample(d, {"s0": 3.0}, default_weight=2.0).collect()
    assert sorted(r["epoch"] for r in out if r["doc_id"] == 1) == [0, 1, 2]
    # NULL source rides the default (2 epochs)
    assert sorted(r["epoch"] for r in out if r["doc_id"] == 2) == [0, 1]
    with _pytest.raises(ValueError):
        epoch_upsample(d, {"s0": -0.1})
    with _pytest.raises(ValueError):
        epoch_upsample(d, {"s0": 5000.0})


def test_epoch_upsample_fraction_independent_of_mixture_key(spark):
    """The fractional-epoch key is salted: the set of docs getting the
    extra epoch at frac=0.5 must not equal the mixture_sample 0.5
    survivor set (unsalted they would be identical)."""
    from racket_linkeddata_spark.operators.mixture import (
        epoch_upsample, mixture_sample)

    rows = [(i, "s0") for i in range(300)]
    d = spark.createDataFrame(rows, "doc_id long, source string")
    extra = {r["doc_id"] for r in
             epoch_upsample(d, {"s0": 1.5}).collect()
             if r["epoch"] == 1}
    kept = {r["doc_id"] for r in mixture_sample(d, {"s0": 0.5}).collect()}
    assert extra != kept


def test_quota_sample_rank_column_no_collision(spark):
    from racket_linkeddata_spark.operators.mixture import quota_sample

    rows = [(i, "s0", i * 10) for i in range(6)]
    d = spark.createDataFrame(rows, "doc_id long, source string, _rank long")
    out = quota_sample(d, {"s0": 3}).collect()
    assert len(out) == 3
    # the caller's _rank column survives untouched
    assert all(r["_rank"] == r["doc_id"] * 10 for r in out)


def test_epoch_upsample_rejects_epoch_column(spark):
    import pytest as _pytest
    from racket_linkeddata_spark.operators.mixture import epoch_upsample

    d = spark.createDataFrame([(1, "s0", 0)],
                              "doc_id long, source string, epoch int")
    with _pytest.raises(ValueError):
        epoch_upsample(d, {"s0": 2.0})


_FUZZY_BASE = (
    "the quick brown fox jumps over the lazy dog while carrying "
    "a heavy basket of fresh garden vegetables to the market")


@pytest.fixture(scope="module")
def fuzzy_docs(spark):
    pert = _FUZZY_BASE.replace("heavy", "large").replace("fresh", "ripe")
    docs = spark.createDataFrame([
        (1, _FUZZY_BASE),   # exact benchmark copy
        (2, pert),          # paraphrased leak (2 words swapped)
        (3, "completely unrelated text about spark physical plans and "
            "shuffles and exchanges and broadcast joins everywhere"),
        (4, "too short"),   # < n tokens: empty signature, excluded
        (None, _FUZZY_BASE),  # NULL id, contaminated text
    ], "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, _FUZZY_BASE), (101, "hi")],  # 101: short, excluded
        "doc_id long, text string")
    return docs, bench


def test_fuzzy_contamination_pairs(spark, fuzzy_docs):
    """Exact copy collides in ALL 4 bands; the 2-word paraphrase still
    collides in 3 (the fuzzy catch the verbatim n-gram probe exists
    for); unrelated and short docs collide in none; the short
    benchmark doc ('hi') produces no sentinel-bucket collisions."""
    from racket_linkeddata_spark.operators.decontam import (
        fuzzy_contamination)

    docs, bench = fuzzy_docs
    rows = {(r.doc_id, r.bench_id): r.n_shared_bands
            for r in fuzzy_contamination(docs, bench).collect()}
    assert rows[(1, 100)] == 4
    assert rows[(2, 100)] == 3
    assert rows[(None, 100)] == 4  # stats face still reports NULL ids
    assert all(b != 101 for _, b in rows)
    assert all(d != 3 and d != 4 for d, _ in rows)


def test_fuzzy_decontaminate_survivors(spark, fuzzy_docs):
    """Filter face: both leaks drop, clean/short docs survive, and the
    NULL-id row survives (anti-join convention — a NULL id can never
    be attributed a collision)."""
    from racket_linkeddata_spark.operators.decontam import (
        fuzzy_decontaminate)

    docs, bench = fuzzy_docs
    surv = sorted((r.doc_id for r in
                   fuzzy_decontaminate(docs, bench).collect()),
                  key=lambda x: (x is None, x))
    assert surv == [3, 4, None]
    # min_bands raises the evidence bar: at 4 the paraphrase survives
    surv4 = sorted((r.doc_id for r in
                    fuzzy_decontaminate(docs, bench,
                                        min_bands=4).collect()),
                   key=lambda x: (x is None, x))
    assert surv4 == [2, 3, 4, None]
    with pytest.raises(ValueError, match="min_bands"):
        fuzzy_decontaminate(docs, bench, min_bands=0)


def test_fuzzy_bands_validation(spark, fuzzy_docs):
    """bands > k makes rows_per_band 0 and every bucket the empty
    string == the empty-signature sentinel: the probe would silently
    report a clean corpus. Rejected loudly (review r06e)."""
    from racket_linkeddata_spark.operators.decontam import (
        fuzzy_contamination, fuzzy_decontaminate)

    docs, bench = fuzzy_docs
    for bad in (17, 0):
        with pytest.raises(ValueError, match="bands must be in"):
            fuzzy_contamination(docs, bench, k=16, bands=bad)
        with pytest.raises(ValueError, match="bands must be in"):
            fuzzy_decontaminate(docs, bench, k=16, bands=bad)


def test_fuzzy_contamination_honors_id_col(spark, fuzzy_docs):
    """The output id column carries the CALLER's name (the docstring
    contract), and id_col='bench_id' is rejected (it would collide
    with the benchmark id column) — review r06e."""
    from racket_linkeddata_spark.operators.decontam import (
        fuzzy_contamination)

    docs, bench = fuzzy_docs
    renamed = docs.withColumnRenamed("doc_id", "page_id")
    bench_r = bench.withColumnRenamed("doc_id", "page_id")
    out = fuzzy_contamination(renamed, bench_r, id_col="page_id")
    assert out.columns == ["page_id", "bench_id", "n_shared_bands"]
    assert {(r.page_id, r.bench_id) for r in out.collect()} == \
        {(1, 100), (2, 100), (None, 100)}
    with pytest.raises(ValueError, match="bench_id"):
        fuzzy_contamination(
            renamed.withColumnRenamed("page_id", "bench_id"),
            bench_r.withColumnRenamed("page_id", "bench_id"),
            id_col="bench_id")


def test_split_corpus_partition_and_replica(spark):
    """Disjoint deterministic partition: replica parity on the exact
    hex-range rule, shares track the recipe, NULL id falls to the last
    split, rerun-stable."""
    import hashlib
    from racket_linkeddata_spark.operators.mixture import (
        split_corpus, split_thresholds)

    rows = [(i,) for i in range(2000)] + [(None,)]
    d = spark.createDataFrame(rows, "doc_id long")
    recipe = {"train": 980, "val": 10, "test": 10}
    got = {r.doc_id: r.split for r in split_corpus(d, recipe).collect()}

    ths = split_thresholds(recipe)

    def assign(i):
        if i is None:
            return ths[-1][0]
        k = hashlib.md5(f"{i}split".encode()).hexdigest()[:8]
        for name, up in ths[:-1]:
            if k < up:
                return name
        return ths[-1][0]

    assert got == {i: assign(i) for i, in rows}
    assert got[None] == "val"  # lexicographically last split
    # shares: 2000 ids at 98/1/1 per-cent
    from collections import Counter
    c = Counter(got.values())
    assert 1900 < c["train"] <= 2000 and c["val"] >= 1 and c["test"] >= 1
    # rerun-stable
    again = {r.doc_id: r.split
             for r in split_corpus(d, recipe).collect()}
    assert again == got


def test_split_corpus_validation(spark):
    from racket_linkeddata_spark.operators.mixture import split_corpus

    d = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError, match="need >= 2"):
        split_corpus(d, {"train": 1000})
    with pytest.raises(ValueError, match="sum to 1000"):
        split_corpus(d, {"a": 500, "b": 400})
    with pytest.raises(ValueError, match="positive integer"):
        split_corpus(d, {"a": 999.5, "b": 0.5})
    with pytest.raises(ValueError, match="positive integer"):
        split_corpus(d, {"a": 1000, "b": 0})


def test_fuzzy_id_col_output_collisions_rejected(spark):
    """id_col colliding with EITHER output column is a plan-time
    ValueError, not an ambiguous-reference AnalysisException deep in
    the plan (review r06f extended the r06e bench_id guard)."""
    from racket_linkeddata_spark.operators.decontam import (
        fuzzy_contamination)

    d = spark.createDataFrame([(1, "some text here")],
                              "n_shared_bands long, text string")
    with pytest.raises(ValueError, match="n_shared_bands"):
        fuzzy_contamination(d, d, id_col="n_shared_bands")


def test_split_corpus_rejects_existing_split_column(spark):
    """Silently overwriting a prior assignment is undetectable data
    loss — rejected like epoch_upsample's 'epoch' (review r06f)."""
    from racket_linkeddata_spark.operators.mixture import split_corpus

    d = spark.createDataFrame([(1, "train")], "doc_id long, split string")
    with pytest.raises(ValueError, match="already has a 'split'"):
        split_corpus(d, {"a": 500, "b": 500})
