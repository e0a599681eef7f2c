import unicodedata

import pytest

from racket_linkeddata_spark.operators.unicode_norm import normalize_text

# decomposed e + combining acute; angstrom sign; fi ligature;
# full-width A
DECOMPOSED = "Café"
ANGSTROM = "Å"
LIGATURE = "ﬁne"
FULLWIDTH = "Ａ"


def _corpus(spark):
    rows = [(1, DECOMPOSED), (2, ANGSTROM), (3, LIGATURE + " " + FULLWIDTH),
            (4, "plain ascii"), (5, None), (6, "")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_nfc_matches_unicodedata_and_flags(spark):
    got = {r["doc_id"]: r for r in normalize_text(_corpus(spark)).collect()}
    assert got[1]["text"] == "Café" and got[1]["norm_changed"]
    assert got[2]["text"] == "Å" and got[2]["norm_changed"]
    # NFC does NOT fold compatibility chars
    assert got[3]["text"] == LIGATURE + " " + FULLWIDTH
    assert not got[3]["norm_changed"]
    assert got[4]["text"] == "plain ascii" and not got[4]["norm_changed"]
    assert got[5]["text"] is None and not got[5]["norm_changed"]
    assert got[6]["text"] == "" and not got[6]["norm_changed"]


@pytest.mark.parametrize("form", ["NFD", "NFKC", "NFKD"])
def test_other_forms_match_unicodedata(spark, form):
    got = {r["doc_id"]: r["text"] for r in
           normalize_text(_corpus(spark), form).collect()}
    for doc_id, text in [(1, DECOMPOSED), (2, ANGSTROM),
                         (3, LIGATURE + " " + FULLWIDTH)]:
        assert got[doc_id] == unicodedata.normalize(form, text)
    # NFKC folds the ligature and the full-width form
    if form == "NFKC":
        assert got[3] == "fine A"


def test_validation_and_collision(spark):
    d = _corpus(spark)
    with pytest.raises(ValueError):
        normalize_text(d, "NFX")
    with pytest.raises(ValueError):
        normalize_text(d.withColumn("norm_changed", d.doc_id), "NFC")


def test_idempotent(spark):
    once = normalize_text(_corpus(spark))
    twice = normalize_text(once.select("doc_id", "text"))
    assert all(not r["norm_changed"] for r in twice.collect())


def test_working_column_is_free_in_any_case(spark):
    """Spark resolves column names case-insensitively, so an input
    column ``_NORM`` collides with the working column ``_norm``: it
    must come through untouched, and ``NORM_CHANGED`` is refused."""
    d = spark.createDataFrame([(1, DECOMPOSED, "keep me")],
                              "doc_id long, text string, _NORM string")
    [row] = normalize_text(d).collect()
    assert row.asDict() == {"doc_id": 1, "text": "Café", "_NORM": "keep me",
                            "norm_changed": True}
    with pytest.raises(ValueError):
        normalize_text(d.withColumnRenamed("_NORM", "NORM_CHANGED"))
