"""quality_signals / quality_gate: the C4/Gopher heuristic filter set
(fixed-point column algebra) on crafted documents covering every signal
plus the NULL/empty-text edge."""

from pyspark.sql import functions as F

from racket_linkeddata_spark.operators.textstats import (
    STOPWORDS, quality_gate, quality_signals)


def _corpus(spark):
    rows = [
        # 0: plain prose — all ratios benign
        (0, "the quick brown fox jumps over the lazy dog and runs on"),
        # 1: bullet list — 3 of 4 lines are bullets (x1000 = 750)
        (1, "heading line\n- alpha\n* beta\n  • gamma"),
        # 2: ellipsis spam — both lines trail off
        (2, "first thought...\nsecond thought…"),
        # 3: symbol spam — hashes and dotdotdots between words
        (3, "buy # now ### limited ... offer ..."),
        # 4: no stopwords at all
        (4, "colorless green ideas sleep furiously today"),
        # 5: NULL text (round-5 NULL-semantics rule: behaves as '')
        (5, None),
        # 6: empty text
        (6, ""),
        # 7: whitespace runs — token count must ignore empties
        (7, "  the   spaced    out   text  "),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_signal_values(spark):
    s = {r["doc_id"]: r for r in quality_signals(_corpus(spark)).collect()}

    r0 = s[0]
    assert r0["n_tokens"] == 12 and r0["n_lines"] == 1
    assert r0["n_stopwords"] == 4  # the x2, and, on
    assert r0["stopword_x1000"] == 1000 * 4 // 12
    assert r0["symbol_x1000"] == 0 and r0["bullet_x1000"] == 0

    assert s[1]["n_lines"] == 4 and s[1]["bullet_x1000"] == 750
    assert s[2]["ellipsis_x1000"] == 1000  # both '...' and U+2026 forms
    # doc 3: 4 '#' + 2 '...' = 6 symbols over 8 tokens
    assert s[3]["n_tokens"] == 8 and s[3]["symbol_x1000"] == 750
    assert s[4]["n_stopwords"] == 0

    # NULL and empty behave identically: all-zero row, no division error
    for d in (5, 6):
        assert s[d]["n_tokens"] == 0 and s[d]["n_lines"] == 1
        assert s[d]["mean_word_len_x1000"] == 0
        assert s[d]["stopword_x1000"] == 0

    # whitespace runs produce no phantom tokens
    assert s[7]["n_tokens"] == 4 and s[7]["n_stopwords"] == 1


def test_gate_composes_all_signals(spark):
    kept = {r["doc_id"] for r in quality_gate(
        _corpus(spark), min_tokens=4, max_tokens=100,
        min_mean_word_len_x1000=1000, max_mean_word_len_x1000=20_000,
        min_stopwords=1, max_symbol_x1000=100,
        max_bullet_x1000=500, max_ellipsis_x1000=300).collect()}
    # 0 passes everything; 1 fails bullets; 2 fails ellipsis; 3 fails
    # symbols; 4 fails stopwords; 5/6 fail min_tokens; 7 passes
    assert kept == {0, 7}
    # gate returns the INPUT columns of survivors
    out = quality_gate(_corpus(spark), min_tokens=1, max_tokens=100,
                       min_mean_word_len_x1000=0,
                       max_mean_word_len_x1000=99_000,
                       min_stopwords=0, max_symbol_x1000=99_000,
                       max_bullet_x1000=1000, max_ellipsis_x1000=1000)
    assert set(out.columns) == {"doc_id", "text"}


def test_gate_decides_each_row_not_each_id(spark):
    """A row filter, not a join back on doc_id: a passing row with a
    NULL id is kept, and a failing row that shares its id with a
    passing row is dropped. The output keeps the input's columns in
    the input's order, a column whose name differs from the gate's
    working column only in case included (Spark resolves names
    case-insensitively)."""
    good = "the quick brown fox jumps over the lazy dog"
    d = spark.createDataFrame(
        [(1, good, "a"), (2, good, "b"), (2, "x", "c"), (None, good, "d")],
        "doc_id long, text string, _Signals string")
    out = quality_gate(d.select("text", "doc_id", "_Signals"),
                       min_tokens=2, max_tokens=100,
                       min_mean_word_len_x1000=1000,
                       max_mean_word_len_x1000=20_000, min_stopwords=1,
                       max_symbol_x1000=100, max_bullet_x1000=500,
                       max_ellipsis_x1000=300)
    assert sorted((r["doc_id"] is None, r["doc_id"] or 0, r["text"])
                  for r in out.collect()) == [
        (False, 1, good), (False, 2, good), (True, 0, good)]
    assert out.columns == ["text", "doc_id", "_Signals"]
    assert sorted(r["_Signals"] for r in out.collect()) == ["a", "b", "d"]


def test_mean_line_len_and_word_len(spark):
    d = spark.createDataFrame(
        [(0, "abcd efgh\nij"), (1, "aa bb")],
        "doc_id long, text string")
    s = {r["doc_id"]: r for r in quality_signals(d).collect()}
    # doc 0: 12 chars - 1 separator = 11 over 2 lines -> 5500
    assert s[0]["mean_line_len_x1000"] == 5500
    # 3 tokens, 10 non-ws chars -> 3333
    assert s[0]["mean_word_len_x1000"] == 1000 * 10 // 3
    assert s[1]["mean_line_len_x1000"] == 5000
    assert s[1]["mean_word_len_x1000"] == 2000


def test_stopword_list_is_lowercase_matched(spark):
    d = spark.createDataFrame(
        [(0, "The AND Of"), (1, "THEREFORE android offer")],
        "doc_id long, text string")
    s = {r["doc_id"]: r for r in quality_signals(d).collect()}
    assert s[0]["n_stopwords"] == 3       # case-insensitive
    assert s[1]["n_stopwords"] == 0       # no substring matches
    assert all(w == w.lower() for w in STOPWORDS)
