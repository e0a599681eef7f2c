"""Unicode normalization — the canonicalization step every hash-based
dedup pipeline runs FIRST (the same text in NFC vs NFD hashes
differently; web text mixes both plus compatibility forms). NFC is the
W3C/WHATWG interchange form; NFKC additionally folds compatibility
characters (ligatures, full-width forms) and is the common
tokenizer-prep choice.

No reference counterpart (racket-linkeddata does no text analysis);
part of the LLM-pipeline brief.

Implementation: Arrow pandas UDF over ``unicodedata.normalize`` (the
stdlib UAX#15 implementation) — map-only, no shuffle, NULL passes
through as NULL (normalization is a rewrite, not an imputation; the
repo's NULL->'' rule applies to ANALYSIS ops, not rewrites).

Oracle bound (the langid-lowercase precedent): DuckDB's
``nfc_normalize`` is utf8proc, Python's is the stdlib UCD — both
implement UAX#15 and agree on all stable codepoints, but a corpus
using codepoints newer than the older of the two Unicode versions
could diverge; the bench corpora are ASCII + planted combining marks,
well inside the stable set. DuckDB only ships NFC, so only the NFC
form has a SQL oracle; NFD/NFKC/NFKD are pinned against unicodedata
directly in pytest.
"""

from __future__ import annotations

import unicodedata

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

from .util import free_column

_FORMS = ("NFC", "NFD", "NFKC", "NFKD")


def _normalizer(form: str):
    @pandas_udf("string")
    def norm(s: pd.Series) -> pd.Series:
        from .util import worker_runtime_tune
        worker_runtime_tune()
        # Series.str.normalize: unicodedata.normalize per element with
        # built-in NA passthrough
        return s.str.normalize(form)
    return norm


def normalize_text(docs: DataFrame, form: str = "NFC", *,
                   text_col: str = "text") -> DataFrame:
    """Input columns with ``text_col`` replaced by its UAX#15
    normalization, plus ``norm_changed`` (did normalization alter the
    text; NULL text -> false) — the observability bit an operator
    watches to size the mess in a crawl."""
    if form not in _FORMS:
        raise ValueError(f"form must be one of {_FORMS}, got {form!r}")
    if free_column(docs, "norm_changed") != "norm_changed":
        raise ValueError("input already has a 'norm_changed' column — "
                         "normalize_text emits it")
    tmp = free_column(docs, "_norm")  # the input may carry '_norm'
    norm = _normalizer(form)(F.col(text_col))
    return (docs
            .withColumn(tmp, norm)
            .withColumn("norm_changed",
                        ~F.col(text_col).eqNullSafe(F.col(tmp)))
            .withColumn(text_col, F.col(tmp))
            .drop(tmp))
