"""Byte-pair-encoding tokenization for training-data pipelines.

``text_tokens_bpe`` (textstats) counts PRE-tokens with a regex; this
module applies real BPE merges on top — the operation every LLM data
pipeline runs to price documents in tokens. No reference counterpart
(the reference never does text analysis); SURVEY.md LLM-pipeline
extension, round-4 verdict #4.

Semantics (GPT-2-shaped, character-level):

- pretokenize with the same regex the regex-count op uses (letter
  runs, digit runs, single punctuation; whitespace never tokenized);
- each pretoken starts as its character sequence; repeatedly find the
  LOWEST-RANKED adjacent symbol pair present in the merges table and
  merge every (left-to-right, non-overlapping) occurrence; stop when
  no adjacent pair is ranked. This is the standard rank-merge loop of
  the GPT-2 encoder (character-level rather than byte-level: the
  corpus here is decoded text; a byte-level variant only changes the
  initial symbol alphabet).

Spark design: map-only — one Arrow-batched pandas UDF; the merges
rank dict rides in the closure (broadcast-dict pattern; a production
50k-merge table is ~1 MB — still closure-sized, move to
``sparkContext.broadcast`` beyond that). A per-batch pretoken cache
collapses the Zipfian word distribution: each DISTINCT word is
encoded once per batch, so the amortized cost per token approaches a
dict hit. No shuffle; at 100 TB the cost is one pass over the text.

``train_bpe`` is the classic frequency-merge trainer (deterministic:
ties break to the lexicographically smallest pair) so pipelines can
derive corpus-specific vocabularies; tests validate the encoder
against an independent naive implementation and pin trainer
determinism.
"""

from __future__ import annotations

import re
from collections import Counter
from typing import Dict, Iterable, List, Sequence, Tuple

import pandas as pd
from pyspark.sql import DataFrame, functions as F

# identical to the regex-count op (q_text_tokens_bpe) so the two token
# prices are comparable; spaces are never part of any token
PRETOKEN_RE = re.compile(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]")

Merges = Sequence[Tuple[str, str]]


def _apply_merge(syms: List[str], a: str, b: str) -> List[str]:
    """Replace every left-to-right non-overlapping adjacent (a, b) with
    the merged symbol — shared by encoder and trainer so their merge
    semantics cannot drift."""
    out: List[str] = []
    i = 0
    while i < len(syms):
        if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def bpe_encode_word(word: str, ranks: Dict[Tuple[str, str], int]) -> List[str]:
    """Apply the rank-merge loop to one pretoken."""
    syms = list(word)
    while len(syms) > 1:
        best_rank, best_pair = None, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, (syms[i], syms[i + 1])
        if best_pair is None:
            break
        syms = _apply_merge(syms, *best_pair)
    return syms


def bpe_encode(text: str, merges: Merges) -> List[str]:
    """Full-text encode (pretokenize, then merge per pretoken)."""
    ranks = {tuple(m): i for i, m in enumerate(merges)}
    out: List[str] = []
    for w in PRETOKEN_RE.findall(text):
        out.extend(bpe_encode_word(w, ranks))
    return out


def train_bpe(texts: Iterable[str], n_merges: int) -> List[Tuple[str, str]]:
    """Classic BPE trainer: repeatedly merge the most frequent adjacent
    symbol pair over the pretoken frequency table. Deterministic — ties
    break to the lexicographically smallest pair."""
    word_freq: Counter = Counter()
    for t in texts:
        word_freq.update(PRETOKEN_RE.findall(t))
    vocab: Dict[Tuple[str, ...], int] = {
        tuple(w): f for w, f in word_freq.items()}
    merges: List[Tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += f
        if not pairs:
            break
        best = min(pairs, key=lambda p: (-pairs[p], p))
        merges.append(best)
        a, b = best
        new_vocab: Dict[Tuple[str, ...], int] = {}
        for syms, f in vocab.items():
            key = tuple(_apply_merge(list(syms), a, b))
            new_vocab[key] = new_vocab.get(key, 0) + f
        vocab = new_vocab
    return merges


def bpe_count_udf(merges: Merges):
    """bpe_token_count's kernel as a column function: text -> bigint."""
    ranks = {tuple(m): i for i, m in enumerate(merges)}

    @F.pandas_udf("bigint")
    def bpe_udf(texts: pd.Series) -> pd.Series:
        from .util import worker_runtime_tune
        worker_runtime_tune()
        cache: Dict[str, int] = {}

        def count(t) -> int:
            if t is None:
                return 0
            total = 0
            for w in PRETOKEN_RE.findall(t):
                c = cache.get(w)
                if c is None:
                    c = len(bpe_encode_word(w, ranks))
                    cache[w] = c
                total += c
            return total

        return pd.Series([count(t) for t in texts], dtype="int64")
    return bpe_udf


def bpe_token_count(docs: DataFrame, merges: Merges,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """(doc_id, n_tokens): BPE token count per document — the document
    pricing op. Map-only Arrow-batched UDF; distinct pretokens are
    encoded once per batch (Zipf cache)."""
    from .util import ensure_parallelism

    d = ensure_parallelism(docs)
    return d.select(F.col(id_col),
                    bpe_count_udf(merges)(F.col(text_col)).alias("n_tokens"))
