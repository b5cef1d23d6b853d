"""Reference-exact tokenizer, vectorized for Arrow/pandas batches.

Semantics replicate the reference's ``text::get_full_text_words``
(reference src/text/text.cpp:109-130):

  1. ASCII-lowercase (C tolower — only A-Z; reference text.h:160-164),
  2. split on the word-boundary set " \\t,|!" (text.cpp:111), keeping
     empty fields (they are dropped by the length filter, not merged),
  3. UTF-8 validity (parser/unicode.cpp:85-116) — a no-op here because
     parquet/Arrow strings are valid UTF-8 by construction,
  4. greedy trim from BOTH ends of the union set {C whitespace} ∪
     {C punct minus '+','#'} (trim_both_inplace, text.h:127-148 +
     my_ispunct text.h:44-49 — so "c++" and "c#" survive),
  5. keep words with 1..100 UTF-8 *bytes* (CC_MAX_WORD_LEN, text.h:29),
  6. optional ``limit``: stop after N kept words (query_max_words=10 on
     the query path, config.cpp:79).

Golden cases from the reference's own tests (tests/test_text.cpp:35-52)
are asserted in tests/test_tokenizer.py.

All hot-path entry points operate on pandas Series / numpy arrays so they
can run inside mapInPandas with zero per-row Python.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from alexandria_spark.config import TRIM_CHARS, WORD_BOUNDARY
from alexandria_spark.functions.hashing import murmur2_64, to_i64

_SPLIT_RE = re.compile("[" + re.escape(WORD_BOUNDARY) + "]")
# ASCII-only lowercase table (C-locale tolower): A-Z -> a-z, all else identity.
_LOWER_TABLE = str.maketrans(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"
)


def _ascii_lower(s: pd.Series) -> pd.Series:
    # str.translate with a 26-entry table == C tolower; unlike .str.lower()
    # it leaves non-ASCII letters untouched (reference lowercases bytes).
    return s.str.translate(_LOWER_TABLE)


def tokenize(text: str, limit: int = 0) -> list[str]:
    """Scalar tokenizer (tests / query path)."""
    words = []
    for raw in _SPLIT_RE.split(text.translate(_LOWER_TABLE)):
        w = raw.strip(TRIM_CHARS)
        if 0 < len(w.encode("utf-8")) <= 100:
            words.append(w)
            if limit and len(words) == limit:
                break
    return words


def tokenize_series(text: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized tokenizer over a batch of documents.

    Returns ``(row_idx, words)`` — positional row index (0..len-1) of the
    source document for every kept token, and the token strings, in
    document order. Both are numpy object/int arrays.
    """
    s = _ascii_lower(text.fillna("").astype(str))
    splits = s.str.split(_SPLIT_RE)
    counts = splits.str.len().fillna(0).astype(np.int64).to_numpy()
    row_idx = np.repeat(np.arange(len(s), dtype=np.int64), counts)
    if len(row_idx) == 0:
        return row_idx, np.empty(0, dtype=object)
    flat = pd.Series(
        np.concatenate([np.asarray(x, dtype=object) for x in splits.to_numpy()]),
        dtype=object,
    )
    flat = flat.str.strip(TRIM_CHARS)
    # byte length filter (reference counts bytes, not codepoints)
    blen = flat.str.encode("utf-8").str.len().to_numpy()
    keep = (blen > 0) & (blen <= 100)
    return row_idx[keep], flat.to_numpy()[keep]


def token_counts(text: pd.Series) -> pd.DataFrame:
    """Per-document term frequencies for a batch (map-side pre-aggregation).

    Returns a DataFrame with columns:
      row     — positional index into ``text``
      term    — token string
      term_id — int64 murmur2-64 of the token (two's complement)
      tf      — count of the token in the document
      doc_len — total token count of the document
    Computing tf and doc_len *inside* the Arrow batch means the engine
    shuffles one row per (doc, distinct term) instead of one per token.
    """
    row_idx, words = tokenize_series(text)
    if len(words) == 0:
        return pd.DataFrame(
            {
                "row": np.empty(0, np.int64),
                "term": np.empty(0, object),
                "term_id": np.empty(0, np.int64),
                "tf": np.empty(0, np.int64),
                "doc_len": np.empty(0, np.int64),
            }
        )
    doc_lens = np.bincount(row_idx, minlength=len(text)).astype(np.int64)
    # group on integer term codes: pandas' string hash tables compare C
    # strings, so tokens differing only after an embedded NUL ("\x00" vs
    # "\x000") would merge into one group. np.unique compares Python str.
    uniq, inv = np.unique(words, return_inverse=True)
    keys, tf = np.unique(row_idx * len(uniq) + inv, return_counts=True)
    rows, codes = np.divmod(keys, len(uniq))
    return pd.DataFrame({
        "row": rows,
        "term": uniq[codes],
        "term_id": to_i64(murmur2_64(uniq))[codes],
        "tf": tf.astype(np.int64),
        "doc_len": doc_lens[rows],
    })


def query_terms(query: str, limit: int = 10,
                expand_blend: bool = False) -> list[tuple[str, int]]:
    """Tokenize a query: first ``limit`` valid words (config.cpp:79), then
    dedupe preserving first occurrence (the reference searches each distinct
    word once, search_engine.h:456-461). With ``expand_blend`` the query
    expands on blend chars exactly like the index side — the reference's
    get_unique_expanded_full_text_tokens (text.cpp:287-324). Returns
    [(term, term_id)]."""
    words = (expanded_words if expand_blend else tokenize)(query, limit=limit)
    seen: dict[str, None] = {}
    for w in words:
        seen.setdefault(w)
    uniq = list(seen)
    if not uniq:
        return []
    ids = to_i64(murmur2_64(np.asarray(uniq, dtype=object)))
    return [(w, int(i)) for w, i in zip(uniq, ids)]


BLEND_CHARS = ".-:"
_BLEND_RE = re.compile("[" + re.escape(BLEND_CHARS) + "]")


def expanded_words(text: str, limit: int = 0) -> list[str]:
    """Reference ``get_expanded_full_text_words`` (text.cpp:253-285): the
    normal tokenization, but every kept word additionally splits on the
    blend chars ``.-:`` and (when it actually splits) emits the sub-words
    after the parent. Golden: "Test. Ing! the    test   +func-tion+" →
    [test, ing, the, test, +func-tion+, +func, tion+]
    (reference tests/test_text.cpp get_tokens3)."""
    out: list[str] = []
    for raw in _SPLIT_RE.split(text.translate(_LOWER_TABLE)):
        w = raw.strip(TRIM_CHARS)
        if not (0 < len(w.encode("utf-8")) <= 100):
            continue
        out.append(w)
        if limit and len(out) == limit:
            return out
        parts = _BLEND_RE.split(w)
        if len(parts) > 1:
            for p in parts:
                out.append(p.strip(TRIM_CHARS))
                if limit and len(out) == limit:
                    return out
    return out


def snippets(text: str, snippet_len: int = 300) -> list[str]:
    """Reference ``get_snippets`` (text.cpp:211-247): greedy token-aligned
    packing into ~300-char snippets (tokens keep original case; boundary
    chars collapse to single spaces)."""
    out: list[str] = []
    cur = ""
    toks = [t for t in _SPLIT_RE.split(text) if t]
    for tok in toks:
        if len(cur) + len(tok) <= snippet_len:
            cur += tok + " "
        else:
            out.append(cur.strip())
            cur = tok + " "
    out.append(cur.strip())
    return out


def ngrams(words: list[str], n: int) -> list[str]:
    """All 1..n grams in reference order (text.cpp:360-373): for each start i,
    grams of length 1..n joined by single spaces."""
    out = []
    for i in range(len(words)):
        for j in range(n):
            if i + j >= len(words):
                break
            out.append(" ".join(words[i : i + j + 1]))
    return out


def sanitize_utf8(col):
    """Column expression: binary → valid-UTF-8 string, malformed byte
    sequences replaced with U+FFFD — the reference's ``unicode::encode`` /
    ``is_valid`` ingest guard (parser/unicode.cpp:85-116, exercised by
    tests/test_unicode.cpp:32-40). Parquet string columns are valid UTF-8
    by construction, so this applies only when ingesting raw ``binary``
    payloads (e.g. scraped bytes). Runs JVM-side (``make_valid_utf8``;
    ANSI ``decode`` is strict and would throw instead of repairing)."""
    import pyspark.sql.functions as F

    return F.make_valid_utf8(col.cast("string"))
