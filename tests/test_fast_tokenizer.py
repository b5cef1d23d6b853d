"""Property tests: the byte-level fast tokenizer must be exactly equivalent
to the reference-golden pandas tokenizer on any input."""

import numpy as np
import pandas as pd
from hypothesis import example, given, settings
from hypothesis import strategies as st

from alexandria_spark.functions.fast_tokenizer import (
    token_counts_fast,
    tokenize_slices,
)
from alexandria_spark.functions.tokenizer import token_counts, tokenize


def _tokens_from_slices(text):
    buf, doc_idx, starts, lens = tokenize_slices(pd.Series(text))
    bmem = buf.tobytes()
    return doc_idx.tolist(), [
        bmem[s : s + l].decode("utf-8") for s, l in zip(starts, lens)
    ]


def test_goldens():
    rows, toks = _tokens_from_slices(["C++ map. is the, best thing", "C# is also good."])
    assert toks == ["c++", "map", "is", "the", "best", "thing", "c#", "is", "also", "good"]
    assert rows == [0] * 6 + [1] * 4


def test_doc_edges_and_empty_docs():
    rows, toks = _tokens_from_slices(["ab", "", "cd ef", "", ""])
    assert toks == ["ab", "cd", "ef"]
    assert rows == [0, 2, 2]
    # adjacent docs must not merge tokens across the edge
    rows, toks = _tokens_from_slices(["ab", "cd"])
    assert toks == ["ab", "cd"]
    assert rows == [0, 1]


TEXT_ALPHABET = st.characters(
    whitelist_categories=("Ll", "Lu", "Nd", "Po", "Zs", "Cc"),
    whitelist_characters=" \t,|!.#+-éß漢",
)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.text(TEXT_ALPHABET, max_size=60), max_size=8))
def test_matches_scalar_tokenizer(docs):
    rows, toks = _tokens_from_slices(docs)
    exp_rows, exp_toks = [], []
    for i, d in enumerate(docs):
        for w in tokenize(d):
            exp_rows.append(i)
            exp_toks.append(w)
    assert toks == exp_toks
    assert rows == exp_rows


@settings(max_examples=60, deadline=None)
@given(st.lists(st.text(TEXT_ALPHABET, max_size=80), max_size=6))
@example(docs=["\x00", "\x000"])  # tokens that differ only after a NUL
def test_counts_match_pandas_variant(docs):
    s = pd.Series(docs)
    fast = token_counts_fast(s, keep_term=True)
    slow = token_counts(s)
    key = lambda df: sorted(
        map(tuple, df[["row", "term", "term_id", "tf", "doc_len"]].to_numpy())
    )
    assert key(fast) == key(slow)


def test_long_token_byte_limit():
    rows, toks = _tokens_from_slices(["x" * 100 + " " + "y" * 101 + " ok", "é" * 51])
    assert toks == ["x" * 100, "ok"]
    assert rows == [0, 0]


def test_counts_on_synth_corpus():
    from alexandria_spark.sources.tables import synth_corpus_pdf

    pdf = synth_corpus_pdf(60, seed=3)
    s = pdf["content"]
    fast = token_counts_fast(s, keep_term=True)
    slow = token_counts(s)
    key = lambda df: sorted(
        map(tuple, df[["row", "term", "term_id", "tf", "doc_len"]].to_numpy())
    )
    assert key(fast) == key(slow)


def _expanded_from_slices(docs):
    from alexandria_spark.functions.fast_tokenizer import expand_blend_slices

    buf, doc_idx, starts, lens = tokenize_slices(pd.Series(docs))
    doc_idx, starts, lens = expand_blend_slices(buf, doc_idx, starts, lens)
    bmem = buf.tobytes()
    return doc_idx.tolist(), [
        bmem[s : s + l].decode("utf-8") for s, l in zip(starts, lens)
    ]


def test_expanded_golden():
    # reference tests/test_text.cpp get_tokens3 golden
    rows, toks = _expanded_from_slices(["Test. Ing! the    test   +func-tion+"])
    assert toks == ["test", "ing", "the", "test", "+func-tion+", "+func", "tion+"]
    assert rows == [0] * 7


@settings(max_examples=200, deadline=None)
@given(st.lists(st.text(TEXT_ALPHABET, max_size=60), max_size=8))
def test_expanded_matches_scalar(docs):
    from alexandria_spark.functions.tokenizer import expanded_words

    rows, toks = _expanded_from_slices(docs)
    exp_rows, exp_toks = [], []
    for i, d in enumerate(docs):
        for w in expanded_words(d):
            exp_rows.append(i)
            exp_toks.append(w)
    assert toks == exp_toks, (toks, exp_toks)
    assert rows == exp_rows
