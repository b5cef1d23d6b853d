"""Seeded benchmark inputs: corpus, query mix, tombstone sets, append batches.

Every input is a pure function of the seed and the sizes. Documents come
from the token mixing of ``alexandria_spark.sources.bench_corpus`` (Zipf 1.1
over a 4096-word vocabulary, 100-400 tokens per doc), evaluated in-process
with numpy instead of as a Spark job, so generating inputs never touches
the engine or its timers.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from alexandria_spark.sources.bench_corpus import _mix64, _vocab

VOCAB_SIZE = 4096
ZIPF_S = 1.1
MIN_TOKENS, MAX_TOKENS = 100, 400

SHAPES = ("and2", "and3", "or2", "or3", "single", "absent")
# Zipf-rank ranges (1-based, inclusive) of the three term-rarity bands
BANDS = {"hot": (1, 16), "mid": (100, 500), "rare": (2000, 4000)}
_BAND_NAMES = tuple(BANDS)
_N_TERMS = {"and2": 2, "and3": 3, "or2": 2, "or3": 3, "single": 1, "absent": 1}
_MODE = {"and2": "and", "and3": "and", "or2": "or", "or3": "or",
         "single": "or", "absent": "and"}


@dataclass(frozen=True)
class Query:
    shape: str
    band: str
    text: str
    mode: str


def corpus(seed: int, first_id: int, n: int) -> pd.DataFrame:
    """Docs ``first_id .. first_id + n - 1`` of the seeded bench corpus as a
    (doc_id, text) frame; the same (seed, id) always yields the same text."""
    vocab = _vocab(VOCAB_SIZE)
    ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
    pmf = ranks ** (-ZIPF_S)
    cdf = np.cumsum(pmf / pmf.sum())
    useed = np.uint64(seed)
    ids = np.arange(first_id, first_id + n, dtype=np.uint64)
    ntok = (_mix64(ids * np.uint64(3) + useed)
            % np.uint64(MAX_TOKENS - MIN_TOKENS)).astype(np.int64) + MIN_TOKENS
    doc_of_tok = np.repeat(ids, ntok)
    pos = (np.concatenate([np.arange(k, dtype=np.uint64) for k in ntok])
           if n else np.empty(0, np.uint64))
    with np.errstate(over="ignore"):
        h = _mix64(doc_of_tok * np.uint64(0x100000001B3) + pos + useed)
    idx = np.searchsorted(cdf, h.astype(np.float64) / 2.0**64, side="left")
    words = vocab[np.minimum(idx, VOCAB_SIZE - 1)]
    bounds = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(ntok, out=bounds[1:])
    texts = [" ".join(words[bounds[j]:bounds[j + 1]]) for j in range(n)]
    return pd.DataFrame({"doc_id": ids.view(np.int64), "text": texts})


def query_mix(seed: int) -> list[Query]:
    """One query per (shape, band) pair, 18 in all. The order interleaves
    shapes and bands, so every run of six consecutive queries covers all
    six shapes and every band twice. The seed picks the terms only."""
    rng = np.random.default_rng([seed, 1])
    vocab = _vocab(VOCAB_SIZE)
    out = []
    for i in range(len(SHAPES) * len(_BAND_NAMES)):
        shape = SHAPES[i % len(SHAPES)]
        band = _BAND_NAMES[(i + i // len(SHAPES)) % len(_BAND_NAMES)]
        lo, hi = BANDS[band]
        ranks = rng.choice(np.arange(lo, hi + 1), size=_N_TERMS[shape],
                           replace=False)
        words = [str(w) for w in vocab[ranks - 1]]
        if shape == "absent":
            words.append(f"zq{seed}n{i}")  # outside the vocabulary
        out.append(Query(shape, band, " ".join(words), _MODE[shape]))
    return out


def tombstone_batches(seed: int, n_docs: int, share: float = 0.01,
                      batches: int = 4) -> list[list[int]]:
    """``share`` of the doc ids 0..n_docs-1, split into ``batches`` sets."""
    rng = np.random.default_rng([seed, 2])
    pick = rng.choice(n_docs, size=max(batches, round(share * n_docs)),
                      replace=False)
    return [sorted(int(d) for d in part) for part in np.array_split(pick, batches)]


@dataclass(frozen=True)
class AppendBatch:
    marker: str              # token carried by every doc of the batch only
    docs: pd.DataFrame       # (doc_id, text)
    deletes: list[int]       # tombstoned after the batch is probed


def append_batches(seed: int, base_docs: int, n_batches: int,
                   batch_share: float = 0.02, delete_share: float = 0.005
                   ) -> list[AppendBatch]:
    """Append batches continuing the base corpus's id range. Each batch's
    docs carry a batch-unique marker token. Each batch's delete set takes a
    fifth from that batch, so the post-delete marker probe has docs to
    hide, and the rest from base docs not deleted before."""
    rng = np.random.default_rng([seed, 3])
    size = max(1, round(batch_share * base_docs))
    n_del = max(2, round(delete_share * base_docs))
    from_batch = max(1, n_del // 5)
    free_base = rng.permutation(base_docs)
    out = []
    for b in range(n_batches):
        first = base_docs + b * size
        docs = corpus(seed, first, size)
        marker = f"mk{seed}b{b}"
        docs["text"] = docs["text"] + " " + marker
        own = rng.choice(np.arange(first, first + size), size=from_batch,
                         replace=False)
        base = free_base[b * (n_del - from_batch):(b + 1) * (n_del - from_batch)]
        deletes = sorted(int(d) for d in np.concatenate([own, base]))
        out.append(AppendBatch(marker, docs, deletes))
    return out
