"""Independent BM25 answers for the benchmark's correctness gate.

The formulas are those of the repository's test oracle: normalised tf
f = tf / doc_len, idf = ln((N - df + 0.5) / (df + 0.5) + 1), a float32
score per (term, doc), float64 sums per doc, ranked by score desc then
unsigned doc id asc. Only the tokenizer is shared with the engine.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd

from alexandria_spark.config import EngineConfig
from alexandria_spark.functions.tokenizer import query_terms, tokenize

from perfbench.stats import rank_order


class Bm25Oracle:
    """Brute-force scorer over a (doc_id, text) frame."""

    def __init__(self, docs: pd.DataFrame, cfg: EngineConfig):
        self.cfg = cfg
        self.tf: dict[str, dict[int, int]] = {}
        self.doc_len: dict[int, int] = {}
        for doc_id, text in zip(docs["doc_id"].tolist(), docs["text"].tolist()):
            words = tokenize(text)
            if not words:
                continue
            self.doc_len[doc_id] = len(words)
            for w, c in Counter(words).items():
                self.tf.setdefault(w, {})[doc_id] = c
        self.n_docs = len(self.doc_len)
        self.avg_dl = sum(self.doc_len.values()) / self.n_docs

    def df(self, term: str) -> int:
        return len(self.tf.get(term, ()))

    def _score(self, term: str, doc_id: int) -> np.float32:
        cfg = self.cfg
        dl = self.doc_len[doc_id]
        if cfg.short_doc_zero and dl < cfg.short_doc_min:
            return np.float32(0.0)
        df = len(self.tf[term])
        idf = np.log((self.n_docs - df + 0.5) / (df + 0.5) + 1.0)
        f = self.tf[term][doc_id] / dl
        norm = cfg.k1 * (1.0 - cfg.b + cfg.b * dl / self.avg_dl)
        return np.float32(idf * (f * (cfg.k1 + 1.0)) / (f + norm))

    def topk(self, query: str, mode: str, k: int,
             hidden: frozenset[int] = frozenset()) -> list[tuple[int, float]]:
        """Top-k over every doc, then without the ``hidden`` (tombstoned)
        ids: tombstones hide docs but do not change corpus statistics."""
        terms = [t for t, _ in query_terms(query, limit=self.cfg.query_max_words)]
        acc: dict[int, list] = {}
        for t in terms:
            for doc_id in self.tf.get(t, {}):
                slot = acc.setdefault(doc_id, [0.0, 0])
                slot[0] += float(self._score(t, doc_id))
                slot[1] += 1
        items = [(d, s) for d, (s, n) in acc.items()
                 if d not in hidden and (mode != "and" or n == len(terms))]
        return rank_order(items)[:k]
