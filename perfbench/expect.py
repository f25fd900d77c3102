"""Expected answers, computed before the session sends its first request.

BM25 top-k answers come from ``blacklab_spark.oracle`` itself, the reference
the engine must match bit for bit. Building its index and answering one run's
BM25 requests took 0.5-0.6 s for the 4,000-turn query_selective corpus and
2.1-2.4 s for the 12,000-turn query_heavy corpus on a 4-vCPU virtual machine,
inside the 10-20 s the Spark session takes to start.
Span counts, collocations, KWIC rows and groups are counted from the tokens.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from blacklab_spark import oracle

_POS_BITS = 20  # key = doc << _POS_BITS | pos; turns are far shorter than 2**20


class TokenIndex:
    """Positional index over turns whose text is space-separated tokens,
    numbered in doc-id order."""

    def __init__(self, texts: list[str]):
        self.texts = texts
        self.tokens = [t.split() for t in texts]
        self.dl = np.fromiter((len(t) for t in self.tokens), np.int64, len(self.tokens))
        offsets = np.concatenate(([0], np.cumsum(self.dl)))
        self.offsets = offsets
        codes, uniques = pd.factorize(pd.Series([w for t in self.tokens for w in t], dtype=object))
        self.codes = codes.astype(np.int64)
        self.vocab = list(uniques)
        self.term_id = {t: i for i, t in enumerate(self.vocab)}
        doc = np.repeat(np.arange(len(self.tokens), dtype=np.int64), self.dl)
        pos = np.arange(len(self.codes), dtype=np.int64) - np.repeat(offsets[:-1], self.dl)
        order = np.argsort(self.codes, kind="stable")  # by term, then (doc, pos)
        self._doc = doc[order]
        self._pos = pos[order]
        self._start = np.searchsorted(self.codes[order], np.arange(len(self.vocab) + 1))

    def occurrences(self, term: str, n_docs: int) -> tuple[np.ndarray, np.ndarray]:
        """(doc, pos) of every occurrence in docs below n_docs, ascending."""
        i = self.term_id.get(term)
        if i is None:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        doc = self._doc[self._start[i]:self._start[i + 1]]
        cut = int(np.searchsorted(doc, n_docs))
        return doc[:cut], self._pos[self._start[i]:self._start[i] + cut]

    def keys(self, term: str, n_docs: int) -> np.ndarray:
        """One int64 per occurrence: doc << _POS_BITS | pos. Adding or
        subtracting a small offset never yields another real key, because
        no position comes near 2**_POS_BITS."""
        doc, pos = self.occurrences(term, n_docs)
        return (doc << _POS_BITS) | pos


class Expect:
    """Answers over the first ``n_docs`` turns of a TokenIndex, as the engine
    sees them after those turns are indexed."""

    def __init__(self, index: TokenIndex, n_docs: int):
        self.ix = index
        self.n_docs = n_docs
        self.oracle = oracle.build_oracle_index(list(enumerate(index.texts[:n_docs])))

    def sequence_starts(self, terms: list[str]) -> np.ndarray:
        """Keys (doc << bits | start) where ``terms`` occur adjacently."""
        cand = self.ix.keys(terms[0], self.n_docs)
        for i, t in enumerate(terms[1:], start=1):
            cand = cand[np.isin(cand, self.ix.keys(t, self.n_docs) - i)]
        return cand

    def sequence_spans(self, terms: list[str]) -> list[tuple[int, int, int]]:
        starts = self.sequence_starts(terms)
        doc, pos = starts >> _POS_BITS, starts & ((1 << _POS_BITS) - 1)
        return [(int(d), int(p), int(p) + len(terms)) for d, p in zip(doc, pos)]

    def gap_count(self, a: str, b: str, gap_max: int) -> int:
        """Hits of ``"a" []{0,gap_max} "b"``: one span per (a, b) pair."""
        ka, kb = self.ix.keys(a, self.n_docs), self.ix.keys(b, self.n_docs)
        return int(sum(np.isin(ka + g, kb).sum() for g in range(1, gap_max + 2)))

    def collocations(self, term: str, window: int) -> dict[str, int]:
        doc, pos = self.ix.occurrences(term, self.n_docs)
        base = self.ix.offsets[doc] + pos
        picked = []
        for off in [o for o in range(-window, window + 1) if o]:
            ok = (pos + off >= 0) & (pos + off < self.ix.dl[doc])
            picked.append(self.ix.codes[base[ok] + off])
        counts = np.bincount(np.concatenate(picked), minlength=len(self.ix.vocab))
        return {self.ix.vocab[i]: int(counts[i]) for i in np.flatnonzero(counts)}

    def kwic(self, spans: list[tuple[int, int, int]], context: int) -> list[tuple]:
        out = []
        for d, s, e in spans:
            toks = self.ix.tokens[d]
            out.append((d, s, e, " ".join(toks[max(0, s - context):s]),
                        " ".join(toks[s:e]), " ".join(toks[e:e + context])))
        return out
