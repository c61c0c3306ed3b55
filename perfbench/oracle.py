"""Exact BM25 top-k over a generated corpus, and the result check.

Same formula and tie order as the engine's specification:

    idf(t)     = ln(1 + (N - df + 0.5) / (df + 0.5))
    tf_part    = tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    score(q,d) = sum over distinct query terms t of qtf * idf * tf_part
    order      = score DESC, doc_id ASC

Scores are float64 sums whose term order may differ from the engine's,
so two docs the oracle ties exactly can differ in the last bits on the
engine side. ``check`` therefore compares each rank's score with the
oracle's score at that rank within ``REL_TOL`` (relative), accepts any
permutation of docs whose oracle scores agree within it, and requires
doc_id ASC between results whose engine scores are exactly equal.
"""

from __future__ import annotations

import re
from collections import Counter

import numpy as np

from gen import STOP_WORDS, Corpus

K1, B = 1.2, 0.75
#: a few ulp of a float64 sum of at most a dozen terms
REL_TOL = 1e-9
_WORD = re.compile(r"[a-z0-9]+")


def analyze(text: str) -> list[str]:
    return [t for t in _WORD.findall(text.lower()) if t not in STOP_WORDS]


class Oracle:
    def __init__(self, corpus: Corpus):
        n = corpus.n_docs
        stop = np.array([w in STOP_WORDS for w in corpus.vocab])
        doc = np.repeat(np.arange(n, dtype=np.int64), np.diff(corpus.offsets))
        keep = ~stop[corpus.ids]
        doc, tid = doc[keep], corpus.ids[keep].astype(np.int64)
        self.n_docs = n
        self.dl = np.bincount(doc, minlength=n).astype(np.float64)
        self.avgdl = float(self.dl.sum()) / n
        uniq, tf = np.unique(tid * n + doc, return_counts=True)
        self.p_doc = uniq % n
        self.p_tf = tf.astype(np.float64)
        v = len(corpus.vocab)
        self.starts = np.searchsorted(uniq // n, np.arange(v + 1))
        self.word_id = {w: i for i, w in enumerate(corpus.vocab)}

    def rank(self, query: str, k: int) -> tuple[np.ndarray, np.ndarray]:
        """(doc_ids, scores) of the top k, extended past k by any doc
        tied with the k-th within REL_TOL."""
        scores = np.zeros(self.n_docs)
        hit = np.zeros(self.n_docs, dtype=bool)
        for term, qtf in Counter(analyze(query)).items():
            i = self.word_id.get(term)
            if i is None:
                continue
            s, e = self.starts[i], self.starts[i + 1]
            df = e - s
            if df == 0:
                continue
            docs, tf = self.p_doc[s:e], self.p_tf[s:e]
            idf = np.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))
            part = tf * (K1 + 1.0) / (
                tf + K1 * (1.0 - B + B * self.dl[docs] / self.avgdl))
            scores[docs] += qtf * idf * part
            hit[docs] = True
        docs = np.flatnonzero(hit)
        sc = scores[docs]
        order = np.lexsort((docs, -sc))
        docs, sc = docs[order], sc[order]
        if len(docs) > k:
            floor = sc[k - 1] - REL_TOL * max(1.0, abs(sc[k - 1]))
            n = k + int(np.count_nonzero(sc[k:] >= floor))
            docs, sc = docs[:n], sc[:n]
        return docs, sc


def close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))


def check(expected: tuple[np.ndarray, np.ndarray], rows, k: int) -> str | None:
    """None when ``rows`` ((doc_id, score, rank) in rank order) is a
    correct top k for ``expected`` from Oracle.rank; else the reason."""
    e_docs, e_sc = expected
    n = min(k, len(e_docs))
    if len(rows) != n:
        return f"{len(rows)} results, expected {n}"
    by_doc = dict(zip(e_docs.tolist(), e_sc.tolist()))
    seen = set()
    prev = None
    for i, (d, s, r) in enumerate(rows):
        if r != i + 1:
            return f"rank {r} at position {i + 1}"
        if d in seen:
            return f"doc {d} returned twice"
        seen.add(d)
        want = by_doc.get(d)
        if want is None or not close(s, want) or not close(s, e_sc[i]):
            return (f"rank {r}: doc {d} score {s!r}, oracle doc score "
                    f"{want!r}, oracle rank score {e_sc[i]!r}")
        if prev is not None and s == prev[1] and d < prev[0]:
            return f"rank {r}: tie on {s!r} not in doc_id order"
        prev = (d, s)
    return None
