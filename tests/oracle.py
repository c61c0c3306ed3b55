"""Pure-Python/pandas BM25 oracle (SURVEY.md section 5.2).

Implements the scoring spec of SURVEY.md section 7.1 exactly and
independently of Spark — this is the golden truth for rank-identity:

    idf(t)      = ln(1 + (N - df + 0.5)/(df + 0.5))
    tf_part     = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
    score(q,d)  = sum_t qtf(t) * idf(t) * tf_part(t,d)
    order       = score DESC, doc_id ASC
"""

from __future__ import annotations

import math
import re
from collections import Counter

STOP = frozenset(
    "a an and are as at be but by for if in into is it no not of on or such "
    "that the their then there these they this to was will with".split()
)
_RE = re.compile(r"[a-z0-9]+")


def tokenize(text: str) -> list[str]:
    return [t for t in _RE.findall((text or "").lower()) if t not in STOP]


def bm25_topk(
    docs: list[tuple[int, str]],
    queries: list[tuple[str, str]],
    k: int = 100,
    k1: float = 1.2,
    b: float = 0.75,
    round_dp: int | None = None,
    dead: frozenset | set = frozenset(),
    n_docs: int | None = None,
    avgdl: float | None = None,
) -> list[tuple[str, int, float, int]]:
    """Returns [(query_id, doc_id, score, rank)] sorted per query.

    round_dp rounds every score HALF_UP on its shortest decimal repr
    (Spark's F.round on a double) BEFORE ranking. Docs in `dead` are
    deleted: they still count in N, avgdl and df, but never rank.
    n_docs and avgdl override the collection stats the scores use (an
    index whose stats were edited or drifted)."""
    from decimal import ROUND_HALF_UP, Decimal

    toks = {d: tokenize(t) for d, t in docs}
    dl = {d: len(ts) for d, ts in toks.items()}
    n = len(docs) if n_docs is None else n_docs
    if avgdl is None:
        avgdl = sum(dl.values()) / len(docs) if docs else 0.0
    tf: dict[str, Counter] = {}
    df: Counter = Counter()
    for d, ts in toks.items():
        c = Counter(ts)
        for term, f in c.items():
            tf.setdefault(term, Counter())[d] = f
            df[term] += 1

    out: list[tuple[str, int, float, int]] = []
    for qid, qtext in queries:
        qtf = Counter(tokenize(qtext))
        scores: dict[int, float] = {}
        for term, q_f in qtf.items():
            if term not in tf:
                continue
            idf = math.log(1.0 + (n - df[term] + 0.5) / (df[term] + 0.5))
            for d, f in tf[term].items():
                part = f * (k1 + 1.0) / (f + k1 * (1.0 - b + b * dl[d] / avgdl))
                scores[d] = scores.get(d, 0.0) + q_f * idf * part
        for d in dead:
            scores.pop(d, None)
        if round_dp is not None:
            q = Decimal(1).scaleb(-round_dp)
            scores = {d: float(Decimal(repr(s)).quantize(q, ROUND_HALF_UP))
                      for d, s in scores.items()}
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        out.extend((qid, d, s, i + 1) for i, (d, s) in enumerate(ranked))
    return out


def assert_matches_topk(got, want) -> None:
    """Serving rows (Rows or tuples of query_id, doc_id, score, rank)
    equal bm25_topk's: the same (query, doc, rank) rows, each score
    within 1e-9 of the oracle's (the engine sums a doc's terms in
    another order)."""
    import pytest

    got = sorted(tuple(r) for r in got)
    want = sorted(want)
    assert [(q, d, r) for q, d, _s, r in got] == \
        [(q, d, r) for q, d, _s, r in want]
    for g, w in zip(got, want):
        assert g[2] == pytest.approx(w[2], rel=1e-9, abs=1e-9), (g, w)


def postings(docs: list[tuple[int, str]]) -> dict[str, list[tuple[int, int, int]]]:
    """term -> its postings [(doc_id, tf, dl)] sorted by doc_id, tallied
    with tokenize (dl counts a doc's tokens after stop-word removal)."""
    out: dict[str, list[tuple[int, int, int]]] = {}
    for d, text in docs:
        toks = tokenize(text)
        for term, f in Counter(toks).items():
            out.setdefault(term, []).append((d, f, len(toks)))
    return {t: sorted(v) for t, v in out.items()}


def posting_rows(
    docs: list[tuple[int, str]],
    avgdl: float,
    chunk: int | None = None,
    impact_ranks: tuple = (),
) -> dict[str, list[dict]]:
    """Reference encoded rows: term -> one codec.encode_blocked row per
    contiguous ``chunk``-posting piece of the term's sorted postings
    (one row when chunk is None), each dict carrying the encoder's
    fields plus salt (the piece index), df (the term's posting count)
    and n_docs. With impact_ranks the rows take the serving layout the
    merge writes; without, the partial layout the build and stream
    encoders write."""
    import numpy as np

    from engine.codec import encode_blocked

    out: dict[str, list[dict]] = {}
    for term, ps in postings(docs).items():
        step = chunk or len(ps)
        rows = out.setdefault(term, [])
        for salt, lo in enumerate(range(0, len(ps), step)):
            d, tf, dl = (np.array(c, dtype=np.int64)
                         for c in zip(*ps[lo:lo + step]))
            enc = encode_blocked(d, tf, dl, avgdl, impact_ranks=impact_ranks)
            rows.append({**enc, "salt": salt, "df": len(ps),
                         "n_docs": int(d.size)})
    return out


def row_key(row, cols: tuple[str, ...]) -> tuple:
    """A Spark Row or a posting_rows dict as a comparable tuple of
    ``cols``: binaries as bytes, arrays as tuples."""
    out = []
    for c in cols:
        v = row[c]
        if isinstance(v, (bytes, bytearray)):
            v = bytes(v)
        elif isinstance(v, list):
            v = tuple(v)
        out.append(v)
    return tuple(out)


def term_meta(posts, ranks: tuple) -> dict:
    """Reference for csearch._term_meta: term -> (df, raw block-max,
    per-rank impacts) over the given serving rows, as ONE Spark
    aggregation over the metadata columns — the per-term max df, max
    block-max and max of each stored impact rank. F.get is NULL past an
    array's end whatever the ANSI setting."""
    from pyspark.sql import functions as F

    aggs = [F.max("df").alias("df"),
            F.max(F.array_max("block_max")).alias("bmax_raw")]
    aggs += [F.max(F.get("impacts", i)).alias(f"imp{i}")
             for i in range(len(ranks))]
    return {
        r["term"]: (r["df"], r["bmax_raw"],
                    tuple(r[f"imp{i}"] for i in range(len(ranks))))
        for r in posts.groupBy("term").agg(*aggs).collect()
    }
