"""Deletes + compaction (reference analog: Lucene
IndexWriter.deleteDocuments + liveDocs, then forceMergeDeletes).

Contract under test (engine/postings.py delete_docs /
compact_tombstones, engine/csearch.py search_index tombstone filter):

1. a tombstoned doc vanishes from results IMMEDIATELY, while the
   surviving docs keep their PRE-delete scores (collection stats and df
   still count the deleted docs — Lucene-parity) — pruned and unpruned
   serving agree;
2. compact_tombstones makes the index rank-AND-score identical to a
   from-scratch build over the surviving corpus, and clears the
   tombstones;
3. a crash anywhere before compaction's one commit leaves the previous
   generation serving (tombstones standing) and a re-run finishes the
   job — tested with the rest of the commit protocol in
   tests/test_commit.py.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from engine.csearch import search_index
from engine.postings import (
    build_index, compact_tombstones, delete_docs, load_manifest,
    read_index, read_tombstones,
)
from engine.queries_set import queries_df

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _rows(df):
    return sorted(
        (r.query_id, r.doc_id, round(r.score, 9), r.rank) for r in df.collect()
    )


@pytest.fixture(scope="module")
def corpus(spark, documents):
    return documents


@pytest.fixture()
def built(spark, corpus, tmp_path):
    out = str(tmp_path / "idx")
    build_index(spark, corpus, out, n_shards=4, hot_df_threshold=100,
                n_salts=4)
    return out


DELETED = lambda: F.col("doc_id") % 10 == 3  # noqa: E731 — 10% of docs


def test_delete_hides_docs_immediately_stats_unchanged(spark, corpus, built):
    """Lucene-liveDocs semantics: deleted docs disappear from results at
    once; survivors keep pre-delete scores (stats still count deleted
    docs); pruned == unpruned on the tombstoned index."""
    qdf = queries_df(spark)
    idx0 = read_index(spark, built)
    # full ranking over everything, before any delete
    full = search_index(spark, idx0, qdf, k=10**9, prune=False)
    full_rows = {(r.query_id, r.doc_id): r.score for r in full.collect()}

    victims = corpus.where(DELETED()).select("doc_id")
    n_victims = victims.count()
    assert n_victims > 0
    n = delete_docs(spark, built, victims)
    assert n == n_victims

    idx = read_index(spark, built)
    assert list(idx["tombstone_ids"]) == sorted(
        r.doc_id for r in victims.collect())
    # stats unchanged until compaction (Lucene parity)
    assert idx["n_docs"] == idx0["n_docs"]
    assert idx["avgdl"] == idx0["avgdl"]

    got_unpruned = search_index(spark, idx, qdf, k=10, prune=False)
    got_pruned = search_index(spark, idx, qdf, k=10, prune=True)

    # oracle: drop victims from the FULL pre-delete ranking, re-rank by
    # (score desc, doc_id asc), take 10 — scores must be byte-identical
    victim_ids = {r.doc_id for r in victims.collect()}
    want = []
    by_q: dict[str, list] = {}
    for (q, d), s in full_rows.items():
        if d not in victim_ids:
            by_q.setdefault(q, []).append((s, d))
    for q, lst in by_q.items():
        lst.sort(key=lambda t: (-t[0], t[1]))
        want += [(q, d, round(s, 9), i + 1) for i, (s, d) in enumerate(lst[:10])]

    assert _rows(got_unpruned) == sorted(want)
    # the theta-safety property: pruning over a tombstoned index is
    # rank-identical to the unpruned plan (phase-1 theta is computed
    # over SURVIVORS, so no surviving doc can be pruned out)
    assert _rows(got_pruned) == sorted(want)


def test_decode_theta_counts_only_live_docs(spark, tmp_path):
    """A tombstoned index takes the decode θ, which must be the k-th
    best LIVE single-term score of each query's rarest term: deleted
    docs among that term's best would raise θ above what the surviving
    corpus reaches, and the block filter could then prune a surviving
    top-k doc."""
    from engine.csearch import (_impact_ranks, _term_meta, _theta,
                                local_query_terms)

    from .oracle import assert_matches_topk, bm25_topk

    # kiwi (df 12) is rarer than apple (df 24); its tf, hence its
    # score, grows with the doc id, and the two best kiwi docs die
    docs = ([(i, "apple apple apple " + "kiwi " * i) for i in range(1, 13)]
            + [(i, "apple pear") for i in range(13, 25)])
    dead = {11, 12}
    out = str(tmp_path / "theta_idx")
    build_index(spark, spark.createDataFrame(docs, "doc_id long, text string"),
                out, n_shards=2, hot_df_threshold=10**9, n_salts=2)
    delete_docs(spark, out, sorted(dead))
    idx = read_index(spark, out)
    queries = [("q0", "kiwi apple")]
    qs = spark.createDataFrame(queries, "query_id string, query string")
    k = 3
    _qt, terms, qt_rows = local_query_terms(spark, qs)
    meta = _term_meta(idx, terms, _impact_ranks(idx))
    theta = _theta(spark, idx, meta, qt_rows, k, idx["tombstone_ids"])
    want_kth = bm25_topk(docs, [("q0", "kiwi")], k=k, dead=dead)[-1]
    assert want_kth[1] == 8 and want_kth[3] == k  # docs 10, 9, 8 live
    assert theta["q0"] == pytest.approx(want_kth[2], rel=1e-9)
    for prune in (False, True):
        assert_matches_topk(
            search_index(spark, idx, qs, k=k, prune=prune).collect(),
            bm25_topk(docs, queries, k=k, dead=dead))


def test_delete_accepts_iterable_and_dedups(spark, corpus, built):
    n1 = delete_docs(spark, built, [3, 13, 3])
    assert n1 == 2
    # appending the same ids again is idempotent on the distinct count
    n2 = delete_docs(spark, built, [13, 23])
    assert n2 == 3
    tombs = read_tombstones(spark, built)
    assert sorted(r.doc_id for r in tombs.collect()) == [3, 13, 23]


def test_compact_equals_fresh_build_on_survivors(spark, corpus, built,
                                                 tmp_path):
    qdf = queries_df(spark)
    delete_docs(spark, built, corpus.where(DELETED()).select("doc_id"))
    m = compact_tombstones(spark, built, hot_df_threshold=100, n_salts=4)
    assert m["n_tombstones"] == 0
    assert m["compacted_removed"] > 0

    idx = read_index(spark, built)
    assert idx["tombstone_ids"] is None

    fresh_dir = str(tmp_path / "fresh")
    build_index(spark, corpus.where(~DELETED()), fresh_dir, n_shards=4,
                hot_df_threshold=100, n_salts=4)
    fidx = read_index(spark, fresh_dir)

    # collection stats re-baselined to the survivors
    assert idx["n_docs"] == fidx["n_docs"]
    assert idx["avgdl"] == pytest.approx(fidx["avgdl"], rel=1e-12)

    got = _rows(search_index(spark, idx, qdf, k=10, prune=True))
    want = _rows(search_index(spark, fidx, qdf, k=10, prune=True))
    assert got == want and got  # rank AND score identical, non-empty


def test_compact_noop_without_tombstones(spark, built):
    m0 = load_manifest(built)
    m = compact_tombstones(spark, built)
    assert m["stats"] == m0["stats"]
    assert m == m0  # nothing committed

