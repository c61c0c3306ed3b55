"""Round-6 (round-4 session-2) regression tests: the in-round code
review findings over the matmul/packed-feed/deletes commits.

1. Negative weights: an index whose metadata is not self-consistent
   (a foreign or hand-edited one) can hold a term's df above N, making
   idf (hence w) negative. Phase-2's
   division-by-w threshold must not flip its inequality, and the
   matmul kernel's hit test must not drop legitimately
   negative-scoring docs the OR query ranks.
2. The matmul chunk width must keep the dense transient X bounded
   (~128 MB) instead of growing linearly with batch term count.
3. lsh_bucket_stats' capped-pair formula must clamp the anchor count
   to the bucket size (max_bucket < n_anchors is API-reachable).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _mixed_sign_fixture(spark, tmp_path):
    """(index whose stats we then desync, its docs): 'apple' in every
    doc (df=50), 'kiwi' in 3 docs. Overriding n_docs=10 makes
    w(apple) < 0 while w(kiwi) > 0 — stale per-term df vs a smaller
    N."""
    from engine.postings import build_index, read_index

    rows = [(i, "apple pear " + ("kiwi" if i < 3 else "plum") +
             f" filler{i % 7}") for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "negw_idx")
    build_index(spark, docs, out, n_shards=2, hot_df_threshold=10**9,
                n_salts=2)
    idx = dict(read_index(spark, out))
    idx["n_docs"] = 10  # < df(apple)=50: idf(apple) = ln(1+x), x<0
    return idx, rows


def test_negative_weight_window_rank_identity(spark, tmp_path):
    """All serving routes (prune on/off x the kernel's one-task and
    packed plans) must return the oracle's top-k (scored with the same
    desynced N) when some query weights are negative. Before the
    fix: phase 2 divided the keep condition by w without flipping the
    inequality (pruning away blocks the query must decode), and the
    matmul kernel's score>0 hit test dropped negatively-scoring hit
    docs entirely. Mixed-sign queries additionally exercise the
    corrected UBsum (max(w,0)*tmax) and the negsum-lowered θ: with
    k=3 the rare positive term 'kiwi' matches exactly 3 docs, so θ is
    FINITE and phase 2's threshold math actually engages (at k>3 it
    degenerates to θ=-inf / keep-everything and proves nothing)."""
    import pytest

    from engine import csearch

    from .oracle import assert_matches_topk, bm25_topk

    idx, docs = _mixed_sign_fixture(spark, tmp_path)
    queries = [("neg", "apple"),            # single negative-w term
               ("mix", "apple kiwi"),       # mixed signs, kiwi rarest
               ("pos", "kiwi")]             # control: all-positive
    qs = spark.createDataFrame(queries, "query_id string, query string")
    want = bm25_topk(docs, queries, k=3, n_docs=idx["n_docs"])
    # negative-w docs must actually rank (score < 0 rows exist)
    assert any(q == "neg" and s < 0 for q, _, s, _ in want)
    for prune in (False, True):
        # the one-task plan, then the packed plan (a one-task bound of 0)
        for bound in (csearch.ONE_TASK_MAX_POSTINGS, 0):
            with pytest.MonkeyPatch.context() as mp:
                mp.setattr(csearch, "ONE_TASK_MAX_POSTINGS", bound)
                got = csearch.search_index(spark, idx, qs, k=3,
                                           prune=prune).collect()
            assert_matches_topk(got, want)


def test_chunk_width_bounds_dense_transient():
    """X (n_t x CHUNK doubles) must stay near the 128 MB design bound
    for ANY batch term count — the old 512 floor let X grow to
    4 KB/term (0.5 GB at a 10^5-term design-regime batch)."""
    from engine.csearch import _chunk_width

    for n_t in (1, 100, 31_250, 100_000, 1_000_000):
        c = _chunk_width(n_t, n_q=100)
        assert 16 <= c <= 8192
        # above the floor the bound holds outright; at the floor it
        # degrades gracefully (linear in n_t/1e6, not in n_t/31k)
        if c > 16:
            assert 8 * n_t * c <= 132e6, (n_t, c)
    assert _chunk_width(1_000_000, 100) == 16
    assert 8 * 1_000_000 * 16 <= 132e6


def test_lsh_bucket_stats_clamps_anchors_to_bucket_size(spark):
    """max_bucket < n_anchors is API-reachable: a hot bucket with
    m <= n_anchors makes every member an anchor (all-pairs), so
    pairs_capped must equal m*(m-1)/2 there — the un-clamped formula
    reported 0 for m=2 and went NEGATIVE per-bucket for m < A-1."""
    from engine.dedup import lsh_bucket_stats

    buckets = spark.createDataFrame(
        [(1, "b2"), (2, "b2"),                      # m=2 hot bucket
         (3, "b5"), (4, "b5"), (5, "b5"), (6, "b5"), (7, "b5"),
         (8, "solo")],                              # m=1, never hot
        "doc_id long, band_key string")
    s = lsh_bucket_stats(buckets, max_bucket=1, n_anchors=3)
    # b2: A=min(3,2)=2 -> 2*0 + 1 = 1 (its single real pair)
    # b5: A=3 -> 3*2 + 3 = 9 of the 10 uncapped
    assert s["n_hot"] == 2
    assert s["pairs_uncapped"] == 1 + 10
    assert s["pairs_capped"] == 1 + 9


def test_matmul_round_matches_jvm_half_up(spark):
    """F.round is JVM BigDecimal HALF_UP on the double's shortest
    decimal repr; np.round is half-to-even — at a decimal midpoint the
    two diverge (np.round(2.5) = 2.0, F.round(2.5, 0) = 3.0). The
    matmul kernels therefore emit UNROUNDED candidate scores cut with
    a one-quantum relaxation, and search_index's F.round is the single
    rounding authority for every serving route.

    Regression for the round-4 review finding: with kernel-side
    np.round, a doc whose exact score is 2.5 was emitted as 2.0 and a
    2.4-scoring lower-doc_id doc won the rounded tie — the oracle
    returns the 2.5 doc at 3.0."""
    import numpy as np

    from engine.csearch import _matmul_emit, _topk

    # one query, one term, w = 1.25; doc 3 tf_part = 1.92 (score 2.4),
    # doc 5 tf_part = 2.0 (score 2.5 — an exact decimal midpoint at
    # round_dp=0)
    bval = (["q"], 1, np.array([0]), np.array([0]),
            np.array([1.25], dtype=np.float64))
    tidx = np.array([0, 0], dtype=np.int64)
    doc = np.array([3, 5], dtype=np.int64)
    x = np.array([1.92, 2.0], dtype=np.float64)
    rb, _ = _matmul_emit(bval, tidx, doc, x, k=1, round_dp=0)
    got = {int(d): float(s) for d, s in
           zip(rb.column("doc_id").to_pylist(),
               rb.column("score").to_pylist())}
    # the kernel keeps BOTH candidates (2.4 is within one quantum of
    # the kth unrounded score 2.5) and rounds NEITHER
    assert got == {3: 2.4, 5: 2.5}
    # search_index's F.round + window: doc 5 rounds HALF_UP to 3.0 and wins
    cand = spark.createDataFrame(
        [("q", d, s) for d, s in got.items()],
        "query_id string, doc_id long, score double",
    ).withColumn("score", F.round("score", 0))
    top = _topk(cand, 1).collect()
    assert [(r.doc_id, r.score, r.rank) for r in top] == [(5, 3.0, 1)]


def test_matmul_quantum_relaxation_keeps_rounded_tie_winner(spark):
    """The final per-query kernel cut must keep a doc whose unrounded
    score is below the kth but within one rounding quantum: after
    F.round the two scores merge and the lower doc_id wins the window
    tie-break — cutting exactly at k kernel-side would evict the true
    winner."""
    import numpy as np

    from engine.csearch import _matmul_emit, _topk

    bval = (["q"], 1, np.array([0]), np.array([0]),
            np.array([1.0], dtype=np.float64))
    tidx = np.array([0, 0], dtype=np.int64)
    doc = np.array([9, 2], dtype=np.int64)
    x = np.array([1.00004, 1.00001], dtype=np.float64)
    rb, _ = _matmul_emit(bval, tidx, doc, x, k=1, round_dp=4)
    assert sorted(rb.column("doc_id").to_pylist()) == [2, 9]
    cand = spark.createDataFrame(
        [("q", int(d), float(s)) for d, s in
         zip(rb.column("doc_id").to_pylist(),
             rb.column("score").to_pylist())],
        "query_id string, doc_id long, score double",
    ).withColumn("score", F.round("score", 4))
    top = _topk(cand, 1).collect()
    assert [(r.doc_id, r.score) for r in top] == [(2, 1.0)]
