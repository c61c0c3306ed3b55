"""Round-6 optimization tests: serving-route identity after the
action-count restructure (driver-side prune thresholds, df-passthrough
unpruned scoring), the warm stats-drift release (ADVICE r5 #1/#2), and
the bench headline-size canary."""

from __future__ import annotations

import pytest

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


@pytest.fixture(scope="module")
def r9_dir(spark, tmp_path_factory):
    from engine.postings import build_index

    out = str(tmp_path_factory.mktemp("r9_idx"))
    # tie-heavy corpus: repeated docs produce equal scores so the
    # (score desc, doc_id asc) tie-break is exercised on every route
    docs = spark.createDataFrame(
        [(i, f"apple banana {'fig ' * (i % 3)}cherry t{i % 5}", "en",
          "s", 30) for i in range(60)],
        DOC_SCHEMA,
    )
    build_index(spark, docs, out, n_shards=2, hot_df_threshold=20,
                n_salts=2)
    return out


@pytest.fixture(scope="module")
def r9_index(spark, r9_dir):
    from engine.postings import read_index

    return read_index(spark, r9_dir)


#: q'2's id holds a quote, which no SQL literal renders portably: the
#: local relations fall back to createDataFrame and the single-query
#: plan must still carry the id exactly
R9_QUERIES = [("q0", "apple fig"), ("q1", "banana t3 zzz_absent"),
              ("q'2", "cherry cherry apple")]


def _res(spark, idx, qs, **kw):
    from engine.csearch import search_index

    return sorted(
        (r.query_id, r.doc_id, round(r.score, 9), r.rank)
        for r in search_index(spark, idx, qs, **kw).collect()
    )


ROUTES = [(p, a) for p in (False, True) for a in ("join", "matmul")]


def _routes_identical(spark, idx, **kw):
    """Serve R9_QUERIES as one batch on every (prune x agg_impl) route,
    then each query alone on every route, cold and then warm: all must
    equal the unpruned join batch (rows, scores to 9 dp, ranks)."""
    from engine.csearch import release_warm, warm_serving

    qs = spark.createDataFrame(R9_QUERIES, "query_id string, query string")
    base = _res(spark, idx, qs, prune=False, agg_impl="join", **kw)
    assert {r[0] for r in base} == {q for q, _ in R9_QUERIES}
    for p, a in ROUTES:
        assert _res(spark, idx, qs, prune=p, agg_impl=a, **kw) == base, (
            f"batch route {(p, a)} diverged")
    singles = [(q, spark.createDataFrame([(q, text)],
                                         "query_id string, query string"))
               for q, text in R9_QUERIES]
    for posture in ("cold", "warm"):
        if posture == "warm":
            warm_serving(spark, idx)
        try:
            for q, one in singles:
                want = [r for r in base if r[0] == q]
                for p, a in ROUTES:
                    assert _res(spark, idx, one, prune=p, agg_impl=a,
                                **kw) == want, (
                        f"{posture} single {q} on route {(p, a)} diverged")
        finally:
            release_warm(idx)


@pytest.mark.parametrize("decode_impl", ["arrow", "pandas"])
@pytest.mark.parametrize("round_dp", [None, 4])
def test_all_routes_rank_identical(spark, r9_index, round_dp, decode_impl,
                                   monkeypatch):
    """Every (prune x agg_impl) route must rank identically, for the
    batch and for each query served alone, cold and warm: unpruned join
    scores from the decoded rows' own df column (a single query as one
    task with a literal weight map), pruned computes its block
    thresholds driver-side from collected metadata, matmul feeds from
    the local qterm relation. Any driver-float slack in the pruning
    bounds may only widen the kept-block superset, never change
    results. Parametrized over BOTH decode kernel twins so the pandas
    df-passthrough variant stays covered."""
    import engine.csearch as cs

    monkeypatch.setattr(cs, "DECODE_IMPL", decode_impl)
    _routes_identical(spark, r9_index, k=10, round_dp=round_dp)


def test_all_routes_rank_identical_tombstoned(spark, r9_dir, tmp_path):
    """The same identity on an index with standing tombstones: every
    route, the one-task single-query plan included, drops deleted docs
    through _finish's anti-join and still ranks exactly like the
    batch."""
    import shutil

    from engine.postings import delete_docs, read_index

    out = str(tmp_path / "r9_tomb")
    shutil.copytree(r9_dir, out)
    dead = {0, 1, 5, 12, 33}
    delete_docs(spark, out, sorted(dead))
    idx = read_index(spark, out)
    assert idx["tombstones"] is not None
    _routes_identical(spark, idx, k=10, round_dp=4)
    qs = spark.createDataFrame(R9_QUERIES, "query_id string, query string")
    assert not dead & {r[1] for r in _res(spark, idx, qs, k=10)}


def test_warm_drift_releases_persisted(spark, r9_index):
    """ADVICE r5 #1: when collection stats drift under a live warm
    index (maintenance landed), search_index must DROP the stale
    persisted postings and warm map — not just serve cold while the
    pre-maintenance bytes stay pinned in executor storage."""
    from engine.csearch import release_warm, warm_serving

    qs = spark.createDataFrame([("q0", "apple fig")],
                               "query_id string, query string")
    cold = _res(spark, r9_index, qs, k=10, prune=False)
    warm_serving(spark, r9_index, payload_cache="memory")
    try:
        assert "warm_persisted" in r9_index
        r9_index["n_docs"] += 1  # simulate a merge landing
        try:
            drifted = _res(spark, r9_index, qs, k=10, prune=False)
        finally:
            r9_index["n_docs"] -= 1
        # the stale warm state must be gone after the drifted call
        assert "warm_persisted" not in r9_index
        assert "warm_tmeta" not in r9_index
        assert len(drifted) > 0
        # and the index serves correctly cold afterwards
        assert _res(spark, r9_index, qs, k=10, prune=False) == cold
    finally:
        release_warm(r9_index)


@pytest.mark.parametrize("degenerate", ["all", "impacts"])
@pytest.mark.parametrize("agg_impl", ["join", "matmul"])
@pytest.mark.parametrize("prune", [False, True])
def test_warm_null_tmeta_degrades(spark, r9_index, prune, agg_impl,
                                  degenerate):
    """ADVICE r5 #2: a warm tmeta row whose collected df/block_max or
    impacts is NULL (foreign or hand-edited index) must never change
    results: the pruned routes read that call's metadata cold instead
    of dropping the term (which lost its weight on matmul and made the
    join route's block thresholds unsound), and the unpruned routes
    score from the payload rows' own df."""
    from engine.csearch import release_warm, warm_serving

    qs = spark.createDataFrame([("q0", "apple fig")],
                               "query_id string, query string")
    cold = _res(spark, r9_index, qs, k=10, prune=prune, agg_impl=agg_impl)
    assert len(cold) > 0
    warm_serving(spark, r9_index, payload_cache=None)
    try:
        df, bmax, _imps = r9_index["warm_tmeta"]["fig"]
        r9_index["warm_tmeta"]["fig"] = (
            (None, None, None) if degenerate == "all" else (df, bmax, None))
        assert _res(spark, r9_index, qs, k=10, prune=prune,
                    agg_impl=agg_impl) == cold
    finally:
        release_warm(r9_index)


def test_bench_headline_bounded():
    """BENCH-artifact canary (round-5 verdict #1/#7): the compact
    scaling-evidence summary attached to the bench headline must stay
    bounded — file pointers + a few scalars per cell, never inlined
    payloads — so the emitted line always stays far below bench.py's
    6 KB degrade guard and parses as one JSON line."""
    import json

    import bench

    ev = bench.scaling_evidence()
    line = json.dumps(ev)
    assert len(line) < 4500, f"scaling evidence grew to {len(line)} chars"
    # every cell is flat: a file pointer plus scalar headline numbers
    for key, cell in ev.items():
        assert isinstance(cell, dict)
        for v in cell.values():
            assert not isinstance(v, (dict, list)), (
                f"{key} inlines a nested payload")
