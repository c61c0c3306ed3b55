"""Round-6 optimization tests: serving-route identity against the
test oracle after the action-count restructure (driver-side prune
thresholds, the kernel on the driver and as the packed plan), the warm
stats-drift release
(ADVICE r5 #1/#2), and the bench headline-size canary."""

from __future__ import annotations

import os

import pytest

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


#: tie-heavy corpus: repeated docs produce equal scores so the
#: (score desc, doc_id asc) tie-break is exercised on every route
R9_DOCS = [(i, f"apple banana {'fig ' * (i % 3)}cherry t{i % 5}")
           for i in range(60)]


@pytest.fixture(scope="module")
def r9_dir(spark, tmp_path_factory):
    from engine.postings import build_index

    out = str(tmp_path_factory.mktemp("r9_idx"))
    docs = spark.createDataFrame(
        [(i, text, "en", "s", 30) for i, text in R9_DOCS], DOC_SCHEMA)
    build_index(spark, docs, out, n_shards=2, hot_df_threshold=20,
                n_salts=2)
    return out


@pytest.fixture(scope="module")
def r9_index(spark, r9_dir):
    from engine.postings import read_index

    return read_index(spark, r9_dir)


#: q'2's id holds a quote, which no SQL literal renders portably: every
#: route must still carry the id exactly
R9_QUERIES = [("q0", "apple fig"), ("q1", "banana t3 zzz_absent"),
              ("q'2", "cherry cherry apple")]


def _res(spark, idx, qs, packed=False, **kw):
    """search_index rows, scores to 9 dp. packed=True forces the
    kernel's packed plan (a driver-route bound of 0)."""
    from engine import csearch

    with pytest.MonkeyPatch.context() as mp:
        if packed:
            mp.setattr(csearch, "ONE_TASK_MAX_POSTINGS", 0)
        return sorted(
            (r.query_id, r.doc_id, round(r.score, 9), r.rank)
            for r in csearch.search_index(spark, idx, qs, **kw).collect()
        )


#: (prune, packed): every route, the kernel on both of its plans
ROUTES = [(p, packed) for p in (False, True) for packed in (False, True)]


def _oracle(queries, k, round_dp=None, dead=frozenset()):
    from .oracle import bm25_topk

    return bm25_topk(R9_DOCS, queries, k=k, round_dp=round_dp, dead=dead)


def _routes_identical(spark, idx, k, round_dp, dead=frozenset()):
    """Serve R9_QUERIES as one batch on every (prune x kernel plan)
    route, then each query alone on every route, cold and then warm:
    all must return the test oracle's top-k (rows, scores to 9 dp,
    ranks)."""
    from engine.csearch import release_warm, warm_serving

    from .oracle import assert_matches_topk

    qs = spark.createDataFrame(R9_QUERIES, "query_id string, query string")
    want = _oracle(R9_QUERIES, k, round_dp, dead)
    assert {r[0] for r in want} == {q for q, _ in R9_QUERIES}
    for p, packed in ROUTES:
        assert_matches_topk(_res(spark, idx, qs, packed, prune=p, k=k,
                                 round_dp=round_dp), want)
    singles = [(q, spark.createDataFrame([(q, text)],
                                         "query_id string, query string"))
               for q, text in R9_QUERIES]
    for posture in ("cold", "warm"):
        if posture == "warm":
            warm_serving(spark, idx)
        try:
            for q, one in singles:
                for p, packed in ROUTES:
                    assert_matches_topk(
                        _res(spark, idx, one, packed, prune=p, k=k,
                             round_dp=round_dp),
                        [r for r in want if r[0] == q])
        finally:
            release_warm(idx)


@pytest.mark.parametrize("round_dp", [None, 4])
def test_all_routes_rank_identical(spark, r9_index, round_dp):
    """Every (prune x kernel plan) route must return the oracle's
    top-k, for the batch and for each query served alone, cold and
    warm: pruned computes its block thresholds driver-side from the
    metadata read on the driver, and the kernel runs on the driver and,
    forced, as the packed plan. Any driver-float slack in the pruning
    bounds may only widen the kept-block superset, never change
    results."""
    _routes_identical(spark, r9_index, k=10, round_dp=round_dp)


def test_all_routes_rank_identical_tombstoned(spark, r9_dir, tmp_path):
    """The same identity on an index with standing tombstones: every
    route, the driver route included, drops the deleted docs in the
    kernel (pruned, also in the decode θ's kernel, which a tombstoned
    index takes) and returns the oracle's top-k over the live docs."""
    import shutil

    from engine.postings import delete_docs, read_index

    out = str(tmp_path / "r9_tomb")
    shutil.copytree(r9_dir, out)
    dead = {0, 1, 5, 12, 33}
    delete_docs(spark, out, sorted(dead))
    idx = read_index(spark, out)
    assert list(idx["tombstone_ids"]) == sorted(dead)
    _routes_identical(spark, idx, k=10, round_dp=4, dead=dead)
    qs = spark.createDataFrame(R9_QUERIES, "query_id string, query string")
    assert not dead & {r[1] for r in _res(spark, idx, qs, k=10)}


def test_warm_drift_releases_persisted(spark, r9_index, monkeypatch):
    """ADVICE r5 #1: when collection stats drift under a live warm
    index (maintenance landed), search_index must DROP the stale
    persisted postings and warm stats — not just serve cold while the
    pre-maintenance bytes stay pinned in executor storage. The bound is
    0 so that warm_serving persists (it does only when a call can reach
    the packed plan)."""
    from engine import csearch
    from engine.csearch import release_warm, warm_serving

    qs = spark.createDataFrame([("q0", "apple fig")],
                               "query_id string, query string")
    cold = _res(spark, r9_index, qs, k=10, prune=False)
    monkeypatch.setattr(csearch, "ONE_TASK_MAX_POSTINGS", 0)
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
        assert "warm_stats" not in r9_index
        assert len(drifted) > 0
        # and the index serves correctly cold afterwards
        assert _res(spark, r9_index, qs, k=10, prune=False) == cold
    finally:
        release_warm(r9_index)


def _null_fig_rows(src: str, dst: str, cols: tuple, every: bool) -> None:
    """Copy the index at src to dst, then set `cols` to NULL with
    pyarrow on one (every=False) or every serving row of the term
    'fig', which the r9 fixture splits into several chunk rows."""
    import glob
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from engine.postings import _postings_dir

    shutil.copytree(src, dst)
    n_rows = 0
    for f in sorted(glob.glob(os.path.join(_postings_dir(dst), "*",
                                           "*.parquet"))):
        tbl = pq.read_table(f)
        terms = tbl.column("term").to_pylist()
        hit = [i for i, t in enumerate(terms) if t == "fig"]
        n_rows += len(hit)
        if not hit or (n_rows > len(hit) and not every):
            continue
        for c in cols:
            vals = tbl.column(c).to_pylist()
            for i in (hit if every else hit[:1]):
                vals[i] = None
            j = tbl.schema.get_field_index(c)
            tbl = tbl.set_column(j, tbl.schema.field(j).with_nullable(True),
                                 pa.array(vals, type=tbl.schema.field(j).type))
        pq.write_table(tbl, f)
        # the rewritten file no longer matches Spark's checksum file
        crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
        if os.path.exists(crc):
            os.remove(crc)
    assert n_rows > 1


@pytest.fixture(scope="module")
def degenerate_dirs(r9_dir, tmp_path_factory):
    """'all': one of fig's chunk rows without its block-max and impacts;
    'impacts': every fig row without its impacts; 'df': one fig row
    without its df."""
    out = {}
    for name, cols, every in (("all", ("block_max", "impacts"), False),
                              ("impacts", ("impacts",), True),
                              ("df", ("df",), False)):
        out[name] = str(tmp_path_factory.mktemp(f"r9_null_{name}"))
        os.rmdir(out[name])
        _null_fig_rows(r9_dir, out[name], cols, every)
    return out


@pytest.mark.parametrize("degenerate", ["all", "impacts"])
@pytest.mark.parametrize("agg_impl", ["auto", "matmul"])
@pytest.mark.parametrize("prune", [False, True])
def test_warm_null_tmeta_degrades(spark, degenerate_dirs, prune, agg_impl,
                                  degenerate):
    """ADVICE r5 #2: NULL term metadata in the serving rows (a foreign
    or hand-edited index) must never change results, cold or warm, on
    either kernel plan or either accepted agg_impl value.
    'all': the driver read leaves fig's block-max NULL although its
    other chunks hold one — a max over those could understate it — so
    the pruned routes keep every block of a query holding fig.
    'impacts': θ skips fig's missing impacts."""
    from engine.csearch import _term_meta, release_warm, warm_serving
    from engine.postings import read_index

    from .oracle import assert_matches_topk

    query = [("q0", "apple fig")]
    qs = spark.createDataFrame(query, "query_id string, query string")
    want = _oracle(query, 10)
    assert len(want) > 0
    idx = read_index(spark, degenerate_dirs[degenerate])
    df, bmax, imps = _term_meta(idx, ["fig"], idx["impact_ranks"])["fig"]
    assert df == 40
    assert (bmax is None) == (degenerate == "all")
    assert imps == (None, None) or degenerate == "all"
    for posture in ("cold", "warm"):
        if posture == "warm":
            warm_serving(spark, idx)
        try:
            for packed in (False, True):
                assert_matches_topk(_res(spark, idx, qs, packed, k=10,
                                         prune=prune, agg_impl=agg_impl),
                                    want)
        finally:
            release_warm(idx)


@pytest.mark.parametrize("prune", [False, True])
def test_null_df_chunk_keeps_term_weight(spark, degenerate_dirs, prune):
    """One of fig's chunk rows without its df: every chunk carries the
    term's full df, so the driver read takes it from the others, and
    every route, which weights each term from that read, ranks exactly
    as the oracle on the intact corpus — the default route
    (prune='auto', default agg_impl) too, for a batch and for a single
    query."""
    from engine.csearch import _term_meta
    from engine.postings import read_index

    from .oracle import assert_matches_topk

    queries = [("q0", "apple fig"), ("q1", "fig")]
    qs = spark.createDataFrame(queries, "query_id string, query string")
    one = spark.createDataFrame(queries[:1], "query_id string, query string")
    idx = read_index(spark, degenerate_dirs["df"])
    assert _term_meta(idx, ["fig"], ())["fig"][0] == 40
    want = _oracle(queries, 10)
    for packed in (False, True):
        assert_matches_topk(_res(spark, idx, qs, packed, k=10, prune=prune,
                                 agg_impl="matmul"), want)
    assert_matches_topk(_res(spark, idx, qs, k=10), want)
    assert_matches_topk(_res(spark, idx, one, k=10),
                        [r for r in want if r[0] == "q0"])


def test_keep_blocks_rule():
    """The one block-keep rule both kernel plans apply: a row keeps
    exactly the blocks whose raw block-max reaches its term's
    threshold; no threshold, a -inf one or no block-max list keeps
    every block (None: full decode); a NULL block-max keeps its
    block."""
    from engine.csearch import _keep_blocks

    assert list(_keep_blocks([0.5, 2.0, 1.0], 1.0)) == [1, 2]
    assert list(_keep_blocks([0.5, 0.7], 1.0)) == []
    assert list(_keep_blocks([0.5, None, 3.0], 1.0)) == [1, 2]
    for bm, th in (([0.5, 2.0], None), ([0.5, 2.0], float("-inf")),
                   (None, 1.0)):
        assert _keep_blocks(bm, th) is None


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
