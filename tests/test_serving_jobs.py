"""Spark job and py4j budgets of the serving routes and of the default
build, and the driver weight's parity with the JVM's idf.

Every route ends in the matmul kernel. At or below
csearch.ONE_TASK_MAX_POSTINGS postings it runs on the driver: the term
metadata, the payload and the tombstone ids are read with pyarrow, the
weights are driver arithmetic (csearch._weight), any rounding is a
projection over a local relation, and the result is an Arrow-backed
local relation, so every route there runs NO Spark job: a batch or a
single query, pruned or not, cold or warm, θ from the stored impacts or
the decode θ, with or without standing tombstones. A query set with no
indexed term is no job on every route. Above the bound the packed plan
runs its decode+pack stage, its doc-bucket exchange and its matmul
stage. Query tables are local relations here, so collecting them adds
no job to the count. Opening the index (read_index) launches no job at
all, warming it (warm_serving) none below the bound, and a default
build writes its serving table in a handful of jobs, with no
partials."""

from __future__ import annotations

import random
import shutil
import uuid

import pytest

DOC_SCHEMA = "doc_id long, text string"
VOCAB = [f"w{i}" for i in range(40)]


def _jobs(spark, fn):
    """(number of Spark jobs fn() launched, its result), counted in a
    job group of its own."""
    sc = spark.sparkContext
    gid = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, "job budget")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(gid)), out


@pytest.fixture(scope="module")
def budget_dir(spark, tmp_path_factory):
    from engine.postings import build_index

    rng = random.Random(3)
    weights = [1.0 / (i + 1) for i in range(len(VOCAB))]
    rows = [(i, " ".join(rng.choices(VOCAB, weights=weights,
                                     k=rng.randint(1, 15))))
            for i in range(400)]
    out = str(tmp_path_factory.mktemp("budget_idx"))
    build_index(spark, spark.createDataFrame(rows, DOC_SCHEMA), out,
                n_shards=2, hot_df_threshold=10**9, n_salts=2)
    return out


@pytest.fixture(scope="module")
def queries(spark):
    from engine.localrel import local_df

    return local_df(
        spark,
        [("q0", "w0 w7"), ("q1", "w3 w12 w1"), ("q2", "w5"),
         ("q3", "w2 w9 absentterm")],
        "query_id string, query string")


def _serve(spark, idx, qs, prune=True, **kw):
    from engine.csearch import search_index

    return sorted(tuple(r) for r in search_index(
        spark, idx, qs, k=10, prune=prune, agg_impl="matmul",
        **kw).collect())


def _without_impacts(idx):
    return dict(idx, postings=idx["postings"].drop("impacts"))


def _tombstoned(spark, budget_dir, tmp_path):
    from engine.postings import delete_docs, read_index

    out = str(tmp_path / "tomb_idx")
    shutil.copytree(budget_dir, out)
    delete_docs(spark, out, [0, 1, 2, 3, 5, 8])
    return read_index(spark, out)


def _spy_decode_theta(monkeypatch):
    """Count the calls of csearch._decode_theta (the list grows by one
    per call)."""
    from engine import csearch

    calls = []
    real = csearch._decode_theta

    def spy(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(csearch, "_decode_theta", spy)
    return calls


def test_impact_theta_drops_exactly_the_decode_theta_jobs(spark, budget_dir,
                                                          queries,
                                                          monkeypatch):
    """Below the bound both θ sources are jobless: θ from the impacts
    and the decode θ (which runs the kernel over the rarest terms on
    the driver) serve the batch in no job, and the decode θ alone is no
    job either. Forced onto the packed plan (bound 0), the decode θ
    adds exactly its own kernel run in front of the same plan."""
    from engine import csearch
    from engine.csearch import _decode_theta, _term_meta, local_query_terms
    from engine.postings import read_index

    idx = read_index(spark, budget_dir)
    assert idx["impact_ranks"] and idx["tombstone_ids"] is None
    calls = _spy_decode_theta(monkeypatch)
    _qt, terms, qt_rows = local_query_terms(spark, queries)
    meta = _term_meta(idx, terms, ())

    def serve(index):
        return _serve(spark, index, queries, cache_level="none")

    for bound, want_imp in ((csearch.ONE_TASK_MAX_POSTINGS, 0), (0, 3)):
        monkeypatch.setattr(csearch, "ONE_TASK_MAX_POSTINGS", bound)
        n_imp, res_imp = _jobs(spark, lambda: serve(idx))
        assert not calls
        n_dec, res_dec = _jobs(spark, lambda: serve(_without_impacts(idx)))
        assert len(calls) == 1
        calls.clear()
        assert res_imp == res_dec and res_imp
        assert n_imp == want_imp, (bound, n_imp)
        # the decode θ on its own, over the same rarest terms
        n_theta, theta = _jobs(spark, lambda: _decode_theta(
            spark, idx, meta, qt_rows, 10, None))
        calls.clear()
        assert theta, bound
        assert n_dec - n_imp == n_theta, (bound, n_imp, n_dec, n_theta)
    assert n_theta > 0


def test_matmul_job_budget(spark, budget_dir, queries, monkeypatch):
    """Below the work bound a matmul batch is no job: pruned cold,
    pruned warm and unpruned, and so is a pruned single query. Forced
    above it (bound 0), the packed plan's three: decode+pack, then the
    matmul stage behind the doc-bucket exchange, then the final window.
    Both plans give the same rows."""
    from engine import csearch
    from engine.localrel import local_df
    from engine.postings import read_index

    idx = read_index(spark, budget_dir)
    n_cold, cold = _jobs(spark, lambda: _serve(spark, idx, queries))
    assert cold and n_cold == 0, n_cold
    n_unpr, unpr = _jobs(
        spark, lambda: _serve(spark, idx, queries, prune=False))
    assert unpr == cold and n_unpr == 0, n_unpr
    one = local_df(spark, [("q1", "w3 w12 w1")],
                   "query_id string, query string")
    n_one, res_one = _jobs(spark, lambda: _serve(spark, idx, one))
    assert res_one == [r for r in cold if r[0] == "q1"] and n_one == 0
    csearch.warm_serving(spark, idx)
    try:
        n_warm, warm = _jobs(spark, lambda: _serve(spark, idx, queries))
    finally:
        csearch.release_warm(idx)
    assert warm == cold and n_warm == 0, n_warm

    monkeypatch.setattr(csearch, "ONE_TASK_MAX_POSTINGS", 0)
    n_packed, packed = _jobs(spark, lambda: _serve(spark, idx, queries))
    assert packed == cold and n_packed == 3, n_packed


def test_tombstoned_index_keeps_decode_theta(spark, budget_dir, queries,
                                             tmp_path, monkeypatch):
    """Standing tombstones send θ to the decode θ whether or not the
    index has impacts, and below the bound the whole call, tombstone
    read included, is no job."""
    idx = _tombstoned(spark, budget_dir, tmp_path)
    assert list(idx["tombstone_ids"]) == [0, 1, 2, 3, 5, 8]
    calls = _spy_decode_theta(monkeypatch)
    n_tomb, res = _jobs(spark, lambda: _serve(spark, idx, queries))
    n_dec, res_dec = _jobs(
        spark, lambda: _serve(spark, _without_impacts(idx), queries))
    assert len(calls) == 2
    assert res == res_dec and res
    assert not {0, 1, 2, 3, 5, 8} & {r[1] for r in res}
    assert n_tomb == n_dec == 0, (n_tomb, n_dec)


def _py4j_calls(spark, fn):
    """(number of py4j commands fn() sent to the JVM from this thread,
    its result). Proxy-release commands are left out: py4j's finalizer
    sends them whenever Python drops a JVM reference, not when the
    engine asks for anything."""
    import threading

    cls = type(spark.sparkContext._gateway._gateway_client)
    real, me, calls = cls.send_command, threading.get_ident(), []

    def spy(self, command, *a, **kw):
        if threading.get_ident() == me and not command.startswith("m\n"):
            calls.append(command)
        return real(self, command, *a, **kw)

    cls.send_command = spy
    try:
        out = fn()
    finally:
        cls.send_command = real
    return len(calls), out


def test_single_query_py4j_budget(spark, budget_dir):
    """Below the bound a single query's path from its query rows to its
    result makes no JVM call: the only py4j traffic of search_index is
    the query collect (_query_term_rows) and the result's
    createDataFrame(pa.Table) — 35 commands, pruned or not, before the
    caller's collect (the metadata, weights, θ, thresholds, payload
    read and kernel are pyarrow/numpy)."""
    from engine.csearch import search_index
    from engine.localrel import local_df
    from engine.postings import read_index

    idx = read_index(spark, budget_dir)
    for prune in ("auto", True):
        got = []
        for _ in range(3):  # the first call may pay one-time lookups
            qs = local_df(spark, [("q1", "w3 w12 w1")],
                          "query_id string, query string")
            n, res = _py4j_calls(spark, lambda: search_index(
                spark, idx, qs, k=10, prune=prune))
            got.append(n)
            assert len(res.collect()) == 10
        assert got[-1] == 35, (prune, got)


def test_driver_idf_parity(spark):
    """csearch._weight at qtf 1 (the idf) against the JVM's
    (search.idf_sql, the one SQL idf expression, evaluated over a local
    relation) on a df grid for several N: every value within 1 ulp. The
    largest gap and the share of unequal values are printed."""
    import math

    from engine.csearch import _weight
    from engine.localrel import local_df
    from engine.search import idf_sql

    worst, n_all, n_diff = (0.0, None), 0, 0
    for n_docs in (3000, 5183, 300_000, 10**7):
        top = min(n_docs, 300_000)
        dfs = sorted(set(range(1, min(top, 2000) + 1))
                     | set(range(1, top + 1, 97))
                     | set(range(max(1, top - 50), top + 1)))
        got = local_df(spark, [(float(d),) for d in dfs], "df double") \
            .selectExpr("df", f"{idf_sql(n_docs)} AS idf").collect()
        assert len(got) == len(dfs)
        for r in got:
            gap = abs(_weight(1.0, r["df"], n_docs) - r["idf"]) / math.ulp(
                r["idf"])
            n_all, n_diff = n_all + 1, n_diff + (gap > 0)
            if gap > worst[0]:
                worst = (gap, (n_docs, r["df"]))
    print(f"driver vs JVM idf: largest gap {worst[0]} ulp at (N, df) = "
          f"{worst[1]}; {n_diff} of {n_all} values differ")
    assert worst[0] <= 1.0, worst


def test_warm_serving_persists_only_above_bound(spark, budget_dir,
                                                monkeypatch):
    """n_docs * avgdl (= Σ tf) bounds Σ df over every term, so when it
    is at most the bound no call can reach the packed plan, and
    warm_serving persists nothing and runs no job; the warm index still
    serves. With the bound at 0 it persists and materializes the
    postings table, which release_warm unpersists."""
    from engine import csearch
    from engine.postings import read_index

    idx = read_index(spark, budget_dir)
    tbl = idx["postings_dset"].to_table(columns=["term", "df"])
    sum_df = sum(dict(zip(tbl.column("term").to_pylist(),
                          tbl.column("df").to_pylist())).values())
    assert 0 < sum_df <= idx["n_docs"] * idx["avgdl"]
    assert idx["n_docs"] * idx["avgdl"] <= csearch.ONE_TASK_MAX_POSTINGS

    def stored():
        """RDDs holding cached blocks (earlier unpersists are
        asynchronous, so this count can only fall on its own)."""
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    before = stored()
    n, _ = _jobs(spark, lambda: csearch.warm_serving(spark, idx))
    assert n == 0 and "warm_persisted" not in idx, n
    assert not idx["postings"].is_cached and stored() <= before
    one = [("q1", "w3 w12 w1")]
    assert _jobs(spark, lambda: _serve_unpruned(spark, idx, one))[0] == 0
    csearch.release_warm(idx)
    assert "warm_stats" not in idx

    monkeypatch.setattr(csearch, "ONE_TASK_MAX_POSTINGS", 0)
    idx = read_index(spark, budget_dir)
    n, _ = _jobs(spark, lambda: csearch.warm_serving(spark, idx))
    try:
        assert n >= 1 and idx["warm_persisted"] is idx["postings"], n
        assert idx["postings"].is_cached and stored() >= 1
    finally:
        csearch.release_warm(idx)
    assert not idx["postings"].is_cached


def test_no_indexed_term_runs_no_job(spark, budget_dir, tmp_path):
    """A query set none of whose terms is in the index returns no rows
    without a job on every route: pruned and not, θ from the impacts
    and the decode θ (k above every impact rank, no impacts, standing
    tombstones) — no tombstone read, persist, θ or kernel."""
    from engine.csearch import search_index
    from engine.localrel import local_df
    from engine.postings import read_index

    idx = read_index(spark, budget_dir)
    qs = local_df(spark, [("q0", "absentterm nowhere"), ("q1", "a the")],
                  "query_id string, query string")
    for index in (idx, _without_impacts(idx),
                  _tombstoned(spark, budget_dir, tmp_path)):
        for prune, k in ((True, 10), (True, 500), (False, 10)):
            n, rows = _jobs(spark, lambda: search_index(
                spark, index, qs, k=k, prune=prune).collect())
            assert (n, rows) == (0, []), (prune, k)


def test_default_build_job_budget(spark, tmp_path):
    """A default build (one shard batch) writes doc_stats, the term
    dictionary and the serving table in at most 7 Spark jobs — the
    token rows and the dictionary rows share one exchange into the
    merge kernel — and leaves no partials dir."""
    import os

    from engine.postings import build_index, load_manifest

    rng = random.Random(4)
    rows = [(i, " ".join(rng.choices(VOCAB, k=rng.randint(1, 15))))
            for i in range(300)]
    docs = spark.createDataFrame(rows, DOC_SCHEMA)
    out = str(tmp_path / "idx")
    n, m = _jobs(spark, lambda: build_index(spark, docs, out, n_shards=4))
    assert m["merged"] and m["postings_dir"] == "postings_v1"
    assert not os.path.exists(os.path.join(out, "partials"))
    assert n <= 7, n
    assert load_manifest(out)["stats"]["n_docs"] == 300


def _serve_unpruned(spark, idx, rows):
    """The unpruned route at the default agg_impl; scores to 9 dp."""
    from engine.csearch import search_index
    from engine.localrel import local_df

    qs = local_df(spark, rows, "query_id string, query string")
    return sorted((r.query_id, r.doc_id, round(r.score, 9), r.rank)
                  for r in search_index(spark, idx, qs, k=10,
                                        prune=False).collect())


def test_unpruned_job_budget(spark, budget_dir, tmp_path):
    """The unpruned route below the bound is no job: cold single, warm
    single, stop-word-only query, a 2-query batch, and a single on a
    tombstoned index."""
    from engine.csearch import release_warm, warm_serving
    from engine.postings import read_index

    idx = read_index(spark, budget_dir)
    one = [("q0", "w3 w12 w1 w3")]
    n_cold, cold = _jobs(spark, lambda: _serve_unpruned(spark, idx, one))
    assert cold and n_cold == 0, n_cold
    assert _jobs(spark, lambda: _serve_unpruned(
        spark, idx, [("q0", "a the")])) == (0, [])
    n_batch, batch = _jobs(spark, lambda: _serve_unpruned(
        spark, idx, one + [("q1", "w5 w0")]))
    assert [r for r in batch if r[0] == "q0"] == cold
    assert n_batch == 0, n_batch

    warm_serving(spark, idx)
    try:
        n_warm, warm = _jobs(spark, lambda: _serve_unpruned(spark, idx, one))
    finally:
        release_warm(idx)
    assert warm == cold and n_warm == 0, n_warm

    tomb = _tombstoned(spark, budget_dir, tmp_path)
    n_tomb, res = _jobs(spark, lambda: _serve_unpruned(spark, tomb, one))
    assert res and not {0, 1, 2, 3, 5, 8} & {r[1] for r in res}
    assert n_tomb == 0, n_tomb


def test_read_index_runs_no_job(spark, budget_dir, tmp_path):
    """read_index takes n_docs/avgdl from the committed manifest, the
    postings schema from a parquet footer and the tombstone ids from
    the listed dirs, all on the driver: opening an index, with or
    without standing tombstones, launches no Spark job."""
    from engine.postings import delete_docs, read_index

    n, idx = _jobs(spark, lambda: read_index(spark, budget_dir))
    assert n == 0, n
    assert idx["n_docs"] == 400 and idx["tombstone_ids"] is None
    out = str(tmp_path / "tomb_idx")
    shutil.copytree(budget_dir, out)
    delete_docs(spark, out, [0, 1])
    n, idx = _jobs(spark, lambda: read_index(spark, out))
    assert n == 0, n
    assert list(idx["tombstone_ids"]) == [0, 1]
