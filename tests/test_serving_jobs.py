"""Spark job budgets of the serving routes.

Pruned: θ from the stored impacts launches no job of its own, so a cold
pruned batch runs exactly the decode θ's jobs fewer than the decode
route; an index with standing tombstones keeps the decode θ.

Unpruned join below the spread bar: a single query, cold or warm, is
one job (one task, no broadcast, no exchange); a query with no indexed
term is none; a batch keeps its broadcast-join plan. Query tables are
local relations here, so collecting them adds no job to the count."""

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
    return spark.createDataFrame(
        [("q0", "w0 w7"), ("q1", "w3 w12 w1"), ("q2", "w5"),
         ("q3", "w2 w9 absentterm")],
        "query_id string, query string")


def _serve(spark, idx, qs):
    from engine.csearch import search_index

    return sorted(tuple(r) for r in search_index(
        spark, idx, qs, k=10, prune=True, agg_impl="matmul").collect())


def _without_impacts(idx):
    return dict(idx, postings=idx["postings"].drop("impacts"))


def _tombstoned(spark, budget_dir, tmp_path):
    from engine.postings import delete_docs, read_index

    out = str(tmp_path / "tomb_idx")
    shutil.copytree(budget_dir, out)
    delete_docs(spark, out, [0, 1, 2, 3, 5, 8])
    return read_index(spark, out)


def test_impact_theta_drops_exactly_the_decode_theta_jobs(spark, budget_dir,
                                                          queries):
    from engine.csearch import (_decode_theta, _pb_pruned_postings,
                                _term_meta, local_query_terms)
    from engine.localrel import in_list
    from engine.postings import read_index

    idx = read_index(spark, budget_dir)
    assert idx["impact_ranks"] and idx["tombstones"] is None
    n_imp, res_imp = _jobs(spark, lambda: _serve(spark, idx, queries))
    n_dec, res_dec = _jobs(
        spark, lambda: _serve(spark, _without_impacts(idx), queries))
    assert res_imp == res_dec and res_imp

    # the decode θ on its own, over the same payload filter
    _qt, terms, qt_rows = local_query_terms(spark, queries)
    pay = (_pb_pruned_postings(idx, terms)
           .where(in_list("term", terms)).cache())
    try:
        meta = _term_meta(pay, ())
        n_theta, theta = _jobs(spark, lambda: _decode_theta(
            spark, pay, meta, qt_rows, 10, idx["n_docs"], idx["avgdl"],
            False, None))
    finally:
        pay.unpersist()
    assert theta and n_theta >= 1
    assert n_dec - n_imp == n_theta, (n_imp, n_dec, n_theta)


def test_tombstoned_index_keeps_decode_theta(spark, budget_dir, queries,
                                             tmp_path):
    idx = _tombstoned(spark, budget_dir, tmp_path)
    assert idx["tombstones"] is not None
    n_tomb, res = _jobs(spark, lambda: _serve(spark, idx, queries))
    n_dec, res_dec = _jobs(
        spark, lambda: _serve(spark, _without_impacts(idx), queries))
    assert res == res_dec and res
    assert not {0, 1, 2, 3, 5, 8} & {r[1] for r in res}
    # same route, same jobs: the impacts were not used
    assert n_tomb == n_dec, (n_tomb, n_dec)


def _serve_join(spark, idx, rows):
    """Unpruned join route; scores to 9 dp, as a single query may sum a
    doc's terms in another order than the batch's partial aggregates."""
    from engine.csearch import search_index
    from engine.localrel import local_df

    qs = local_df(spark, rows, "query_id string, query string")
    return sorted((r.query_id, r.doc_id, round(r.score, 9), r.rank)
                  for r in search_index(spark, idx, qs, k=10, prune=False,
                                        agg_impl="join").collect())


def test_unpruned_join_job_budget(spark, budget_dir, tmp_path):
    """The single-query plan's budget next to the plans it does not
    touch: cold single 1, warm single 1, stop-word-only query 0, a
    single on a tombstoned index 4 (two for the tombstone set's
    distinct read, one for its broadcast anti-join, the plan), a
    2-query batch 4 (the qtf broadcast, two exchanges, the final
    stage)."""
    from engine.csearch import release_warm, warm_serving
    from engine.postings import read_index

    idx = read_index(spark, budget_dir)
    one = [("q0", "w3 w12 w1 w3")]
    n_cold, cold = _jobs(spark, lambda: _serve_join(spark, idx, one))
    assert cold and n_cold == 1, n_cold
    assert _jobs(spark, lambda: _serve_join(
        spark, idx, [("q0", "a the")])) == (0, [])
    n_batch, batch = _jobs(spark, lambda: _serve_join(
        spark, idx, one + [("q1", "w5 w0")]))
    assert [r for r in batch if r[0] == "q0"] == cold
    assert n_batch == 4, n_batch

    warm_serving(spark, idx)
    try:
        n_warm, warm = _jobs(spark, lambda: _serve_join(spark, idx, one))
    finally:
        release_warm(idx)
    assert warm == cold and n_warm == 1, n_warm

    tomb = _tombstoned(spark, budget_dir, tmp_path)
    n_tomb, res = _jobs(spark, lambda: _serve_join(spark, tomb, one))
    assert res and not {0, 1, 2, 3, 5, 8} & {r[1] for r in res}
    assert n_tomb == 4, n_tomb
