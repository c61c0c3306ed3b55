"""Codec round-trip, checkpointed build, resumability, and compressed
query path rank-identity (SURVEY.md section 5 items 1, 2, 6)."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from engine.codec import (
    BLOCK_SIZE, decode_blocked, encode_blocked, varbyte_decode, varbyte_encode,
)
from engine.postings import build_index, load_manifest, read_index
from engine.csearch import search_index
from engine.queries_set import REFERENCE_QUERIES, queries_df
from engine.search import search_corpus

from .oracle import bm25_topk


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varbyte_roundtrip(vals):
    a = np.array(vals, dtype=np.uint64)
    out = varbyte_decode(varbyte_encode(a))
    assert out.tolist() == vals


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**40),
            st.integers(min_value=1, max_value=1000),
            st.integers(min_value=0, max_value=10000),
        ),
        min_size=1,
        max_size=500,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=100, deadline=None)
def test_blocked_roundtrip(postings):
    d = np.array([p[0] for p in postings], dtype=np.int64)
    t = np.array([p[1] for p in postings], dtype=np.int64)
    dl = np.array([p[2] for p in postings], dtype=np.int64)
    enc = encode_blocked(d, t, dl, avgdl=100.0)
    dd, tt, ll = decode_blocked(
        enc["doc_bytes"], enc["tf_bytes"], enc["dl_bytes"],
        enc["doc_off"], enc["tf_off"], enc["dl_off"],
    )
    order = np.argsort(d, kind="stable")
    assert dd.tolist() == d[order].tolist()
    assert tt.tolist() == t[order].tolist()
    assert ll.tolist() == dl[order].tolist()
    n_blocks = (len(postings) + BLOCK_SIZE - 1) // BLOCK_SIZE
    assert len(enc["block_last"]) == n_blocks
    assert enc["block_last"][-1] == int(d[order][-1])


def test_blocked_partial_decode():
    n = 5 * BLOCK_SIZE + 17
    d = np.arange(0, n * 3, 3, dtype=np.int64)
    t = np.arange(1, n + 1, dtype=np.int64)
    dl = np.full(n, 50, dtype=np.int64)
    enc = encode_blocked(d, t, dl, avgdl=50.0)
    keep = [1, 4]
    dd, tt, ll = decode_blocked(
        enc["doc_bytes"], enc["tf_bytes"], enc["dl_bytes"],
        enc["doc_off"], enc["tf_off"], enc["dl_off"], keep=keep,
    )
    want = np.concatenate([d[BLOCK_SIZE:2 * BLOCK_SIZE], d[4 * BLOCK_SIZE:5 * BLOCK_SIZE]])
    assert dd.tolist() == want.tolist()
    assert tt.size == 2 * BLOCK_SIZE


@pytest.fixture(scope="module")
def index_dir(spark, documents, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx"))
    build_index(spark, documents, out, n_shards=4,
                hot_df_threshold=100, n_salts=4)
    return out


def test_build_manifest_lineage(index_dir):
    m = load_manifest(index_dir)
    assert m["merged"] is True
    assert len(m["shards"]) == 4
    for s in m["shards"].values():
        assert s["status"] == "ok"
        assert s["n_postings"] > 0 and s["wall_ms"] >= 0
    assert m["stats"]["n_docs"] == 500


def test_hot_terms_are_salted(spark, index_dir):
    idx = read_index(spark, index_dir)
    import pyspark.sql.functions as F

    per_term = idx["postings"].groupBy("term").agg(
        F.count(F.lit(1)).alias("rows"), F.max("df").alias("df")
    ).collect()
    hot = [r for r in per_term if r["df"] > 100]
    cold = [r for r in per_term if r["df"] <= 100]
    assert hot and all(r["rows"] > 1 for r in hot)      # split rows
    assert all(r["rows"] == 1 for r in cold)            # merged to one


def test_salt_rows_cover_df_exactly(spark, index_dir):
    import pyspark.sql.functions as F

    idx = read_index(spark, index_dir)
    bad = idx["postings"].groupBy("term", "df").agg(
        F.sum("n_docs").alias("n")
    ).where(F.col("n") != F.col("df")).count()
    assert bad == 0


def test_compressed_search_rank_identity(spark, documents, index_dir):
    """Compressed+pruned path == uncompressed path == pandas oracle."""
    docs = [(r.doc_id, r.text) for r in documents.select("doc_id", "text").collect()]
    golden = {
        (q, d): (s, r) for q, d, s, r in bm25_topk(docs, list(REFERENCE_QUERIES), k=10)
    }
    idx = read_index(spark, index_dir)
    for prune in (False, True):
        res = search_index(spark, idx, queries_df(spark), k=10, prune=prune).collect()
        got = {(r.query_id, r.doc_id): (r.score, r.rank) for r in res}
        assert set(got) == set(golden), f"prune={prune}"
        for key, (s, rk) in got.items():
            gs, grk = golden[key]
            assert rk == grk and s == pytest.approx(gs, rel=1e-9), (key, prune)


def test_resumability(spark, documents, tmp_path):
    """Kill at the second shard-batch commit, re-run, identical final
    postings (section 5.6)."""
    out = str(tmp_path / "idx2")

    class Boom(Exception):
        pass

    import engine.postings as P

    orig = P._commit
    shard_commits = []

    def sabotage(out_dir, m, op):
        if op == "shards":
            shard_commits.append(m["generation"])
            if len(shard_commits) == 2:  # stats + shard 0 committed
                raise Boom()
        return orig(out_dir, m, op)

    P._commit = sabotage
    try:
        with pytest.raises(Boom):
            build_index(spark, documents, out, n_shards=4,
                        hot_df_threshold=100, n_salts=4, shard_batch=1)
    finally:
        P._commit = orig

    m = load_manifest(out)
    done_before = set(m["shards"])
    assert 0 < len(done_before) < 4 and not m["merged"]
    assert m["stats"] is not None  # committed with the first batch

    build_index(spark, documents, out, n_shards=4,
                hot_df_threshold=100, n_salts=4, shard_batch=1)
    m2 = load_manifest(out)
    assert m2["merged"] and len(m2["shards"]) == 4

    idx = read_index(spark, out)
    res = search_index(spark, idx, queries_df(spark), k=10, prune=True)
    docs = [(r.doc_id, r.text) for r in documents.select("doc_id", "text").collect()]
    golden = bm25_topk(docs, list(REFERENCE_QUERIES), k=10)
    got = sorted((r.query_id, r.doc_id, r.rank) for r in res.collect())
    want = sorted((q, d, rk) for q, d, s, rk in golden)
    assert got == want
    shutil.rmtree(out, ignore_errors=True)


def test_block_max_pruning_skips_blocks(spark, tmp_path):
    """On a corpus where one term has few high-tf docs and thousands of
    tf=1 docs, phase-1 theta must prune most blocks of that term's list
    while results stay rank-identical to the unpruned plan."""
    from engine.csearch import pruning_stats

    rows = []
    for i in range(15):  # high-tf docs: "spark" x10
        rows.append((i, "spark " * 10 + "filler"))
    for i in range(15, 4000):  # long tail: single "spark" + noise
        rows.append((i, f"spark pad{i % 7} filler other tokens here"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = str(tmp_path / "pidx")
    build_index(spark, docs, out, n_shards=2, hot_df_threshold=10000, n_salts=2)
    idx = read_index(spark, out)
    q = spark.createDataFrame([("q", "spark")], ["query_id", "query"])

    stats = pruning_stats(spark, idx, q, k=10)
    assert stats["total_blocks"] > 20
    assert stats["pruned_fraction"] > 0.5, stats

    pruned = search_index(spark, idx, q, k=10, prune=True).collect()
    full = search_index(spark, idx, q, k=10, prune=False).collect()
    assert sorted((r.query_id, r.doc_id, r.rank) for r in pruned) == \
        sorted((r.query_id, r.doc_id, r.rank) for r in full)
    assert {r.doc_id for r in pruned} <= set(range(15))
