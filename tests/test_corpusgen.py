"""Synthetic source-code corpus generator (FIXTURES.md section 1,
input_hint shape) + end-to-end engine run over that shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from engine.corpusgen import LANGS, VOCAB, synth_corpus


def test_shape_and_determinism(spark):
    a = synth_corpus(spark, 300)
    assert [f.name for f in a.schema.fields] == [
        "doc_id", "repo", "path", "commit", "lang", "content"
    ]
    rows_a = {r.doc_id: r for r in a.collect()}
    rows_b = {r.doc_id: r for r in synth_corpus(spark, 300).collect()}
    assert len(rows_a) == 300
    for k in rows_a:
        assert rows_a[k] == rows_b[k]
    r = rows_a[0]
    assert len(r.commit) == 40 and all(c in "0123456789abcdef" for c in r.commit)
    assert r.lang in LANGS
    assert 20 <= len(r.content.split()) <= 400


def test_seed_changes_content(spark):
    a = synth_corpus(spark, 50, seed=1).agg(F.sum(F.crc32("content"))).first()[0]
    b = synth_corpus(spark, 50, seed=2).agg(F.sum(F.crc32("content"))).first()[0]
    assert a != b


def test_zipf_skew_present(spark):
    """Hot keywords must dominate; rare identifiers must exist (the
    skew-split and long-tail test data properties)."""
    toks = (
        synth_corpus(spark, 500)
        .select(F.explode(F.split("content", " ")).alias("t"))
        .groupBy("t").count().collect()
    )
    counts = {r.t: r["count"] for r in toks}
    hot = counts.get("def", 0) + counts.get("class", 0)
    rare = [c for t, c in counts.items() if t.startswith("rare")]
    assert hot > 50 * (max(rare) if rare else 1) / 10
    assert rare and min(rare) >= 1
    assert len(counts) > 300  # long tail realized


def test_engine_end_to_end_on_input_hint_shape(spark, tmp_path):
    """BM25 over the (repo,path,commit,lang,content) corpus shape:
    build -> search -> rank-identical to the pandas oracle; content
    sha256 row invariant holds."""
    import hashlib

    from engine.csearch import search_index
    from engine.postings import build_index, read_index

    from .oracle import bm25_topk

    corpus = synth_corpus(spark, 400)
    out = str(tmp_path / "cidx")
    build_index(spark, corpus, out, n_shards=4, hot_df_threshold=150,
                n_salts=4, text_col="content")

    # row invariant: sha256(content) per row vs source (stored as the
    # raw 32-byte digest)
    ds = spark.read.parquet(out + "/doc_stats").collect()
    src = {r.doc_id: r.content for r in corpus.collect()}
    assert len(ds) == 400
    for r in ds[:40]:
        assert bytes(r.content_sha) == hashlib.sha256(
            src[r.doc_id].encode()).digest()

    queries = spark.createDataFrame(
        [("c1", "def class import"), ("c2", "rare1"), ("c3", "ident5 return")],
        ["query_id", "query"],
    )
    idx = read_index(spark, out)
    got = sorted(
        (r.query_id, r.doc_id, r.rank)
        for r in search_index(spark, idx, queries, k=10, prune=True).collect()
    )
    golden = bm25_topk([(d, t) for d, t in src.items()],
                       [("c1", "def class import"), ("c2", "rare1"),
                        ("c3", "ident5 return")], k=10)
    want = sorted((q, d, rk) for q, d, s, rk in golden)
    assert got == want


def test_synth_queries_deterministic_and_hit_corpus(spark):
    """synth_queries (the serving-side scaling input): deterministic in
    (seed, query_id), term counts within bounds, and every term drawn
    from the corpus vocabulary generator — so the scaling batch probes
    real posting lists."""
    from engine.corpusgen import VOCAB, synth_queries

    a = {r.query_id: r.query for r in synth_queries(spark, 60).collect()}
    b = {r.query_id: r.query for r in synth_queries(spark, 60).collect()}
    assert a == b and len(a) == 60
    vocab = set(VOCAB)
    for q in a.values():
        terms = q.split()
        assert 2 <= len(terms) <= 5
        assert all(t in vocab for t in terms)

    # large-vocab variant: tail terms use the same t<idx> naming the
    # corpus generator emits
    lv = synth_queries(spark, 200, vocab_size=300_000).collect()
    tail = [t for r in lv for t in r.query.split() if t.startswith("t")
            and t[1:].isdigit()]
    assert tail, "zipf tail terms should appear in a 200-query draw"
    assert all(int(t[1:]) <= 300_000 for t in tail)
