"""Randomized end-to-end sweeps: the compressed pruned serving path
must be rank-identical to the long-form (uncompressed) pipeline on
arbitrary corpora, and repeated stream-ingest/merge cycles must
converge to exactly what a from-scratch batch build of the same corpus
produces."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"

VOCAB = (["def", "import", "merge", "row", "batch", "spark", "index"]
         + [f"w{i}" for i in range(60)])


def _rand_docs(rng: random.Random, n: int, id0: int = 0):
    rows = []
    for i in range(n):
        k = rng.randint(0, 12)  # includes empty docs
        text = " ".join(rng.choice(VOCAB) for _ in range(k))
        rows.append((id0 + i, text, "en", "s", len(text)))
    return rows


def _topk_sig(rows):
    return sorted((r.query_id, r.doc_id, round(r.score, 9), r.rank)
                  for r in rows)


def test_fuzz_compressed_pruned_rank_identity(spark, tmp_path_factory):
    """5 random corpora x random queries: compressed+pruned search ==
    the long-form DataFrame pipeline (tf/df/dl from first principles),
    exercising ties, empty docs, absent terms, single-posting lists,
    and hot-term salting."""
    from engine.csearch import search_index
    from engine.postings import build_index, read_index
    from engine.search import search_corpus

    for seed in range(5):
        rng = random.Random(seed)
        docs = spark.createDataFrame(_rand_docs(rng, rng.randint(5, 60)),
                                     DOC_SCHEMA)
        qrows = [(f"q{j}",
                  " ".join(rng.choice(VOCAB + ["absentterm"])
                           for _ in range(rng.randint(1, 4))))
                 for j in range(4)]
        qs = spark.createDataFrame(qrows, "query_id string, query string")
        out = str(tmp_path_factory.mktemp(f"fz{seed}"))
        build_index(spark, docs, out, n_shards=2,
                    hot_df_threshold=rng.choice([2, 10**9]), n_salts=2,
                    id_col="doc_id", text_col="text")
        idx = read_index(spark, out)
        got = _topk_sig(search_index(spark, idx, qs, k=7,
                                     prune=True).collect())
        want = _topk_sig(search_corpus(spark, docs, qs, k=7).collect())
        assert got == want, f"seed {seed}: pruned-compressed != long-form"


def test_fuzz_stream_cycles_converge_to_batch_build(spark,
                                                    tmp_path_factory):
    """Three append-only micro-batch ingest+merge cycles (mixed
    incremental/full merges chosen by auto) must serve exactly what one
    batch build over the union corpus serves."""
    from engine.csearch import search_index
    from engine.postings import build_index, merge_partials, read_index
    from engine.streaming import start_incremental_index

    rng = random.Random(99)
    base_rows = _rand_docs(rng, 30)
    out = str(tmp_path_factory.mktemp("cyc_idx"))
    inp = str(tmp_path_factory.mktemp("cyc_in"))
    build_index(spark, spark.createDataFrame(base_rows, DOC_SCHEMA), out,
                n_shards=2, hot_df_threshold=10**9, n_salts=2,
                id_col="doc_id", text_col="text")
    all_rows = list(base_rows)
    for cycle in range(3):
        new_rows = _rand_docs(rng, 6, id0=1000 + 100 * cycle)
        all_rows += new_rows
        spark.createDataFrame(new_rows, DOC_SCHEMA).write.mode(
            "append").parquet(inp + "/drop")
        q = start_incremental_index(spark, inp + "/drop", out,
                                    avgdl_hint=5.0)
        q.awaitTermination(120)
        merge_partials(spark, out, hot_df_threshold=10**9, n_salts=2)

    ref = str(tmp_path_factory.mktemp("cyc_ref"))
    build_index(spark, spark.createDataFrame(all_rows, DOC_SCHEMA), ref,
                n_shards=2, hot_df_threshold=10**9, n_salts=2,
                id_col="doc_id", text_col="text")
    qs = spark.createDataFrame(
        [("q0", "merge row"), ("q1", "def import w3"), ("q2", "w11")],
        "query_id string, query string")
    idx_s = read_index(spark, out)
    idx_b = read_index(spark, ref)
    assert idx_s["n_docs"] == idx_b["n_docs"] == len(all_rows)
    got = _topk_sig(search_index(spark, idx_s, qs, k=10,
                                 prune=True).collect())
    want = _topk_sig(search_index(spark, idx_b, qs, k=10,
                                  prune=True).collect())
    assert got == want


def _zipf_docs(rng: random.Random, n: int):
    """Skewed corpus: a handful of terms reach 100+ postings, so both
    stored impact ranks (10 and 100) are present on the hot terms."""
    weights = [1.0 / (i + 1) for i in range(len(VOCAB))]
    rows = []
    for i in range(n):
        k = rng.randint(0, 14)
        text = " ".join(rng.choices(VOCAB, weights=weights, k=k))
        rows.append((i, text, "en", "s", len(text)))
    return rows


def test_fuzz_impact_theta_rank_identical_to_decode_theta(spark,
                                                          tmp_path_factory):
    """Random skewed corpora x random queries: the pruned route with θ
    from the stored impacts, the pruned route with the decode θ (the
    same index minus its impacts column) and the unpruned route all
    return the test oracle's top-k — on the index as built and with the
    serving avgdl drifted below the encode avgdl (the stored impacts
    are then scaled down). Every impact θ must also lower-bound the
    query's true k-th score."""
    from engine.csearch import (_impact_ranks, _term_meta, _theta,
                                local_query_terms, search_index)
    from engine.postings import build_index, read_index

    from .oracle import assert_matches_topk, bm25_topk

    theta_ks = set()
    for seed in range(3):
        rng = random.Random(100 + seed)
        rows = _zipf_docs(rng, rng.randint(250, 400))
        docs = spark.createDataFrame(rows, DOC_SCHEMA)
        qrows = [(f"q{j}", " ".join(rng.choice(VOCAB[:20] + ["absentterm"])
                                    for _ in range(rng.randint(1, 4))))
                 for j in range(5)]
        qs = spark.createDataFrame(qrows, "query_id string, query string")
        out = str(tmp_path_factory.mktemp(f"fzt{seed}"))
        build_index(spark, docs, out, n_shards=2,
                    hot_df_threshold=(40, 10**9, 10**9)[seed], n_salts=2,
                    id_col="doc_id", text_col="text")
        built = read_index(spark, out)
        assert built["impact_ranks"] and "impacts" in built["postings"].columns
        _qt, terms, qt_rows = local_query_terms(spark, qs)
        meta = _term_meta(built, terms, _impact_ranks(built))
        for drift in (1.0, 0.8):
            idx = dict(built, avgdl=built["avgdl"] * drift)
            no_imp = dict(idx, postings=idx["postings"].drop("impacts"))
            for k in (7, 100):
                # the drifted serving avgdl is not the corpus's own
                want = bm25_topk([r[:2] for r in rows], qrows, k=k,
                                 avgdl=idx["avgdl"] if drift != 1.0 else None)
                for served, prune in ((idx, False), (idx, True),
                                      (no_imp, True)):
                    assert_matches_topk(search_index(
                        spark, served, qs, k=k, prune=prune).collect(), want)
                # θ soundness, checked directly against the true scores
                theta = _theta(spark, idx, meta, qt_rows, k, None)
                kth = {q: s for q, _d, s, rk in want if rk == k}
                for q, th in theta.items():
                    assert q in kth and th <= kth[q], (seed, drift, k, q)
                if theta:
                    theta_ks.add(k)
    # both stored ranks served a θ somewhere in the sweep
    assert theta_ks == {7, 100}


def test_fuzz_driver_term_meta_equals_spark_aggregation(spark,
                                                       tmp_path_factory):
    """The driver-side metadata read (csearch._term_meta: pyarrow over
    the serving rows, pb- and term-filtered) must equal the Spark
    aggregation it replaced (oracle.term_meta) for random term sets —
    absent terms included — on a build with hot-term chunks, after an
    incremental merge of a stream batch, after a merge whose stream
    dedup removes a re-dropped batch doc, after a compaction of
    tombstoned docs, and at every stage with the impacts column
    dropped."""
    from engine.csearch import _impact_ranks, _term_meta
    from engine.postings import (build_index, compact_tombstones,
                                 delete_docs, merge_partials, read_index)
    from engine.streaming import start_incremental_index

    from .oracle import term_meta

    rng = random.Random(7)
    rows = _zipf_docs(rng, 300)
    out = str(tmp_path_factory.mktemp("tm_idx"))
    inp = str(tmp_path_factory.mktemp("tm_in"))
    build_index(spark, spark.createDataFrame(rows, DOC_SCHEMA), out,
                n_shards=2, hot_df_threshold=40, n_salts=2,
                id_col="doc_id", text_col="text")

    def check(stage):
        idx = read_index(spark, out)
        for no_imp in (False, True):
            if no_imp:
                idx = dict(idx, postings=idx["postings"].drop("impacts"))
            posts = idx["postings"]
            ranks = _impact_ranks(idx)
            assert bool(ranks) != no_imp, stage
            for _ in range(3):
                terms = rng.sample(VOCAB, rng.randint(1, 25)) + ["absentterm"]
                got = _term_meta(idx, terms, ranks)
                want = term_meta(posts.where(F.col("term").isin(terms)),
                                 ranks)
                assert got == want, (stage, no_imp, terms)
                assert got, stage

    check("build")
    # two stream cycles: pure-append new docs (an incremental merge),
    # then new docs plus a re-dropped batch doc, which the merge's
    # stream dedup removes (a dedup removal re-baselines fully)
    for cycle, extra, kind in ((0, [], "incremental"), (1, rows[:1], "full")):
        new = [(1000 + 100 * cycle + i,) + r[1:]
               for i, r in enumerate(_zipf_docs(rng, 30))]
        spark.createDataFrame(new + extra, DOC_SCHEMA).write.mode(
            "append").parquet(inp + "/drop")
        q = start_incremental_index(spark, inp + "/drop", out,
                                    avgdl_hint=7.0)
        q.awaitTermination(120)
        m = merge_partials(spark, out, hot_df_threshold=40, n_salts=2,
                           incremental=True)
        assert m.get("last_merge") == kind, (cycle, m.get("last_merge"))
        check(f"stream cycle {cycle}")
    delete_docs(spark, out, [1, 2, 3, 1005, 1105])
    compact_tombstones(spark, out, hot_df_threshold=40, n_salts=2)
    check("compaction")
