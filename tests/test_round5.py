"""Round-5 fixes (VERDICT/ADVICE r3): released caches, capped serving
persists, hot-bucket cap visibility, relative singularity tests,
nDCG@k, coordinate-ascent end-to-end gating, IVF-SQ8."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _n_persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _clear_persisted(spark) -> None:
    # other session-scoped tests may legitimately leave caches; start
    # each leak assertion from a clean slate
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(jmap.keySet().toArray()):
        jmap.get(rid).unpersist()


# ---------------------------------------------------------- cache leaks


def test_ngram_jaccard_leaves_no_persisted_rdds(spark, documents):
    from engine.dedup import ngram_jaccard_pairs

    _clear_persisted(spark)
    ngram_jaccard_pairs(documents.limit(40), threshold=0.1).collect()
    assert _n_persisted(spark) == 0


def test_char_bigrams_top_leaves_no_persisted_rdds(spark, documents):
    from engine.textops import char_bigrams_top

    _clear_persisted(spark)
    res = char_bigrams_top(documents.limit(40))
    rows = res.collect()
    assert rows  # still produces the ranked bigram table
    assert _n_persisted(spark) == 0


def test_search_index_serving_persists_capped_at_one(spark, tmp_path):
    from engine.csearch import (pruning_stats, release_serving_cache,
                                search_index)
    from engine.postings import build_index, read_index
    from engine.queries_set import queries_df

    docs = spark.createDataFrame(
        [(i, f"apple banana doc{i} fig grape") for i in range(30)],
        "doc_id long, text string",
    )
    out = str(tmp_path / "idx")
    build_index(spark, docs, out, n_shards=2, hot_df_threshold=10**9,
                n_salts=2)
    idx = read_index(spark, out)
    qs = queries_df(spark)
    _clear_persisted(spark)
    for _ in range(3):
        search_index(spark, idx, qs, k=5, prune=True,
                     cache_level="memory").collect()
        # repeated serving calls must not accumulate persisted plans
        assert _n_persisted(spark) <= 1
    release_serving_cache()
    assert _n_persisted(spark) == 0

    # pruning_stats collects internally -> releases eagerly
    pruning_stats(spark, idx, qs, k=5)
    assert _n_persisted(spark) == 0

    # release happens on ENTRY, not just on the pruned branch: an
    # unpruned call after a pruned one must drop the pruned call's plan
    search_index(spark, idx, qs, k=5, prune=True,
                 cache_level="memory").collect()
    assert _n_persisted(spark) == 1
    search_index(spark, idx, qs, k=5, prune=False).collect()
    assert _n_persisted(spark) == 0


# ------------------------------------------------ hot-bucket visibility


def test_lsh_pairs_with_stats_warns_when_cap_engages(spark):
    from engine.dedup import minhash_lsh_pairs, simhash_near_pairs

    docs = spark.createDataFrame(
        [(i, "the same boilerplate license text repeated here")
         for i in range(6)],
        "doc_id long, text string",
    )
    with pytest.warns(UserWarning, match="STAR"):
        pairs, stats = minhash_lsh_pairs(docs, max_bucket=2,
                                         with_stats=True)
    assert stats["n_hot"] > 0
    assert stats["pairs_capped"] < stats["pairs_uncapped"]
    # identical docs: every member still pairs with the canonical
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert {(0, i) for i in range(1, 6)} <= got

    with pytest.warns(UserWarning, match="STAR"):
        spairs, sstats = simhash_near_pairs(docs, max_bucket=2,
                                            with_stats=True)
    assert sstats["n_hot"] > 0
    assert spairs.count() >= 5

    # cold buckets: stats returned, no warning
    import warnings

    cold = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, "epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        _, cstats = minhash_lsh_pairs(cold, with_stats=True)
    assert cstats["n_hot"] == 0


# ------------------------------------------------------- ltr: cond/ndcg


def test_fit_linear_weights_relative_singularity(spark):
    from engine.ltr import fit_linear_weights

    # exactly collinear at TINY magnitude: the old absolute det
    # threshold (1e-30) would raise only by luck; the relative test
    # must flag it at any scale
    rows = [(float(i) * 1e-12, float(i) * 2e-12, float(i % 2))
            for i in range(1, 9)]
    tiny = spark.createDataFrame(rows, "f1 double, f2 double, y double")
    with pytest.raises(ValueError, match="singular"):
        fit_linear_weights(tiny, ["f1", "f2"], "y")

    # well-conditioned at tiny magnitude must NOT raise
    rows = [(float(i) * 1e-12, float((i * 7) % 5) * 1e-12, float(i % 2))
            for i in range(1, 9)]
    ok = spark.createDataFrame(rows, "f1 double, f2 double, y double")
    w = fit_linear_weights(ok, ["f1", "f2"], "y")
    assert len(w) == 2 and all(abs(x) < 1e15 for x in w)

    # d=3 collinear (f3 = f1 + f2) -> cond-based raise
    rows = [(float(i), float((i * 3) % 7), float(i) + float((i * 3) % 7),
             float(i % 2)) for i in range(1, 12)]
    dep = spark.createDataFrame(
        rows, "f1 double, f2 double, f3 double, y double")
    with pytest.raises(ValueError, match="singular"):
        fit_linear_weights(dep, ["f1", "f2", "f3"], "y")


def test_ndcg_at_k_hand_computed(spark):
    import math

    from engine.ltr import ndcg_at_k

    # q1: scores rank docs (a=3.0, b=2.0, c=1.0), labels (1, 0, 2)
    #   DCG@3  = (2^1-1)/log2(2) + 0 + (2^2-1)/log2(4) = 1 + 1.5 = 2.5
    #   ideal order: labels (2, 1, 0)
    #   IDCG@3 = (2^2-1)/log2(2) + (2^1-1)/log2(3) = 3 + 1/log2(3)
    # q2: perfect ranking of labels (1, 0) -> nDCG 1.0
    rows = [
        ("q1", 1, 3.0, 1.0), ("q1", 2, 2.0, 0.0), ("q1", 3, 1.0, 2.0),
        ("q2", 1, 9.0, 1.0), ("q2", 2, 8.0, 0.0),
    ]
    df = spark.createDataFrame(
        rows, "query_id string, doc_id long, score double, y double")
    idcg1 = 3.0 + 1.0 / math.log2(3.0)
    expect = ((2.5 / idcg1) + 1.0) / 2.0
    got = ndcg_at_k(df, k=3)
    assert abs(got - expect) < 1e-9

    # k cuts the tail: at k=1, q1's DCG@1 = 1, IDCG@1 = 3
    expect1 = ((1.0 / 3.0) + 1.0) / 2.0
    assert abs(ndcg_at_k(df, k=1) - expect1) < 1e-9

    # a query with no relevant docs is excluded, not counted as zero
    rows_nr = rows + [("q3", 1, 1.0, 0.0), ("q3", 2, 0.5, 0.0)]
    df_nr = spark.createDataFrame(
        rows_nr, "query_id string, doc_id long, score double, y double")
    assert abs(ndcg_at_k(df_nr, k=3) - expect) < 1e-9


def test_coordinate_ascent_ndcg_metric_never_degrades(spark):
    from engine.ltr import coordinate_ascent, ndcg_at_k

    # f1 is informative (label-aligned), f2 is noise
    rows = []
    for q in ("a", "b"):
        for i in range(8):
            y = 1.0 if i < 3 else 0.0
            f1 = y + 0.1 * ((i * 13) % 5)
            f2 = float((i * 7) % 3)
            rows.append((q, i, f1, f2, y))
    df = spark.createDataFrame(
        rows, "query_id string, doc_id long, f1 double, f2 double, y double")
    init = [0.5, 0.5]
    base = ndcg_at_k(df.withColumn(
        "_s", F.col("f1") * 0.5 + F.col("f2") * 0.5), 5, "_s")
    w, best = coordinate_ascent(df, ["f1", "f2"], "y", n_rounds=1,
                                init=init, metric="ndcg", ndcg_k=5)
    assert best >= base - 1e-12
    # the informative feature ends with the larger weight share
    assert abs(w[0]) >= abs(w[1])


# --------------------------------------------------------- ivf-sq8


def test_ivf_sq8_matches_float_ivf_on_clustered_data(spark):
    import numpy as np

    from engine.similarity import ivf_topk

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(4, 16))
    rows = []
    for i in range(120):
        c = centers[i % 4]
        v = c + 0.05 * rng.normal(size=16)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qids = [0, 1, 2, 3]
    flat = {(r.query_id, r.vec_id)
            for r in ivf_topk(spark, emb, qids, k=5, n_cells=4, nprobe=1
                              ).select("query_id", "vec_id").collect()}
    sq8 = {(r.query_id, r.vec_id)
           for r in ivf_topk(spark, emb, qids, k=5, n_cells=4, nprobe=1,
                             use_sq8=True
                             ).select("query_id", "vec_id").collect()}
    # exact float re-rank of the overfetched candidates: sq8 recovers
    # the float-IVF result (>= 0.9 by contract; equality observed)
    inter = len(flat & sq8) / len(flat)
    assert inter >= 0.9


# ------------------------------------------------------------- cli


def test_promote_single_text_raises_on_multipart(spark, tmp_path):
    import cli

    tmp = str(tmp_path / "multi")
    spark.createDataFrame([(i,) for i in range(100)], "v long") \
        .select(F.col("v").cast("string").alias("value")) \
        .repartition(3).write.mode("overwrite").text(tmp)
    with pytest.raises(RuntimeError, match="part file"):
        cli._promote_single_text(spark, tmp, str(tmp_path / "out.txt"))


# ------------------------------------------------- arrow encode kernel


def test_arrow_encode_kernel_identical(spark, tmp_path):
    """The mapInArrow encode kernel (default) must produce a
    byte-identical index to the mapInPandas twin — same compressed
    payloads, offsets, and block metadata."""
    from engine.corpusgen import synth_corpus
    from engine.postings import build_index, read_index

    docs = synth_corpus(spark, 200).withColumnRenamed("content", "text")
    outs = {}
    for impl in ("pandas", "arrow"):
        out = str(tmp_path / impl)
        build_index(spark, docs, out, n_shards=2, n_salts=2,
                    encode_impl=impl)
        idx = read_index(spark, out)
        outs[impl] = sorted(
            (r.term, r.salt, bytes(r.doc_bytes), bytes(r.tf_bytes),
             bytes(r.dl_bytes), tuple(r.impacts), tuple(r.block_max),
             tuple(r.doc_off), tuple(r.tf_off), tuple(r.dl_off))
            for r in idx["postings"].collect())
    assert outs["pandas"] == outs["arrow"]
    with pytest.raises(ValueError, match="encode_impl"):
        build_index(spark, docs, str(tmp_path / "bad"), encode_impl="x")


def test_decode_kernels_identical(spark, tmp_path):
    """The mapInArrow serving decode kernel (default) must return
    result-identical top-k to the mapInPandas twin, pruned and
    unpruned."""
    import engine.csearch as cs
    from engine.corpusgen import synth_corpus
    from engine.postings import build_index, read_index

    docs = synth_corpus(spark, 200).withColumnRenamed("content", "text")
    out = str(tmp_path / "idx")
    build_index(spark, docs, out, n_shards=2, n_salts=2)
    idx = read_index(spark, out)
    qs = spark.createDataFrame(
        [("q1", "def class import"), ("q2", "ident3 rare17 val"),
         ("q3", "public static void")],
        "query_id string, query string")
    res = {}
    orig = cs.DECODE_IMPL
    try:
        for impl in ("pandas", "arrow"):
            cs.DECODE_IMPL = impl
            for prune in (False, True):
                res[(impl, prune)] = sorted(
                    (r.query_id, r.doc_id, round(r.score, 6), r.rank)
                    for r in cs.search_index(spark, idx, qs, k=10,
                                             prune=prune).collect())
    finally:
        cs.DECODE_IMPL = orig
    assert res[("pandas", False)] == res[("arrow", False)]
    assert res[("pandas", True)] == res[("arrow", True)]
    assert len(res[("arrow", True)]) > 0


# ----------------------------------------------- large-vocab fixtures


def test_synth_corpus_large_vocab(spark):
    from pyspark.sql import functions as F

    from engine.corpusgen import VOCAB, synth_corpus

    d = synth_corpus(spark, 300, vocab_size=50_000)
    toks = d.select(F.explode(F.split("content", " ")).alias("t"))
    n_distinct = toks.select("t").distinct().count()
    # zipfian tail: far more terms than the base vocabulary, and the
    # head still comes from it (hot keywords survive)
    assert n_distinct > 5 * len(VOCAB)
    head = {r.t for r in
            toks.groupBy("t").count().orderBy(F.desc("count"))
            .limit(20).collect()}
    assert head & set(VOCAB)
    # deterministic in (seed, doc_id)
    a = synth_corpus(spark, 5, vocab_size=50_000).orderBy("doc_id").collect()
    b = synth_corpus(spark, 5, vocab_size=50_000).orderBy("doc_id").collect()
    assert a == b
    # default output unchanged (every gate/bench number depends on it)
    base = synth_corpus(spark, 3).orderBy("doc_id").collect()
    again = synth_corpus(spark, 3).orderBy("doc_id").collect()
    assert base == again


def test_resolve_pb_mod_term_aware():
    from engine.postings import (PB_MOD, PB_MOD_MAX, PB_MOD_SMALL,
                                 _resolve_pb_mod)

    # explicit value always wins
    assert _resolve_pb_mod(16, 10**9, 10**9) == 16
    # small vocab: the original docs-based rule, unchanged
    assert _resolve_pb_mod("auto", 5_000, 1_030) == PB_MOD_SMALL
    assert _resolve_pb_mod("auto", 1_000_000, 1_030) == PB_MOD
    assert _resolve_pb_mod("auto", 1_000_000, None) == PB_MOD
    # large vocab: fan-out grows with the term count (pow2, capped)
    assert _resolve_pb_mod("auto", 1_000_000, 100_000) == 512
    assert _resolve_pb_mod("auto", 1_000_000, 300_000) == 2048
    assert _resolve_pb_mod("auto", 1_000_000, 10**6) == PB_MOD_MAX
    assert _resolve_pb_mod("auto", 1_000_000, 10**9) == PB_MOD_MAX


# ------------------------------------------------------------- rp-lsh


def test_rp_lsh_dim_param_matches_probed(spark):
    from engine.similarity import rp_lsh_topk

    import numpy as np

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = sorted(map(tuple, rp_lsh_topk(spark, emb, [0, 1], k=3).collect()))
    b = sorted(map(tuple, rp_lsh_topk(spark, emb, [0, 1], k=3,
                                      dim=8).collect()))
    assert a == b


def test_spark_submit_py_files_packaging():
    """north_rule literal: the engine runs via `spark-submit --py-files
    engine.zip` with NO engine/ on the filesystem path — cli.py is
    copied alone into an empty dir and `engine` must resolve from the
    shipped zip on both the driver and the python workers
    (tools/submit_smoke.py; local[3] here for speed — the tool's
    default local-cluster[2,2,2048] mode is the bench-side evidence)."""
    from tools.submit_smoke import run_smoke

    res = run_smoke("local[3]", 600)
    assert res.get("ok"), res
    assert res["index"]["n_docs"] == 600
    assert res["stats"]["n_docs"] == 600
    assert res["query_hits"] >= 1


def test_scaling_evidence_paths_are_disjoint_per_cell():
    """A --scaling re-run in one (mode, vocab) cell must never clobber
    another cell's persisted evidence (the local lv re-run once
    overwrote the local-cluster lv result before the split)."""
    import bench

    cells = [("local", None), ("local", 300000),
             ("local-cluster", None), ("local-cluster", 300000)]
    paths = [bench.scaling_evidence_path(m, v) for m, v in cells]
    assert len(set(paths)) == 4
    assert all(p.endswith(".json") for p in paths)


def test_decode_impl_typo_raises(spark, monkeypatch):
    """A typo'd SPARK_GRAFT_DECODE_IMPL must fail loudly (mirroring
    build_index's encode_impl validation), not silently serve every
    query with the pandas kernel and mislabel an A/B measurement."""
    import engine.csearch as cs

    rows = spark.createDataFrame([], "term string")
    monkeypatch.setattr(cs, "DECODE_IMPL", "arow")
    with pytest.raises(ValueError, match="DECODE_IMPL"):
        cs._decode_tf_parts(rows, 10.0, None)


def test_design_regime_run_summaries_cover_all_snapshots():
    """The bench JSON must carry EVERY preserved design-regime run (the
    latest pointer may not be the best host-quietness window)."""
    import glob
    import os

    import bench

    runs = bench.design_regime_run_summaries()
    snaps = sorted(glob.glob(os.path.join(
        os.path.dirname(os.path.abspath(bench.__file__)),
        "bench", "scaling_lv_lc_run*.json")))
    assert [r["run"] for r in runs] == [os.path.basename(p) for p in snaps]
    for r in runs:
        assert r["build_efficiency"] is not None
        assert r["build_efficiency_minus_fixed"] is not None


# ------------------------------------------- embedding-cosine near-dup


def _clustered_embeddings(spark, n_groups=8, dim=16):
    """Deterministic planted near-dups: per group, a base vector and a
    slightly-jittered copy (high cosine), groups mutually far apart."""
    import hashlib

    rows = []
    for g in range(n_groups):
        base = []
        for j in range(dim):
            h = hashlib.md5(f"g{g}|{j}".encode()).hexdigest()
            base.append(int(h[:8], 16) / 2**31 - 1.0)
        jit = []
        for j in range(dim):
            h = hashlib.md5(f"j{g}|{j}".encode()).hexdigest()
            jit.append(base[j] * (1.0 + 0.25 * (int(h[:8], 16) / 2**31 - 1.0)))
        rows.append((2 * g, base))
        rows.append((2 * g + 1, jit))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )


def test_embedding_near_dup_finds_planted_pairs_exactly(spark):
    """Every planted (base, jitter) pair is found; every emitted pair's
    cosine matches a numpy recompute at the operator's rounding; no
    cross-group pair (cosine far below threshold) is emitted."""
    import numpy as np

    from engine.dedup import embedding_near_dup

    emb = _clustered_embeddings(spark)
    pairs = embedding_near_dup(emb, threshold=0.9, dim=16).collect()
    got = {(r.doc_a, r.doc_b) for r in pairs}
    assert got == {(2 * g, 2 * g + 1) for g in range(8)}

    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in emb.collect()}
    for r in pairs:
        a, b = vecs[r.doc_a], vecs[r.doc_b]
        want = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(r.cosine - round(want, 6)) < 2e-6


def test_embedding_near_dup_hot_bucket_cap_and_stats(spark):
    """Identical vectors collapse into one bucket per table; with a
    tiny cap the star engages, warns, and still links every member to
    the canonical (min doc_id)."""
    from engine.dedup import embedding_near_dup

    vec = [0.5, -0.25, 0.125, 1.0]
    emb = spark.createDataFrame(
        [(i, vec) for i in range(6)], "vec_id long, embedding array<float>"
    )
    with pytest.warns(UserWarning, match="STAR"):
        pairs, stats = embedding_near_dup(emb, threshold=0.99, dim=4,
                                          max_bucket=2, with_stats=True)
    assert stats["n_hot"] > 0
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert {(0, i) for i in range(1, 6)} <= got


def test_embedding_near_dup_shares_rp_lsh_bucket_space(spark):
    """dedup candidates and ANN search hash into identical buckets —
    the helper is shared, so a pre-bucketed 100 TB embeddings layout
    serves BOTH operators."""
    from engine.similarity import lsh_bucket_exprs

    emb = _clustered_embeddings(spark)
    e1, tw1 = lsh_bucket_exprs("embedding", 16, 6, 6)
    e2, tw2 = lsh_bucket_exprs("embedding", 16, 6, 6)
    assert tw1 == tw2 == 2
    df1 = emb.select(F.array(*e1).alias("b")).collect()
    df2 = emb.select(F.array(*e2).alias("b")).collect()
    assert [r.b for r in df1] == [r.b for r in df2]


# ------------------------------------------------- batch serving (decode-once)


def test_batch_pruned_identical_to_unpruned_with_shared_terms(
        spark, tmp_path_factory):
    """The union-threshold block pruning (one keep threshold per TERM
    across a batch of queries sharing zipf-skewed terms) must stay
    rank-AND-score identical to the unpruned plan — the superset-decode
    safety claim of csearch phase 2, pinned on a 100-query batch where
    hot terms are shared by most queries."""
    from engine.corpusgen import synth_corpus, synth_queries
    from engine.csearch import search_index
    from engine.postings import build_index, read_index

    out = str(tmp_path_factory.mktemp("batchidx"))
    docs = synth_corpus(spark, 1200)
    build_index(spark, docs, out, n_shards=2, hot_df_threshold=200,
                n_salts=2, text_col="content")
    idx = read_index(spark, out)
    qs = synth_queries(spark, 100)

    def rows(prune):
        return sorted(
            (r.query_id, r.doc_id, round(r.score, 9), r.rank)
            for r in search_index(spark, idx, qs, k=10,
                                  prune=prune).collect())

    pruned, unpruned = rows(True), rows(False)
    assert pruned == unpruned and len(pruned) > 500


# ------------------------------------------- matmul batch aggregation


def _matmul_fixture(spark, tmp_path_factory, tag, n_docs=600):
    from engine.corpusgen import synth_corpus
    from engine.postings import build_index, delete_docs, read_index

    out = str(tmp_path_factory.mktemp(f"{tag}_idx"))
    docs = synth_corpus(spark, n_docs)
    build_index(spark, docs, out, n_shards=2, hot_df_threshold=200,
                n_salts=2, text_col="content")
    # standing tombstones so the matmul path's pre-kernel anti-join is
    # exercised (a dead doc displacing a live one from a partition's k
    # candidates would be invisible without them)
    delete_docs(spark, out, [3, 11, 42])
    return read_index(spark, out)


def test_matmul_agg_identical_to_join(spark, tmp_path_factory):
    """agg_impl='matmul' (doc-partitioned dense matmul + per-partition
    top-k) must reproduce the join plan's (query_id, doc_id, score,
    rank) rows exactly — across prune on/off, round_dp on/off, AND
    both matmul feed layouts (packed doc-bucket blobs vs
    row-per-posting), with tombstones standing (the packed route drops
    them in-kernel from the broadcast dead set, not via the JVM
    anti-join). Raw-precision scores are compared at 9 dp (all plans'
    sum orders are partition-nondeterministic)."""
    import pytest as _pytest

    import engine.csearch as cs
    from engine.corpusgen import synth_queries
    from engine.csearch import search_index

    idx = _matmul_fixture(spark, tmp_path_factory, "mm_id")
    qs = synth_queries(spark, 40)
    monkeypatch = _pytest.MonkeyPatch()
    try:
        for prune in (False, True):
            for dp in (None, 4):
                def rows(impl, pack="1"):
                    monkeypatch.setattr(cs, "MATMUL_PACK", pack)
                    r = search_index(spark, idx, qs, k=10, prune=prune,
                                     round_dp=dp, agg_impl=impl).collect()
                    return sorted((x.query_id, x.doc_id,
                                   round(x.score, 9), x.rank) for x in r)
                want = rows("join")
                assert want == rows("matmul", pack="0"), (prune, dp)
                assert want == rows("matmul", pack="1"), (prune, dp)
    finally:
        monkeypatch.undo()


def test_matmul_ties_subk_and_no_phantom_zero_docs(spark, tmp_path):
    """Three matmul edge cases the dense chunk could get wrong:
    (a) exact score ties cut by doc_id asc at the k boundary — the
        kernel's lexsort + the final window must agree with the join
        plan's row_number tie-break;
    (b) a query matching FEWER than k docs — the dense S row is 0 for
        every non-matching doc in the partition, and those zeros must
        never surface as phantom hits;
    (c) a term absent from the corpus entirely."""
    from engine.csearch import search_index
    from engine.postings import build_index, read_index

    # 12 identical docs -> 12 exactly-tied scores for "apple"; only
    # docs 0-2 contain "kiwi"
    rows = [(i, "apple pear " + ("kiwi" if i < 3 else "plum"))
            for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "tie_idx")
    build_index(spark, docs, out, n_shards=2, hot_df_threshold=10**9,
                n_salts=2)
    idx = read_index(spark, out)
    qs = spark.createDataFrame(
        [("t", "apple"), ("s", "kiwi"), ("z", "nosuchterm")],
        "query_id string, query string")
    got = {}
    for impl in ("join", "matmul"):
        r = search_index(spark, idx, qs, k=5, agg_impl=impl).collect()
        got[impl] = sorted((x.query_id, x.doc_id, round(x.score, 9),
                            x.rank) for x in r)
    assert got["join"] == got["matmul"]
    by_q = {}
    for q, d, s, rk in got["matmul"]:
        by_q.setdefault(q, []).append((d, rk))
    # (a) ties cut to doc_id 0..4 in rank order
    assert by_q["t"] == [(i, i + 1) for i in range(5)]
    # (b) sub-k query returns only the 3 real matches, no 0-score docs
    assert [d for d, _ in by_q["s"]] == [0, 1, 2]
    # (c) unknown term -> no rows
    assert "z" not in by_q


def test_matmul_plan_repartitions_by_doc_and_auto_gates(
        spark, tmp_path_factory):
    """Plan shape: the matmul route must hash-repartition by the
    doc-co-locating key — the packed feed (MATMUL_PACK=1, default) by
    the `part` doc-bucket column, the row-per-posting feed by doc_id
    itself (either co-location makes per-partition scores final); the
    auto route at tiny n_docs must pick the join plan (neither
    exchange). Also: a typo'd agg_impl fails loudly (the
    A/B-mislabeling guard, same standard as DECODE_IMPL)."""
    import pytest as _pytest

    import engine.csearch as cs
    from engine.corpusgen import synth_queries
    from engine.csearch import search_index

    idx = _matmul_fixture(spark, tmp_path_factory, "mm_plan", n_docs=80)
    qs = synth_queries(spark, 5)
    def repart_on(df, key):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return [ln for ln in plan.splitlines()
                if f"hashpartitioning({key}" in ln
                and "REPARTITION_BY_NUM" in ln]

    mm = search_index(spark, idx, qs, k=5, agg_impl="matmul")
    assert repart_on(mm, "part")  # packed feed: bucket exchange
    assert not repart_on(mm, "doc_id")
    monkeypatch = _pytest.MonkeyPatch()
    try:
        monkeypatch.setattr(cs, "MATMUL_PACK", "0")
        mm0 = search_index(spark, idx, qs, k=5, agg_impl="matmul")
        assert repart_on(mm0, "doc_id")  # row feed: doc exchange
        assert not repart_on(mm0, "part")
    finally:
        monkeypatch.undo()
    auto = search_index(spark, idx, qs, k=5)  # auto, n_docs < 100k
    assert not repart_on(auto, "doc_id") and not repart_on(auto, "part")
    with _pytest.raises(ValueError, match="agg_impl"):
        search_index(spark, idx, qs, k=5, agg_impl="matmlu")
