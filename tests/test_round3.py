"""Round-3 fixes: batch+stream doc dedup in the merged postings,
byte-histogram bucket clamping, multiprobe prefix width."""

from __future__ import annotations


import numpy as np
import pytest
from pyspark.sql import functions as F

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def test_contract_roster_is_oracle_complete():
    """Every driver-contract entry has a DuckDB oracle and vice versa;
    the roster size is pinned AT the driver's 50-row recording cap so
    silent drops (round-1's missing frame_sample_plan row; round-2's
    52-entry roster losing its last two rows) can't recur. If this
    assert fires at 51+, FOLD entries (see queries() docstring) —
    don't bump the pin."""
    import __spark_entry__ as e

    qs, orc = e.queries(), e.oracle_sql()
    assert set(qs) == set(orc)
    assert len(qs) == 50


def _stream_and_merge(spark, out, inp, rows, **merge_kw):
    from engine.postings import merge_partials
    from engine.streaming import start_incremental_index

    spark.createDataFrame(rows, DOC_SCHEMA).write.mode("overwrite").parquet(
        inp + "/drop"
    )
    q = start_incremental_index(spark, inp + "/drop", out, avgdl_hint=3.0)
    q.awaitTermination(120)
    return merge_partials(spark, out, **merge_kw)


def _postings_root(out):
    from engine.postings import _postings_dir, load_manifest

    return _postings_dir(out, load_manifest(out))


def _term_rows(spark, out, term):
    return (
        spark.read.parquet(_postings_root(out))
        .where(F.col("term") == term)
        .collect()
    )


def _decoded_doc_ids(rows):
    from engine.codec import decode_blocked

    ids = []
    for r in rows:
        d, _, _ = decode_blocked(r.doc_bytes, r.tf_bytes, r.dl_bytes,
                                 r.doc_off, r.tf_off, r.dl_off)
        ids.extend(int(x) for x in d)
    return sorted(ids)


def test_batch_plus_stream_same_doc_counts_once(spark, tmp_path_factory):
    """A doc ingested via BOTH the batch build and a stream batch (file
    re-drop) must count once in df and appear once in the merged posting
    list — batch wins (code-review finding: merge concatenated both
    partials, double-scoring the doc and inflating df)."""
    from engine.postings import build_index, read_index

    out = str(tmp_path_factory.mktemp("dd_idx"))
    inp = str(tmp_path_factory.mktemp("dd_in"))
    batch = spark.createDataFrame(
        [(0, "apple banana cherry", "en", "s", 19),
         (1, "apple date", "en", "s", 10)], DOC_SCHEMA)
    build_index(spark, batch, out, n_shards=2, hot_df_threshold=10**9,
                n_salts=2, id_col="doc_id", text_col="text")
    # re-drop doc 0 (different content — batch version must win) + new doc 2
    _stream_and_merge(
        spark, out, inp,
        [(0, "apple apple apple apple", "en", "s", 23),
         (2, "banana fig", "en", "s", 10)],
        hot_df_threshold=10**9, n_salts=2)

    idx = read_index(spark, out)
    assert idx["n_docs"] == 3
    # batch wins: doc 0 keeps its batch dl (3 tokens), not the stream's 4
    assert idx["doc_stats"].where("doc_id = 0").collect()[0]["dl"] == 3

    apple = _term_rows(spark, out, "apple")
    assert {r.df for r in apple} == {2}  # df counts doc 0 once
    assert _decoded_doc_ids(apple) == [0, 1]
    banana = _term_rows(spark, out, "banana")
    assert _decoded_doc_ids(banana) == [0, 2]
    assert banana[0].df == 2


def test_stream_dedup_across_salted_hot_groups(spark, tmp_path_factory):
    """Hot-term salting puts batch and stream partials of the same tid
    in DIFFERENT merge groups, so the dedup must happen before the
    grouped merge, not inside it."""
    from engine.postings import build_index, read_index

    out = str(tmp_path_factory.mktemp("dds_idx"))
    inp = str(tmp_path_factory.mktemp("dds_in"))
    batch = spark.createDataFrame(
        [(i, "hot common term%d" % i, "en", "s", 20) for i in range(6)],
        DOC_SCHEMA)
    build_index(spark, batch, out, n_shards=3, hot_df_threshold=10**9,
                n_salts=4, id_col="doc_id", text_col="text")
    # re-drop docs 1 and 4 unchanged, add doc 10; merge with a tiny hot
    # threshold so 'hot'/'common' get salted
    _stream_and_merge(
        spark, out, inp,
        [(1, "hot common term1", "en", "s", 16),
         (4, "hot common term4", "en", "s", 16),
         (10, "hot solo", "en", "s", 8)],
        hot_df_threshold=1, n_salts=4)

    idx = read_index(spark, out)
    assert idx["n_docs"] == 7
    hot = _term_rows(spark, out, "hot")
    assert _decoded_doc_ids(hot) == [0, 1, 2, 3, 4, 5, 10]
    assert {r.df for r in hot} == {7}
    # rank identity end-to-end over the deduped index
    from engine.csearch import search_index

    qs = spark.createDataFrame([("q0", "hot common")],
                               "query_id string, query string")
    res = search_index(spark, idx, qs, k=10).collect()
    assert len({r.doc_id for r in res}) == len(res)  # no duplicate docs


def test_stream_redrop_latest_version_wins_whole_doc(spark,
                                                     tmp_path_factory):
    """A doc re-dropped across stream micro-batches with DIFFERENT
    content must be replaced as a whole document: terms only in the
    superseded version must vanish from the merged postings (a per-term
    max_by would keep them as ghosts)."""
    from engine.postings import build_index, read_index

    from engine.postings import merge_partials
    from engine.streaming import start_incremental_index

    out = str(tmp_path_factory.mktemp("ghost_idx"))
    drop = str(tmp_path_factory.mktemp("ghost_in")) + "/drop"
    batch = spark.createDataFrame(
        [(1, "anchor doc", "en", "s", 10)], DOC_SCHEMA)
    build_index(spark, batch, out, n_shards=2, hot_df_threshold=10**9,
                n_salts=2, id_col="doc_id", text_col="text")
    # batch 0: doc 7 = "apple banana"; later re-drop (new file in the
    # SAME watched dir): doc 7 = "apple cherry" -> banana must
    # disappear, cherry must appear
    spark.createDataFrame([(7, "apple banana", "en", "s", 12)],
                          DOC_SCHEMA).write.parquet(drop)
    start_incremental_index(spark, drop, out,
                            avgdl_hint=3.0).awaitTermination(120)
    spark.createDataFrame([(7, "apple cherry", "en", "s", 12)],
                          DOC_SCHEMA).write.mode("append").parquet(drop)
    start_incremental_index(spark, drop, out,
                            avgdl_hint=3.0).awaitTermination(120)
    merge_partials(spark, out, hot_df_threshold=10**9, n_salts=2)

    terms = {r.term for r in
             spark.read.parquet(_postings_root(out))
             .select("term").collect()}
    assert "cherry" in terms and "banana" not in terms
    apple = _term_rows(spark, out, "apple")
    assert _decoded_doc_ids(apple) == [7] and apple[0].df == 1
    idx = read_index(spark, out)
    assert idx["n_docs"] == 2  # anchor + one version of doc 7


@pytest.mark.parametrize("rows", [[], [(0, "hello world")]],
                         ids=["empty", "one-doc"])
def test_degenerate_corpus_builds_and_serves(spark, tmp_path, rows):
    """An empty or single-doc corpus must build, merge, open, and serve
    (empty corpus used to fail parquet schema inference at merge; a
    doc-less shard used to crash the lineage aggregate)."""
    from engine.csearch import search_index
    from engine.postings import build_index, read_index

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "idx")
    build_index(spark, docs, out, n_shards=2, hot_df_threshold=10**9,
                n_salts=2)
    idx = read_index(spark, out)
    assert idx["n_docs"] == len(rows)
    qs = spark.createDataFrame([("q0", "hello")],
                               "query_id string, query string")
    res = search_index(spark, idx, qs, k=5).collect()
    assert len(res) == len(rows)


def test_byte_histogram_small_bucket_count(spark):
    """n_buckets < 16 must clamp buckets (code-review finding: high
    nibble >= n_buckets scattered into the next row / past the buffer)."""
    from engine.multimodal import byte_histogram

    rows = [(0, bytes([0x00, 0x10, 0xFF, 0x80])), (1, bytes([0xF0] * 5))]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r.media_id: r.histogram
           for r in byte_histogram(media, n_buckets=8).collect()}
    # bucket = byte * 8 // 256
    exp0 = np.bincount(np.array([0x00, 0x10, 0xFF, 0x80]) * 8 // 256,
                       minlength=8)
    assert out[0] == exp0.tolist()
    assert out[1] == np.bincount(np.array([0xF0] * 5) * 8 // 256,
                                 minlength=8).tolist()
    assert sum(out[0]) == 4 and sum(out[1]) == 5
    # 16-bucket default unchanged: high nibble
    out16 = {r.media_id: r.histogram for r in byte_histogram(media).collect()}
    assert out16[0] == np.bincount([0x0, 0x1, 0xF, 0x8],
                                   minlength=16).tolist()


def test_ivf_recall_on_clustered_data(spark):
    """IVF-Flat's design regime: on clustered embeddings, nprobe=1 of
    n_cells=n_clusters retains full recall (probing 10% of the data)."""
    from engine.similarity import cosine_topk, ivf_topk

    rng = np.random.default_rng(3)
    centers = rng.normal(size=(10, 32)) * 5
    rows = [(i, (centers[i % 10] + 0.1 * rng.normal(size=32)).tolist())
            for i in range(400)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qids = [0, 1, 2, 3, 4]
    brute = {(r.query_id, r.vec_id)
             for r in cosine_topk(emb, query_ids=qids, k=5).collect()}
    ivf = ivf_topk(spark, emb, query_ids=qids, k=5, n_cells=10, nprobe=1)
    got = ivf.select("query_id", "vec_id").collect()
    hits = sum((r.query_id, r.vec_id) in brute for r in got)
    assert hits / len(brute) == 1.0


def test_rp_lsh_bucket_prefix_width_many_tables(spark):
    """Table prefixes stay fixed-width (and multiprobe positions valid)
    for n_tables >= 100."""
    from engine.similarity import rp_lsh_topk

    rng = np.random.default_rng(7)
    base = rng.normal(size=8)
    rows = [(i, (base + 0.01 * rng.normal(size=8)).tolist())
            for i in range(12)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    res = rp_lsh_topk(spark, emb, query_ids=[0], k=3, n_tables=101,
                      n_planes=4, multiprobe=1)
    got = res.collect()
    assert 0 < len(got) <= 3
    assert all(r.vec_id != 0 for r in got)
