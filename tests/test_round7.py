"""Round-7 regression tests from the
crash-protocol composition review over the dedup/compaction/merge
protocols: the full merge is a versioned-dir pointer flip, the
incremental merge retires the shards it touched, and the codec's
corruption guards. The review's crash-composition tests live in
tests/test_commit.py with the rest of the commit protocol's.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F


DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def test_full_merge_is_versioned_pointer_flip(spark, tmp_path_factory):
    """Review finding 5: the full merge used to overwrite the live
    `postings` dir in place (delete-then-write) — a crash mid-write
    left the pointer aimed at a half-written table. It now writes
    postings_v{N} and flips the manifest pointer like the incremental
    path; stale versions are swept after the flip."""
    from engine.postings import build_index, load_manifest, merge_partials

    out = str(tmp_path_factory.mktemp("ver_idx"))
    docs = spark.createDataFrame(
        [(i, f"alpha beta g{i % 3}", "en", "s", 14) for i in range(12)],
        DOC_SCHEMA)
    build_index(spark, docs, out, n_shards=2, hot_df_threshold=10**9,
                n_salts=2, id_col="doc_id", text_col="text")
    m = load_manifest(out)
    assert m["postings_dir"].startswith("postings_v")
    v1 = m["postings_version"]
    assert os.path.isdir(os.path.join(out, m["postings_dir"]))
    assert not os.path.exists(os.path.join(out, "postings"))
    merge_partials(spark, out, hot_df_threshold=10**9, n_salts=2,
                   incremental=False)
    m = load_manifest(out)
    assert m["postings_version"] == v1 + 1
    # exactly one version on disk: the pointer target
    vers = [d for d in os.listdir(out) if d.startswith("postings")]
    assert vers == [m["postings_dir"]]


def test_incremental_touched_set_retires_merged_shards(
        spark, tmp_path_factory):
    """Review finding 7: the touched-tid set used to include every
    stream shard ever ingested, so incrementality degraded
    monotonically. With retirement, a merge with NO new shards rewrites
    ZERO buckets — every file of the new version is a hardlink of the
    old one (the old behavior re-merged the retired shard's terms and
    rewrote their buckets)."""
    from engine.postings import build_index, load_manifest, merge_partials
    from engine.streaming import start_incremental_index

    out = str(tmp_path_factory.mktemp("ret_idx"))
    inp = str(tmp_path_factory.mktemp("ret_in"))
    wide = [(i, f"t{i}a t{i}b common", "en", "s", 20) for i in range(30)]
    build_index(spark, spark.createDataFrame(wide, DOC_SCHEMA), out,
                n_shards=2, hot_df_threshold=10**9, n_salts=2,
                id_col="doc_id", text_col="text")
    spark.createDataFrame(
        [(900, "newa newb", "en", "s", 10)],
        DOC_SCHEMA).write.mode("overwrite").parquet(inp + "/drop")
    q = start_incremental_index(spark, inp + "/drop", out, avgdl_hint=3.0)
    q.awaitTermination(120)
    merge_partials(spark, out, hot_df_threshold=10**9, n_salts=2,
                   incremental=True)
    m = load_manifest(out)
    assert m["last_merge"] == "incremental"
    assert any(s.startswith("shard=stream") for s in
               m["merged_stream_shards"])
    root1 = os.path.join(out, m["postings_dir"])
    files1 = {os.path.relpath(p, root1): os.stat(p).st_ino
              for p in glob.glob(root1 + "/pb=*/*.parquet")}
    # second merge, nothing new streamed: retirement makes the touched
    # set empty -> every bucket hardlinked, no bucket rewritten
    merge_partials(spark, out, hot_df_threshold=10**9, n_salts=2,
                   incremental=True)
    m = load_manifest(out)
    assert m["last_merge"] == "incremental"
    root2 = os.path.join(out, m["postings_dir"])
    files2 = {os.path.relpath(p, root2): os.stat(p).st_ino
              for p in glob.glob(root2 + "/pb=*/*.parquet")}
    assert files1 == files2  # same names AND same inodes (hardlinks)


def test_verify_index_null_text_doc_ok(spark, tmp_path):
    """Review finding 6: verify_index used sha nullness as the
    row-existence proxy, so a NULL-text doc (sha2(NULL) = NULL on both
    sides) failed a healthy audit. Existence is now an explicit
    marker; two NULL shas match via eqNullSafe."""
    from engine.postings import build_index, verify_index

    docs = spark.createDataFrame(
        [(0, "apple banana", "en", "s", 12),
         (1, None, "en", "s", 0)], DOC_SCHEMA)
    out = str(tmp_path / "nulltext_idx")
    build_index(spark, docs, out, n_shards=2, hot_df_threshold=10**9,
                n_salts=2, id_col="doc_id", text_col="text")
    rep = verify_index(spark, out, docs, id_col="doc_id", text_col="text")
    assert rep["ok"], rep
    assert rep["n_index"] == rep["n_source"] == 2
    assert rep["matched"] == 2
    assert rep["missing_in_index"] == rep["missing_in_source"] == 0


def test_dedup_doc_stats_missing_index_clear_error(spark, tmp_path):
    """Review finding 10: auditing a path that isn't a built index must
    raise a clear FileNotFoundError, not IndexError on parts[0]."""
    from engine.postings import _dedup_doc_stats

    with pytest.raises(FileNotFoundError, match="no index at"):
        _dedup_doc_stats(spark, str(tmp_path / "nope"))


def test_hot_consolidated_term_spreads_across_merge_groups(
        spark, tmp_path_factory):
    """Review finding 4 (merge half): the hot-term merge salt hashed
    only the SHARD name, so a consolidated shard=streamdedup backlog —
    written as several salted rows per hot tid precisely to avoid
    single-task materialization — collapsed back into ONE merge group.
    Salting by (shard, payload) keeps each consolidated row eligible
    for its own group: the merged table holds >1 row for the hot term,
    and serving over the salted rows stays correct."""
    from engine.csearch import search_index
    from engine.postings import (
        _postings_dir, build_index, load_manifest, merge_partials,
        read_index,
    )
    from engine.streaming import start_incremental_index

    out = str(tmp_path_factory.mktemp("hotc_idx"))
    inp = str(tmp_path_factory.mktemp("hotc_in"))
    build_index(spark, spark.createDataFrame(
        [(0, "anchor seed", "en", "s", 11)], DOC_SCHEMA), out,
        n_shards=2, hot_df_threshold=10**9, n_salts=4,
        id_col="doc_id", text_col="text")
    # 40 stream docs all containing 'hot', plus a re-drop of doc 0 so
    # the dedup actually consolidates into shard=streamdedup
    rows = [(0, "anchor seed", "en", "s", 11)] + [
        (100 + i, f"hot filler{i % 7}", "en", "s", 12) for i in range(40)]
    spark.createDataFrame(rows, DOC_SCHEMA).write.mode(
        "overwrite").parquet(inp + "/drop")
    q = start_incremental_index(spark, inp + "/drop", out, avgdl_hint=2.0)
    q.awaitTermination(120)
    # hot_df_threshold below df(hot)=40 makes 'hot' a salted hot term
    merge_partials(spark, out, hot_df_threshold=10, n_salts=4)
    m = load_manifest(out)
    assert m["shards"].get("streamdedup", {}).get("status") == "ok"
    hot_rows = (spark.read.parquet(_postings_dir(out, m))
                .where(F.col("term") == "hot").collect())
    assert len(hot_rows) > 1, "consolidated hot term merged in one group"
    idx = read_index(spark, out)
    qs = spark.createDataFrame([("q0", "hot")],
                               "query_id string, query string")
    res = search_index(spark, idx, qs, k=50).collect()
    assert {r.doc_id for r in res} == {100 + i for i in range(40)}


def test_codec_corrupt_buffer_and_keep_validation():
    """Round-7 codec review: corrupt varbyte buffers (terminator-less
    or truncated) must raise at the codec boundary, mismatched stream
    lengths must not silently mis-broadcast downstream, and keep
    indices are validated (range-checked, duplicates collapse)."""
    import numpy as np

    from engine.codec import decode_blocked, encode_blocked, varbyte_decode

    with pytest.raises(ValueError, match="corrupt varbyte"):
        varbyte_decode(b"\x80\x80\x80")  # all continuation bytes
    with pytest.raises(ValueError, match="corrupt varbyte"):
        varbyte_decode(b"\x01\x80")  # truncated trailing value

    d = np.arange(1, 300, dtype=np.int64)
    t = np.ones(299, dtype=np.int64)
    enc = encode_blocked(d, t, t, avgdl=10.0)
    args = (enc["doc_bytes"], enc["tf_bytes"], enc["dl_bytes"],
            enc["doc_off"], enc["tf_off"], enc["dl_off"])
    # truncated tf stream -> stream-length mismatch on full decode
    with pytest.raises(ValueError):
        decode_blocked(enc["doc_bytes"], enc["tf_bytes"][:-1],
                       enc["dl_bytes"], enc["doc_off"], enc["tf_off"],
                       enc["dl_off"])
    with pytest.raises(ValueError, match="out of range"):
        decode_blocked(*args, keep=[-1])
    with pytest.raises(ValueError, match="out of range"):
        decode_blocked(*args, keep=[len(enc["doc_off"])])
    # duplicates collapse instead of double-decoding the block
    d1, _, _ = decode_blocked(*args, keep=[0, 0])
    assert np.array_equal(d1, d[:128])


def test_codec_full_decode_fast_path_roundtrip():
    """The vectorized keep=None fast path must equal the per-block
    keep path bit-for-bit, including multi-block delta restarts and
    unsorted encode input (which exercises the presorted check's
    fallback)."""
    import numpy as np

    from engine.codec import decode_blocked, encode_blocked

    rng = np.random.default_rng(11)
    d = rng.choice(10**9, size=5000, replace=False)  # UNSORTED input
    t = rng.integers(1, 40, size=5000)
    dl = rng.integers(1, 400, size=5000)
    enc = encode_blocked(d, t, dl, avgdl=150.0)
    args = (enc["doc_bytes"], enc["tf_bytes"], enc["dl_bytes"],
            enc["doc_off"], enc["tf_off"], enc["dl_off"])
    full = decode_blocked(*args)
    loop = decode_blocked(*args, keep=range(len(enc["doc_off"])))
    for a, b in zip(full, loop):
        assert np.array_equal(a, b)
    order = np.argsort(d)
    assert np.array_equal(full[0], d[order])
    assert np.array_equal(full[1], t[order])


def test_codec_offset_ceiling_guard(monkeypatch):
    """A chunk whose encoded stream would pass the int32 offset
    ceiling must fail loudly at encode time (the build's shard/salt
    split keeps real chunks far below it)."""
    import numpy as np

    import engine.codec as codec

    monkeypatch.setattr(codec, "MAX_LIST_BYTES", 64)
    d = np.arange(1, 200, dtype=np.int64)
    t = np.ones(199, dtype=np.int64)
    with pytest.raises(ValueError, match="offset ceiling"):
        codec.encode_blocked(d, t, t, avgdl=10.0)
