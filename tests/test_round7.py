"""Round-7 (round-4 session-3) regression tests: the crash-protocol
composition review over the dedup/compaction/merge protocols.

The findings all shared one shape: each protocol was individually
crash-safe, but a crash in one followed by a DIFFERENT operation
replayed stale state over newer state. Under the one commit protocol
(postings._commit) every operation writes unlisted dirs and commits
with one generation flip, so a crashed operation leaves only garbage
that no reader resolves; a writer whose generation moved under it
fails loudly; and the full merge is a versioned-dir pointer flip.
"""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

import engine.postings as P

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _build_batch_and_stream(spark, tmp_path_factory, tag):
    """Batch index {0: apple banana} + streamed {0 re-drop, 5: banana
    fig}, not merged yet."""
    from engine.postings import build_index
    from engine.streaming import start_incremental_index

    out = str(tmp_path_factory.mktemp(f"{tag}_idx"))
    inp = str(tmp_path_factory.mktemp(f"{tag}_in"))
    batch = spark.createDataFrame(
        [(0, "apple banana", "en", "s", 12)], DOC_SCHEMA)
    build_index(spark, batch, out, n_shards=2, hot_df_threshold=10**9,
                n_salts=2, id_col="doc_id", text_col="text")
    spark.createDataFrame(
        [(0, "apple banana", "en", "s", 12),
         (5, "banana fig", "en", "s", 10)],
        DOC_SCHEMA).write.mode("overwrite").parquet(inp + "/drop")
    q = start_incremental_index(spark, inp + "/drop", out, avgdl_hint=3.0)
    q.awaitTermination(120)
    return out, inp


def _crash_merge(spark, out, monkeypatch):
    """A merge that dies just before its commit: its dedup wrote a
    consolidated shard and doc stats that no generation lists."""
    from engine.postings import load_manifest, merge_partials

    m0 = load_manifest(out)

    def crash(*a, **kw):
        raise OSError("crash before the merge commit")

    monkeypatch.setattr(P, "_commit", crash)
    with pytest.raises(OSError):
        merge_partials(spark, out, hot_df_threshold=10**9, n_salts=2)
    monkeypatch.undo()
    assert load_manifest(out) == m0
    assert any(d.startswith("shard=streamdedup")
               for d in os.listdir(out + "/partials"))


def _out_of_band_stream_batch(out, bid):
    """Another writer commits micro-batch ``bid``: a copy of stream
    batch 0's dirs (the partial's batch id comes from its dir name)."""
    from engine.postings import (
        commit_stream_batch, load_manifest, stream_batch_dirs,
    )

    m = load_manifest(out)
    dirs = stream_batch_dirs(m, bid)
    src = {"partials": "partials/" + m["shards"]["stream0"]["dir"]}
    for kind in ("doc_stats_stream", "term_dict"):
        src[kind], = [d for d in m["live"][kind] if "_stream0_" in d]
    for kind, d in dirs.items():
        dst = ("partials/" + d) if kind == "partials" else d
        shutil.copytree(os.path.join(out, src[kind]), os.path.join(out, dst))
    commit_stream_batch(out, m, bid, dirs)


def test_compact_recovers_standing_dedup_journal(spark, tmp_path_factory,
                                                 monkeypatch):
    """Review finding 1: a compaction after a merge that crashed must
    expunge over the last COMMITTED generation. The crashed merge's
    consolidation (written before the deletes, so it still holds doc 5)
    is never listed, never read, and is swept by the next commit — it
    cannot resurrect the tombstoned doc."""
    from engine.csearch import search_index
    from engine.postings import (
        compact_tombstones, delete_docs, load_manifest, read_index,
    )

    out, _ = _build_batch_and_stream(spark, tmp_path_factory, "cdj")
    _crash_merge(spark, out, monkeypatch)
    delete_docs(spark, out, [5])
    compact_tombstones(spark, out, hot_df_threshold=10**9, n_salts=2)
    m = load_manifest(out)
    assert m["n_tombstones"] == 0 and not m["live"]["tombstones"]
    idx = read_index(spark, out)
    assert idx["n_docs"] == 1
    qs = spark.createDataFrame([("q0", "banana")],
                               "query_id string, query string")
    res = search_index(spark, idx, qs, k=10).collect()
    # doc 5 expunged and NOT resurrected by the stale consolidation
    assert sorted(r.doc_id for r in res) == [0]


def test_dedup_recovery_guards_out_of_band_shards(spark, tmp_path_factory,
                                                  monkeypatch):
    """Review finding 3 (guard half): a stream shard committed by
    another writer while a merge and its dedup ran must make the
    merge's commit fail loudly — its live set would drop that shard —
    and the shard survives for the next merge."""
    from engine.postings import load_manifest, merge_partials, read_index

    out, _ = _build_batch_and_stream(spark, tmp_path_factory, "oob")
    real_commit = P._commit

    def out_of_band_then_commit(out_dir, m, op):
        if op == "merge":
            _out_of_band_stream_batch(out_dir, 9)
        return real_commit(out_dir, m, op)

    monkeypatch.setattr(P, "_commit", out_of_band_then_commit)
    with pytest.raises(RuntimeError, match="generation"):
        merge_partials(spark, out, hot_df_threshold=10**9, n_salts=2)
    monkeypatch.undo()
    m = load_manifest(out)
    assert os.path.isdir(out + "/partials/" + m["shards"]["stream9"]["dir"])
    merge_partials(spark, out, hot_df_threshold=10**9, n_salts=2)
    idx = read_index(spark, out)
    assert idx["n_docs"] == 2
    assert idx["doc_stats"].where("doc_id = 5").count() == 1


def test_compact_recovery_guards_out_of_band_shards(spark, tmp_path_factory,
                                                    monkeypatch):
    """Review finding 2 (guard half), compaction racing a standing
    stream backlog: a micro-batch committed while the compaction
    filtered and merged must make the compaction's commit fail loudly
    (its filtered snapshot does not hold that batch) — the deleted doc
    stays hidden throughout, and the re-run expunges it from the
    backlog too."""
    from engine.csearch import search_index
    from engine.postings import (
        compact_tombstones, delete_docs, load_manifest, read_index,
    )

    out, _ = _build_batch_and_stream(spark, tmp_path_factory, "coob")
    delete_docs(spark, out, [5])
    real_commit = P._commit

    def out_of_band_then_commit(out_dir, m, op):
        if op == "compaction":
            _out_of_band_stream_batch(out_dir, 9)
        return real_commit(out_dir, m, op)

    monkeypatch.setattr(P, "_commit", out_of_band_then_commit)
    with pytest.raises(RuntimeError, match="generation"):
        compact_tombstones(spark, out, hot_df_threshold=10**9, n_salts=2)
    monkeypatch.undo()
    qs = spark.createDataFrame([("q0", "banana fig")],
                               "query_id string, query string")
    m = load_manifest(out)
    assert "stream9" in m["shards"] and m["live"]["tombstones"]
    res = search_index(spark, read_index(spark, out), qs, k=10).collect()
    assert sorted(r.doc_id for r in res) == [0]
    compact_tombstones(spark, out, hot_df_threshold=10**9, n_salts=2)
    idx = read_index(spark, out)
    assert idx["tombstones"] is None and idx["n_docs"] == 1
    res = search_index(spark, idx, qs, k=10).collect()
    assert sorted(r.doc_id for r in res) == [0]


def test_ingest_recovers_pending_before_writing(spark, tmp_path_factory,
                                                monkeypatch):
    """Review finding 3 (entry-point half): a micro-batch ingested after
    a crashed merge commits only its own dirs over the last committed
    generation, and its commit sweeps the crashed merge's leftovers."""
    from engine.postings import merge_partials, read_index
    from engine.streaming import start_incremental_index

    out, inp = _build_batch_and_stream(spark, tmp_path_factory, "ing")
    _crash_merge(spark, out, monkeypatch)
    # new micro-batch lands in the same watched dir (fresh part files;
    # the standing checkpoint picks them up as a new batch)
    spark.createDataFrame(
        [(9, "cherry fig", "en", "s", 10)],
        DOC_SCHEMA).write.mode("overwrite").parquet(inp + "/drop")
    q = start_incremental_index(spark, inp + "/drop", out, avgdl_hint=3.0)
    q.awaitTermination(120)
    assert not any(d.startswith("shard=streamdedup")
                   for d in os.listdir(out + "/partials"))
    merge_partials(spark, out, hot_df_threshold=10**9, n_salts=2)
    idx = read_index(spark, out)
    # doc 9's stats landed AND the stream doc 5 is present once
    assert idx["n_docs"] == 3
    assert idx["doc_stats"].where("doc_id = 9").collect()[0]["dl"] == 2
    assert idx["doc_stats"].where("doc_id = 5").count() == 1


def test_completed_dedup_with_crashed_merge_forces_full(
        spark, tmp_path_factory):
    """Latent ghost window: a dedup that consolidated (removed rows)
    inside a merge that then crashed must still make the next merge a
    full one. The dedup commits nothing on its own — its output lands
    in the merge's flip — so the crashed merge leaves no removal behind
    to forget, and the re-run's dedup sees it again."""
    from engine.postings import (
        build_index, dedup_stream_partials, load_manifest, merge_partials,
    )
    from engine.streaming import start_incremental_index

    out = str(tmp_path_factory.mktemp("ghost_idx"))
    inp = str(tmp_path_factory.mktemp("ghost_in"))
    batch = spark.createDataFrame(
        [(0, "apple banana", "en", "s", 12)], DOC_SCHEMA)
    build_index(spark, batch, out, n_shards=2, hot_df_threshold=10**9,
                n_salts=2, id_col="doc_id", text_col="text")
    spark.createDataFrame(
        [(0, "apple banana", "en", "s", 12)],
        DOC_SCHEMA).write.mode("overwrite").parquet(inp + "/drop")
    q = start_incremental_index(spark, inp + "/drop", out, avgdl_hint=3.0)
    q.awaitTermination(120)
    # the merge crashed AFTER its dedup completed: run the dedup alone
    # (the re-dropped doc 0 is removed -> a real removal)
    m0 = load_manifest(out)
    removed = dedup_stream_partials(spark, out, load_manifest(out), 3.0)
    assert removed > 0
    assert load_manifest(out) == m0  # nothing durable
    m = merge_partials(spark, out, hot_df_threshold=10**9, n_salts=2,
                       incremental=True)
    assert m["last_merge"] == "full"


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
