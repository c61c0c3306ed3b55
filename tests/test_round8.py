"""Round-5 fixes (VERDICT r4): warm serving, stream-ingest batched
encode, zero-copy codec buffers, and the ADVICE r4 codec robustness
nits."""

from __future__ import annotations

import pytest

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


@pytest.fixture(scope="module")
def small_index(spark, tmp_path_factory):
    from engine.postings import build_index, read_index

    out = str(tmp_path_factory.mktemp("r8_idx"))
    docs = spark.createDataFrame(
        [(i, f"apple banana {'fig ' * (i % 3)}cherry t{i % 7}", "en",
          "s", 30) for i in range(40)],
        DOC_SCHEMA,
    )
    build_index(spark, docs, out, n_shards=2, hot_df_threshold=10**9,
                n_salts=2)
    return read_index(spark, out)


def _res(spark, idx, qs, **kw):
    from engine.csearch import search_index

    return sorted(
        (r.query_id, r.doc_id, round(r.score, 9), r.rank)
        for r in search_index(spark, idx, qs, **kw).collect()
    )


def test_stream_encode_kernels_byte_identical(spark, tmp_path_factory):
    """Round-4 verdict #5: stream ingest now encodes micro-batches via
    the batched mapInArrow kernel by default. Its partial shard must be
    BYTE-identical to the grouped-map applyInPandas twin's — payload
    bytes, offsets, block arrays, everything."""
    from engine.streaming import start_incremental_index

    inp = str(tmp_path_factory.mktemp("r8_stream_in"))
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(i % 9 + 1)) + " apple apple",
          "en", "s", 40) for i in range(30)],
        DOC_SCHEMA,
    )
    docs.write.parquet(inp + "/drop")
    shards = {}
    for impl in ("arrow", "pandas"):
        out = str(tmp_path_factory.mktemp(f"r8_stream_{impl}"))
        q = start_incremental_index(spark, inp + "/drop", out,
                                    avgdl_hint=6.0, encode_impl=impl)
        q.awaitTermination(120)
        rows = (spark.read.parquet(out + "/partials/shard=stream0")
                .collect())
        shards[impl] = sorted(
            (r.tid, r.n_docs, bytes(r.doc_bytes), bytes(r.tf_bytes),
             bytes(r.dl_bytes), tuple(r.block_last), tuple(r.block_max),
             tuple(r.doc_off), tuple(r.tf_off), tuple(r.dl_off))
            for r in rows)
    assert shards["arrow"] == shards["pandas"]
    assert len(shards["arrow"]) > 5


def test_stream_encode_impl_validated(spark, tmp_path_factory):
    from engine.streaming import start_incremental_index

    with pytest.raises(ValueError, match="encode_impl"):
        start_incremental_index(spark, "/nonexistent", "/nonexistent",
                                avgdl_hint=3.0, encode_impl="numpy")


def test_warm_serving_identical_and_scanless(spark, small_index):
    """Round-4 verdict #3: warm_serving collects per-term metadata once
    and serves every later batch's qterm from a local relation. Warm
    results must equal cold results exactly (both prune modes), the
    stats-drift guard must fall back to cold, and release_warm must
    restore the cold descriptor."""
    from engine.csearch import release_warm, warm_serving

    qs = spark.createDataFrame(
        [("q0", "apple fig"), ("q1", "banana t3 zzz_absent")],
        "query_id string, query string",
    )
    cold = {p: _res(spark, small_index, qs, k=10, prune=p)
            for p in (False, True)}
    one = spark.createDataFrame([("s0", "apple banana zzz_absent")],
                                "query_id string, query string")
    cold_one = _res(spark, small_index, one, k=10, prune=False)
    warm_serving(spark, small_index, payload_cache="memory")
    assert "warm_tmeta" in small_index and "warm_persisted" in small_index
    for p in (False, True):
        assert _res(spark, small_index, qs, k=10, prune=p) == cold[p]
    # a warm single query takes the same one-task plan as a cold one
    assert _res(spark, small_index, one, k=10, prune=False) == cold_one
    assert len(cold_one) > 0
    # stats drift -> silent cold fallback, results still correct
    small_index["n_docs"] += 1
    try:
        drifted = _res(spark, small_index, qs, k=10, prune=False)
        assert {r[0] for r in drifted} == {"q0", "q1"}
    finally:
        small_index["n_docs"] -= 1
    release_warm(small_index)
    assert "warm_tmeta" not in small_index
    assert _res(spark, small_index, qs, k=10, prune=False) == cold[False]


def test_warm_serving_max_terms_guard(spark, small_index):
    from engine.csearch import warm_serving

    with pytest.raises(ValueError, match="max_terms"):
        warm_serving(spark, dict(small_index), payload_cache=None,
                     max_terms=2)


def _enc_one(n=300, seed=7):
    import numpy as np

    from engine.codec import encode_blocked

    rng = np.random.default_rng(seed)
    d = np.unique(rng.integers(0, 10_000, n))
    tf = rng.integers(1, 50, d.size)
    dl = rng.integers(5, 400, d.size)
    return d, tf, dl, encode_blocked(d, tf, dl, avgdl=100.0)


def test_decode_blocked_rejects_out_of_range_offset():
    """ADVICE r4: a corrupt block offset past the end of the stream
    must raise the codec's 'corrupt posting payload' ValueError, not an
    IndexError — single-row fast path."""
    import numpy as np
    import pytest as _pt

    from engine.codec import decode_blocked

    d, tf, dl, enc = _enc_one()
    bad_off = list(enc["doc_off"])
    bad_off[-1] = len(enc["doc_bytes"]) + 5
    with _pt.raises(ValueError, match="corrupt posting payload"):
        decode_blocked(enc["doc_bytes"], enc["tf_bytes"], enc["dl_bytes"],
                       bad_off, enc["tf_off"], enc["dl_off"])
    # mid-value (unaligned) offset also caught
    bad_off2 = list(enc["doc_off"])
    bad_off2[-1] += 1
    with _pt.raises(ValueError, match="corrupt posting payload"):
        decode_blocked(enc["doc_bytes"], enc["tf_bytes"], enc["dl_bytes"],
                       bad_off2, enc["tf_off"], enc["dl_off"])
    # sanity: the intact payload still decodes
    dd, tt, ll = decode_blocked(enc["doc_bytes"], enc["tf_bytes"],
                                enc["dl_bytes"], enc["doc_off"],
                                enc["tf_off"], enc["dl_off"])
    assert np.array_equal(dd, d) and np.array_equal(tt, tf)


def test_decode_blocked_batch_rejects_corruption():
    """ADVICE r4 (batch decoder): out-of-range offsets raise the codec
    ValueError, and mutually-compensating per-row n_docs corruption
    (total preserved) is caught by the per-row first-block
    cross-check instead of silently shifting postings between tids."""
    import numpy as np
    import pytest as _pt

    from engine.codec import decode_blocked_batch

    d1, tf1, dl1, e1 = _enc_one(260, seed=1)
    d2, tf2, dl2, e2 = _enc_one(300, seed=2)
    args = ([e1["doc_bytes"], e2["doc_bytes"]],
            [e1["tf_bytes"], e2["tf_bytes"]],
            [e1["dl_bytes"], e2["dl_bytes"]],
            [e1["doc_off"], e2["doc_off"]])
    dd, tt, ll, rs = decode_blocked_batch(*args, [d1.size, d2.size])
    assert np.array_equal(dd[:d1.size], d1)
    assert np.array_equal(dd[d1.size:], d2)
    assert list(rs) == [0, d1.size]
    # offset past the concatenated stream -> ValueError, not IndexError
    bad = [list(e1["doc_off"]),
           [o + 10**6 for o in e2["doc_off"]]]
    with _pt.raises(ValueError, match="corrupt posting payload"):
        decode_blocked_batch(args[0], args[1], args[2], bad,
                             [d1.size, d2.size])
    # compensating n_docs corruption: row1 claims one more, row2 one
    # fewer — total matches, per-row cross-check must fire
    with _pt.raises(ValueError, match="corrupt posting payload"):
        decode_blocked_batch(*args, [d1.size + 1, d2.size - 1])


def test_codec_accepts_buffers_zero_copy():
    """Round-4 verdict #7: the codec reads any buffer-protocol object
    (memoryview, pyarrow Buffer) without requiring bytes."""
    import numpy as np
    import pyarrow as pa

    from engine.codec import decode_blocked, decode_blocked_batch

    d, tf, dl, enc = _enc_one()
    as_buf = {k: pa.py_buffer(enc[k]) for k in
              ("doc_bytes", "tf_bytes", "dl_bytes")}
    dd, tt, ll = decode_blocked(
        as_buf["doc_bytes"], as_buf["tf_bytes"], as_buf["dl_bytes"],
        np.asarray(enc["doc_off"], dtype=np.int32),
        np.asarray(enc["tf_off"], dtype=np.int32),
        np.asarray(enc["dl_off"], dtype=np.int32))
    assert np.array_equal(dd, d) and np.array_equal(ll, dl)
    # keep-path over buffers too
    dk, tk, lk = decode_blocked(
        as_buf["doc_bytes"], as_buf["tf_bytes"], as_buf["dl_bytes"],
        enc["doc_off"], enc["tf_off"], enc["dl_off"], keep=[0])
    assert dk.size == min(128, d.size) and np.array_equal(dk, d[:dk.size])
    db, tb, lb, rs = decode_blocked_batch(
        [as_buf["doc_bytes"]], [as_buf["tf_bytes"]], [as_buf["dl_bytes"]],
        [enc["doc_off"]], [d.size])
    assert np.array_equal(db, d)


def test_varbyte_encode_delegates_to_batch():
    """ADVICE r4: one wire-format implementation — varbyte_encode is a
    thin wrapper over varbyte_encode_batch."""
    import numpy as np

    from engine.codec import varbyte_decode, varbyte_encode

    vals = np.array([0, 1, 127, 128, 16383, 16384, 2**40, 2**63 - 1],
                    dtype=np.uint64)
    buf = varbyte_encode(vals)
    assert np.array_equal(varbyte_decode(buf), vals)
    assert varbyte_encode(np.array([], dtype=np.uint64)) == b""
