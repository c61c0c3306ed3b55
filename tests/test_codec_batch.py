"""Batched codec kernels: encode_blocked_batch / decode_blocked_batch
must be value- and byte-identical to the per-group / per-row codec they
replace on the design-regime hot paths (10^5+ groups per task, where
three varbyte calls per 128-value block is pure per-call overhead)."""

from __future__ import annotations

import os

import numpy as np
from hypothesis import given, settings, strategies as st

from engine.codec import (
    BLOCK_SIZE, decode_blocked, decode_blocked_batch, encode_blocked,
    encode_blocked_batch, varbyte_encode, varbyte_encode_batch,
)


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
@settings(max_examples=100, deadline=None)
def test_varbyte_encode_batch_matches_single(vals):
    a = np.array(vals, dtype=np.uint64)
    buf, nb = varbyte_encode_batch(a)
    assert buf.tobytes() == varbyte_encode(a)
    # per-value byte counts slice the buffer back into single encodings
    starts = np.cumsum(nb) - nb
    for i, v in enumerate(vals):
        s, e = int(starts[i]), int(starts[i] + nb[i])
        assert buf.tobytes()[s:e] == varbyte_encode(
            np.array([v], dtype=np.uint64))


def _random_groups(rng, n_groups, max_size):
    """Groups of sorted-unique doc_ids with tf/dl — the shape both
    build kernels feed (np.unique output per group)."""
    ds, ts, ls, starts = [], [], [], []
    pos = 0
    for _ in range(n_groups):
        size = int(rng.integers(1, max_size))
        d = np.sort(rng.choice(np.arange(0, 10 * max_size, dtype=np.int64),
                               size=size, replace=False))
        ds.append(d)
        ts.append(rng.integers(1, 1000, size=size).astype(np.int64))
        ls.append(rng.integers(1, 5000, size=size).astype(np.int64))
        starts.append(pos)
        pos += size
    return (np.concatenate(ds), np.concatenate(ts), np.concatenate(ls),
            np.array(starts, dtype=np.int64), ds, ts, ls)


def test_encode_blocked_batch_byte_identical_per_group():
    rng = np.random.default_rng(7)
    for trial, (n_groups, max_size) in enumerate(
            [(1, 5), (50, 9), (200, 3), (8, 5 * BLOCK_SIZE), (1000, 2)]):
        d, t, dl, starts, ds, ts, ls = _random_groups(rng, n_groups, max_size)
        avgdl = float(dl.mean())
        out = encode_blocked_batch(d, t, dl, starts, avgdl)
        doc_b0 = np.cumsum(out["doc_lens"]) - out["doc_lens"]
        tf_b0 = np.cumsum(out["tf_lens"]) - out["tf_lens"]
        dl_b0 = np.cumsum(out["dl_lens"]) - out["dl_lens"]
        blk0 = (np.cumsum(out["blocks_per_group"])
                - out["blocks_per_group"])
        for g in range(n_groups):
            ref = encode_blocked(ds[g], ts[g], ls[g], avgdl)
            sl = slice(int(doc_b0[g]), int(doc_b0[g] + out["doc_lens"][g]))
            assert out["doc_buf"].tobytes()[sl] == ref["doc_bytes"], (trial, g)
            sl = slice(int(tf_b0[g]), int(tf_b0[g] + out["tf_lens"][g]))
            assert out["tf_buf"].tobytes()[sl] == ref["tf_bytes"]
            sl = slice(int(dl_b0[g]), int(dl_b0[g] + out["dl_lens"][g]))
            assert out["dl_buf"].tobytes()[sl] == ref["dl_bytes"]
            bsl = slice(int(blk0[g]), int(blk0[g] + out["blocks_per_group"][g]))
            assert out["block_last"][bsl].tolist() == ref["block_last"]
            assert out["block_max"][bsl].tolist() == ref["block_max"]
            assert out["doc_off"][bsl].tolist() == ref["doc_off"]
            assert out["tf_off"][bsl].tolist() == ref["tf_off"]
            assert out["dl_off"][bsl].tolist() == ref["dl_off"]
            assert int(out["n_docs"][g]) == ds[g].size


def test_encode_blocked_batch_impacts_per_group():
    """The stored impacts: per group, the r-th largest tf_part for each
    IMPACT_RANKS rank the group is big enough for — the same values
    from the batch encoder, the single-list encoder and a plain sort,
    and nothing for groups below the smallest rank."""
    from engine.codec import IMPACT_RANKS, tf_part

    rng = np.random.default_rng(5)
    sizes = [1, 9, 10, 11, 99, 100, 101, 3 * BLOCK_SIZE, 4]
    ds = [np.sort(rng.choice(10 ** 6, s, replace=False)).astype(np.int64)
          for s in sizes]
    ts = [rng.integers(1, 30, size=s).astype(np.int64) for s in sizes]
    ls = [rng.integers(1, 400, size=s).astype(np.int64) for s in sizes]
    starts = np.cumsum([0] + sizes[:-1]).astype(np.int64)
    avgdl = 120.0
    out = encode_blocked_batch(np.concatenate(ds), np.concatenate(ts),
                               np.concatenate(ls), starts, avgdl,
                               impact_ranks=IMPACT_RANKS)
    assert out["impacts_per_group"].tolist() == [
        sum(s >= r for r in IMPACT_RANKS) for s in sizes]
    i0 = np.concatenate(([0], np.cumsum(out["impacts_per_group"])))
    for g, s in enumerate(sizes):
        got = out["impacts"][i0[g]:i0[g + 1]].tolist()
        desc = np.sort(tf_part(ts[g], ls[g], avgdl))[::-1]
        assert got == [float(desc[r - 1]) for r in IMPACT_RANKS if s >= r]
        ref = encode_blocked(ds[g], ts[g], ls[g], avgdl,
                             impact_ranks=IMPACT_RANKS)
        assert got == ref["impacts"]
    # partial encodes (no ranks) skip the sort and emit no impacts
    assert "impacts" not in encode_blocked_batch(
        ds[0], ts[0], ls[0], np.zeros(1, dtype=np.int64), avgdl)
    z = np.empty(0, dtype=np.int64)
    empty = encode_blocked_batch(z, z, z, z, avgdl, impact_ranks=IMPACT_RANKS)
    assert empty["impacts"].size == 0


def test_decode_blocked_batch_matches_per_row():
    rng = np.random.default_rng(11)
    for n_rows, max_size in [(1, 4), (40, 7), (5, 4 * BLOCK_SIZE), (300, 2)]:
        encs, n_docs = [], []
        for _ in range(n_rows):
            size = int(rng.integers(1, max_size))
            d = np.sort(rng.choice(
                np.arange(0, 10 * max_size, dtype=np.int64),
                size=size, replace=False))
            t = rng.integers(1, 1000, size=size).astype(np.int64)
            dl = rng.integers(1, 5000, size=size).astype(np.int64)
            encs.append(encode_blocked(d, t, dl, avgdl=99.0))
            n_docs.append(size)
        dd, tt, ll, row_starts = decode_blocked_batch(
            [e["doc_bytes"] for e in encs],
            [e["tf_bytes"] for e in encs],
            [e["dl_bytes"] for e in encs],
            [e["doc_off"] for e in encs],
            n_docs,
        )
        assert row_starts.tolist() == (
            np.cumsum(n_docs) - np.array(n_docs)).tolist()
        for r, e in enumerate(encs):
            want = decode_blocked(e["doc_bytes"], e["tf_bytes"],
                                  e["dl_bytes"], e["doc_off"], e["tf_off"],
                                  e["dl_off"])
            lo = int(row_starts[r])
            hi = lo + n_docs[r]
            assert dd[lo:hi].tolist() == want[0].tolist()
            assert tt[lo:hi].tolist() == want[1].tolist()
            assert ll[lo:hi].tolist() == want[2].tolist()


def test_decode_blocked_batch_rejects_corruption():
    d = np.arange(0, 600, 2, dtype=np.int64)
    t = np.ones(d.size, dtype=np.int64)
    dl = np.full(d.size, 40, dtype=np.int64)
    e = encode_blocked(d, t, dl, avgdl=40.0)
    import pytest
    # wrong n_docs
    with pytest.raises(ValueError, match="stream lengths"):
        decode_blocked_batch([e["doc_bytes"]], [e["tf_bytes"]],
                             [e["dl_bytes"]], [e["doc_off"]], [d.size + 1])
    # a block offset off a value boundary
    bad_off = list(e["doc_off"])
    if len(bad_off) > 1:
        bad_off[1] += 1
    with pytest.raises(ValueError):
        decode_blocked_batch([e["doc_bytes"]], [e["tf_bytes"]],
                             [e["dl_bytes"]], [bad_off], [d.size])
    # truncated buffer
    with pytest.raises(ValueError):
        decode_blocked_batch([e["doc_bytes"][:-1]], [e["tf_bytes"]],
                             [e["dl_bytes"]], [e["doc_off"]], [d.size])


def test_encode_blocked_batch_empty_and_guards():
    import pytest
    z = np.empty(0, dtype=np.int64)
    out = encode_blocked_batch(z, z, z, z, avgdl=10.0)
    assert out["n_docs"].size == 0 and out["doc_buf"].size == 0
    d = np.array([1, 2, 3], dtype=np.int64)
    with pytest.raises(ValueError, match="non-empty groups"):
        encode_blocked_batch(d, d, d, np.array([0, 2, 2]), avgdl=10.0)


def _payload_cols():
    """Every serving column but the (term, salt) key and pb."""
    from engine.postings import ONEPASS_MERGED_SCHEMA

    return tuple(c for c in ONEPASS_MERGED_SCHEMA.fieldNames()
                 if c not in ("term", "salt", "pb"))


def _serving_rows(spark, out):
    """An index's serving rows keyed by (term, salt), as comparable
    tuples of every serving column."""
    from engine.postings import read_index

    from .oracle import row_key

    cols = _payload_cols()
    return {(r.term, r.salt): row_key(r, cols)
            for r in read_index(spark, out)["postings"].collect()}


def _oracle_rows(docs, avgdl, chunk):
    """tests/oracle.posting_rows in _serving_rows' shape."""
    from engine.codec import IMPACT_RANKS
    from engine.xxh import spark_xxhash64_str

    from .oracle import posting_rows, row_key

    cols = _payload_cols()
    want = {}
    for term, rows in posting_rows(docs, avgdl, chunk=chunk,
                                   impact_ranks=IMPACT_RANKS).items():
        for r in rows:
            want[(term, r["salt"])] = row_key(
                {**r, "term": term, "tid": spark_xxhash64_str(term)}, cols)
    return want


def test_merge_arrow_kernel_identical(spark, tmp_path):
    """The merge kernel over payload rows (full, incremental, then full
    again over three stream batches, each re-merging the standing
    serving rows) must write each (term, salt) row exactly as
    codec.encode_blocked encodes that chunk's doc-sorted postings of
    the whole corpus — same bytes, offsets, block maxima, impacts and
    the term's full df on every chunk (tests/oracle.posting_rows)."""
    import random

    from engine.postings import build_index, load_manifest, merge_partials
    from engine.streaming import start_incremental_index

    schema = "doc_id long, text string"
    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(30)]
    weights = [1.0 / (i + 1) for i in range(len(vocab))]
    # every doc has dl 3, so the stream batches never move avgdl
    docs = [(i, " ".join(rng.choices(vocab, weights=weights, k=3)))
            for i in range(300)]
    out, inp = str(tmp_path / "idx"), str(tmp_path / "in")
    build_index(spark, spark.createDataFrame(docs[:200], schema), out,
                n_shards=4, hot_df_threshold=8)
    # the incremental merge's base already holds the first stream
    # batch (only the new partial may be fed), and so does the last
    # full merge's (those docs are dropped from the base and re-added
    # from their partials)
    for lo, hi, mode in ((200, 235, False), (235, 270, True),
                         (270, 300, False)):
        spark.createDataFrame(docs[lo:hi], schema).write.mode(
            "overwrite").parquet(inp)
        start_incremental_index(spark, inp, out, avgdl_hint=3.0,
                                schema=schema).awaitTermination(120)
        m = merge_partials(spark, out, hot_df_threshold=8, incremental=mode)
        assert m["last_merge"] == ("incremental" if mode else "full")
        got = _serving_rows(spark, out)
        want = _oracle_rows(docs[:hi], load_manifest(out)["encode_avgdl"], 8)
        assert got == want
        assert max(salt for _, salt in got) > 0  # some terms are chunked


def test_default_build_rows_match_oracle_and_shard_batch(spark, tmp_path):
    """A default build writes its serving rows straight from the raw
    token rows (no partials); they must equal tests/oracle.posting_rows
    — byte for byte, chunked hot terms included — and equal a
    shard_batch=1 build's rows, which go through per-shard partials
    and the merge over them."""
    from engine.corpusgen import synth_corpus
    from engine.postings import build_index, load_manifest

    docs_df = (synth_corpus(spark, 300).withColumnRenamed("content", "text")
               .repartition(7))
    docs = [(r.doc_id, r.text) for r in docs_df.collect()]
    rows = {}
    for name, kw in (("default", {}), ("shard_batch", {"shard_batch": 1})):
        out = str(tmp_path / name)
        build_index(spark, docs_df, out, n_shards=2, hot_df_threshold=64,
                    **kw)
        rows[name] = _serving_rows(spark, out)
    assert not os.path.exists(str(tmp_path / "default" / "partials"))
    # the shard_batch build's partials were unlisted and swept at merge
    assert not [n for n in os.listdir(str(tmp_path / "shard_batch"
                                          / "partials"))
                if n.startswith("shard=")]
    want = _oracle_rows(docs, load_manifest(out)["encode_avgdl"], 64)
    assert rows["default"] == want
    assert rows["shard_batch"] == rows["default"]
    assert max(salt for _, salt in want) > 0  # some terms are chunked


def test_merge_kernel_raises_on_tid_collision():
    """Two dictionary rows with one tid (an xxhash64 collision) in a
    kernel partition must raise: their postings would merge into one
    list."""
    import pyarrow as pa
    import pytest

    from engine.postings import _merge_onepass_arrow_fn

    batch = pa.RecordBatch.from_pydict({
        "term": pa.array(["alpha", "beta", None, None], pa.string()),
        "tid": pa.array([7, 7, 7, 7], pa.int64()),
        "doc_id": pa.array([0, 0, 1, 2], pa.int64()),
        "dl": pa.array([0, 0, 3, 4], pa.int64()),
    })
    fn = _merge_onepass_arrow_fn(avgdl=3.0, pb_mod=8, chunk_postings=100)
    with pytest.raises(RuntimeError, match="collision"):
        list(fn(iter([batch])))
    # one dict row per tid: the same input merges to one row
    ok = batch.filter(pa.array([True, False, True, True]))
    (out,) = list(fn(iter([ok])))
    assert out.column(0).to_pylist() == ["alpha"]
    assert out.column(out.schema.names.index("df")).to_pylist() == [2]


def test_onepass_merge_equivalent_to_classic(spark, tmp_path):
    """A full merge over the standing serving rows (re-merged as the
    base, nothing new to add) must serve exactly the rows the build
    wrote: the base decodes and re-encodes byte-identically, chunk
    split included."""
    from engine.corpusgen import synth_corpus
    from engine.postings import build_index, merge_partials

    docs = (synth_corpus(spark, 300).withColumnRenamed("content", "text")
            .repartition(5))
    out = str(tmp_path / "idx")
    build_index(spark, docs, out, n_shards=2, hot_df_threshold=64)
    before = _serving_rows(spark, out)
    m = merge_partials(spark, out, hot_df_threshold=64, incremental=False)
    assert m["last_merge"] == "full" and m["postings_version"] == 2
    assert _serving_rows(spark, out) == before
    assert max(salt for _, salt in before) > 0
