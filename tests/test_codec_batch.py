"""Batched codec kernels: encode_blocked_batch / decode_blocked_batch
must be value- and byte-identical to the per-group / per-row codec they
replace on the design-regime hot paths (10^5+ groups per task, where
three varbyte calls per 128-value block is pure per-call overhead)."""

from __future__ import annotations

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


def test_merge_arrow_kernel_identical(spark, tmp_path):
    """The batched mapInArrow merge (merge_plan, the incremental path)
    must write each (term, salt) row exactly as codec.encode_blocked
    encodes that row's doc-sorted postings — same bytes, offsets, block
    maxima and impacts — and each term's rows together must hold
    exactly the test oracle's postings, with the term's full df on
    every row."""
    from engine.codec import IMPACT_RANKS, decode_blocked, encode_blocked
    from engine.corpusgen import synth_corpus
    from engine.postings import build_index, merge_plan

    from .oracle import postings, row_key

    docs = synth_corpus(spark, 300).withColumnRenamed("content", "text")
    out = str(tmp_path / "idx")
    build_index(spark, docs, out, n_shards=4, n_salts=2)
    # low hot threshold so several terms take the salted path
    rows = merge_plan(spark, out, avgdl=10.0, hot_df_threshold=8,
                      n_salts=2).collect()
    cols = ("n_docs", "doc_bytes", "tf_bytes", "dl_bytes", "impacts",
            "block_max", "doc_off", "tf_off", "dl_off")
    merged: dict = {}
    n_rows: dict = {}
    for r in rows:
        d, t, dl = decode_blocked(r.doc_bytes, r.tf_bytes, r.dl_bytes,
                                  r.doc_off, r.tf_off, r.dl_off)
        enc = encode_blocked(d, t, dl, 10.0, impact_ranks=IMPACT_RANKS)
        enc["n_docs"] = int(d.size)
        assert list(d) == sorted(d), r.term
        assert row_key(r, cols) == row_key(enc, cols), (r.term, r.salt)
        merged.setdefault((r.term, r.df), []).extend(
            zip(d.tolist(), t.tolist(), dl.tolist()))
        n_rows[r.term] = n_rows.get(r.term, 0) + 1
    want = postings([(r.doc_id, r.text) for r in docs.collect()])
    assert {k: sorted(v) for k, v in merged.items()} == {
        (t, len(ps)): ps for t, ps in want.items()}
    assert max(n_rows.values()) > 1  # some terms took the salted path


def test_mapside_combine_build_identical_to_shuffle(spark, tmp_path):
    """combine='mapside' (no token exchange — per-partition partials,
    merge does the by-term combine) must produce a merged index
    byte-identical to combine='shuffle': a doc's token rows never
    leave their partition, so per-(doc, term) tf is complete map-side
    and the merged (tid, salt) groups hold identical posting sets."""
    from engine.corpusgen import synth_corpus
    from engine.postings import build_index, read_index

    docs = (synth_corpus(spark, 300).withColumnRenamed("content", "text")
            .repartition(7))  # several partitions so partials differ
    rows = {}
    for combine in ("shuffle", "mapside"):
        out = str(tmp_path / combine)
        build_index(spark, docs, out, n_shards=2, n_salts=2,
                    combine=combine)
        idx = read_index(spark, out)
        rows[combine] = sorted(
            (r.term, r.salt, r.df, r.n_docs, bytes(r.doc_bytes),
             bytes(r.tf_bytes), bytes(r.dl_bytes), tuple(r.impacts),
             tuple(r.block_max), tuple(r.doc_off), tuple(r.tf_off),
             tuple(r.dl_off))
            for r in idx["postings"].collect())
        # mapside partials: more rows per tid than shards is expected
    assert rows["shuffle"] == rows["mapside"]
    import pytest
    with pytest.raises(ValueError, match="combine"):
        build_index(spark, docs, str(tmp_path / "bad"), combine="x")


def test_onepass_merge_equivalent_to_classic(spark, tmp_path):
    """The one-pass full merge (single pb-partitioned exchange,
    in-kernel df, dict rows riding the shuffle, chunk-split hot terms)
    must serve the same index as merge_plan, the salted three-pass plan
    the incremental merge runs: same (term, df) table, same decoded
    postings per term, and multiple rows for over-threshold terms."""
    from engine.codec import decode_blocked
    from engine.corpusgen import synth_corpus
    from engine.postings import build_index, merge_plan, read_index

    docs = (synth_corpus(spark, 300).withColumnRenamed("content", "text")
            .repartition(5))
    out = str(tmp_path / "idx")
    # low threshold so several terms take the split path
    build_index(spark, docs, out, n_shards=2, n_salts=2,
                hot_df_threshold=64)
    idx = read_index(spark, out)
    tables = {}
    for impl, rows in (
            ("onepass", idx["postings"].collect()),
            ("merge_plan", merge_plan(spark, out, idx["encode_avgdl"],
                                      hot_df_threshold=64,
                                      n_salts=2).collect())):
        decoded = {}
        hot_rows = {}
        for r in rows:
            d, t, dl = decode_blocked(
                r.doc_bytes, r.tf_bytes, r.dl_bytes,
                r.doc_off, r.tf_off, r.dl_off)
            key = (r.term, int(r.df))
            cur = decoded.setdefault(key, [])
            cur.extend(zip(d.tolist(), t.tolist(), dl.tolist()))
            hot_rows[r.term] = hot_rows.get(r.term, 0) + 1
        tables[impl] = {k: sorted(v) for k, v in decoded.items()}
        if impl == "onepass":
            # chunk split GUARANTEES >1 rows past the threshold
            # (hash-salting only spreads probabilistically)
            for (term, df), postings in tables[impl].items():
                if df > 64:
                    assert hot_rows[term] > 1, (impl, term, df)
    assert tables["merge_plan"] == tables["onepass"]
