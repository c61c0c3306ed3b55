"""Delta + varbyte blocked posting-list codec (SURVEY.md section 7.3).

The reference delegates this to Lucene's postings format (sorted docID
deltas, variable-length encoding, per-block skip data — created by
IndexWriter, LuceneIndexBuilder.java:35,41). Here it's a from-scratch
numpy implementation:

  * postings are split into blocks of BLOCK_SIZE (=128, like Lucene);
  * within a block, doc_ids are delta-encoded with the FIRST VALUE
    ABSOLUTE (deltas restart per block) so each block decodes
    independently — this is what makes block-max pruning real: a
    pruned block is never even decoded;
  * deltas / tfs / dls are varbyte-encoded (7 data bits per byte,
    little-endian groups, high bit = continuation);
  * per-doc dl (analyzed length) is stored alongside — the query path
    never joins doc_stats, exactly like Lucene reading norms from the
    index;
  * per block we keep: last doc_id (skip pointer), max BM25 tf-part
    (score upper bound before idf), and the byte offset of the block
    in each stream.

All codec loops are over byte positions (<=10 for 64-bit) or blocks
(n/128), never over postings — vectorized numpy inside Arrow batches,
no per-row Python.
"""

from __future__ import annotations

import numpy as np

from . import B, K1  # ONE source of BM25 constants (engine/__init__);
# a shadow copy here would let block_max bounds silently diverge from
# the JVM scoring path (search.tf_part_expr) if anyone retuned them

BLOCK_SIZE = 128

#: ranks of the per-chunk impacts stored with the merged serving table:
#: impacts[i] is the chunk's IMPACT_RANKS[i]-th largest tf_part at the
#: encode avgdl, present only when the chunk holds that many postings.
#: A term with w > 0 then has at least r docs scoring >= w * impact_r,
#: so serving lower-bounds the k-th score (the pruning threshold θ)
#: from metadata alone for every k <= the largest rank. 100 is the
#: reference's ranking depth.
IMPACT_RANKS = (10, 100)

#: per-list byte ceiling: every Spark/Arrow schema carries the block
#: byte offsets as int32, and Arrow/Parquet binary cells cap near 2 GiB
#: anyway — a single encoded chunk must stay far below that. The BUILD
#: is what enforces the bound structurally (hot terms split across
#: n_shards x n_salts chunks; the merge salts by (shard, payload));
#: this check turns a violation into a loud error instead of silent
#: int32 truncation in the pandas encode path / an OverflowError
#: mid-build in the arrow one.
MAX_LIST_BYTES = (1 << 31) - 1


def varbyte_encode(values: np.ndarray) -> bytes:
    """Vectorized varbyte encode of a non-negative int array.

    Delegates to varbyte_encode_batch (ADVICE r4: the two bodies were
    verbatim duplicates, so a wire-format tweak could silently diverge
    them) — a single-group batch emits exactly this list's bytes."""
    return varbyte_encode_batch(values)[0].tobytes()


def _varbyte_decode_starts(buf) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized varbyte decode -> (uint64 values, int64 byte start
    position of each value). Raises ValueError on a corrupt buffer (no
    terminator at all, or a truncated trailing value) instead of an
    opaque IndexError / a silently dropped value downstream.

    Accepts ANY buffer-protocol object (bytes, memoryview, pyarrow
    Buffer) ZERO-COPY — the decode kernels hand Arrow payload cells
    straight through as buffers (round-4 verdict #7), so a multi-MB
    hot-term payload is never duplicated just to be read."""
    b = np.frombuffer(memoryview(buf), dtype=np.uint8)
    if b.size == 0:
        return (np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.int64))
    ends = np.flatnonzero((b & 0x80) == 0)
    if ends.size == 0 or ends[-1] != b.size - 1:
        # all-continuation bytes, or bytes after the last terminator:
        # a partial write or bit flip — fail at the codec boundary
        raise ValueError(
            f"corrupt varbyte buffer: {b.size} bytes, "
            f"{ends.size} terminators, last terminator at "
            f"{int(ends[-1]) if ends.size else -1}")
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    vals = np.zeros(ends.size, dtype=np.uint64)
    width = ends - starts + 1
    for k in range(int(width.max())):
        mask = width > k
        pos = starts[mask] + k
        vals[mask] |= (b[pos].astype(np.uint64) & np.uint64(0x7F)) << np.uint64(7 * k)
    return vals, starts


def varbyte_decode(buf) -> np.ndarray:
    """Vectorized varbyte decode -> uint64 array."""
    return _varbyte_decode_starts(buf)[0]


def tf_part(tf: np.ndarray, dl: np.ndarray, avgdl: float,
            k1: float = K1, b: float = B) -> np.ndarray:
    """BM25 tf saturation (score contribution before idf)."""
    tf = np.asarray(tf, dtype=np.float64)
    dl = np.asarray(dl, dtype=np.float64)
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / float(avgdl)))


def encode_blocked(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    avgdl: float,
    block_size: int = BLOCK_SIZE,
    impact_ranks: tuple = (),
) -> dict:
    """Sort by doc_id and encode into independent blocks.

    Returns dict with doc_bytes/tf_bytes/dl_bytes (bytes), block_last
    (list[int]: each block's last doc_id — skip data in the Lucene
    sense, kept in the partials only; serving prunes on block_max and
    never reads it), block_max (list[float]), doc_off/tf_off/dl_off
    (list[int] byte start offsets per block). With impact_ranks (the
    merge passes IMPACT_RANKS) it also returns impacts (list[float]:
    the r-th largest tf_part for each rank r <= the list's length).
    """
    d = np.asarray(doc_ids, dtype=np.uint64)
    # the dominant build kernels feed np.unique output (already
    # ascending) — skip the argsort + three gather copies for them;
    # the O(n) monotonicity check is far cheaper than the sort
    if d.size > 1 and not bool(np.all(d[1:] >= d[:-1])):
        order = np.argsort(doc_ids, kind="stable")
        d = d[order]
        t = np.asarray(tfs, dtype=np.uint64)[order]
        dl = np.asarray(dls, dtype=np.uint64)[order]
    else:
        t = np.asarray(tfs, dtype=np.uint64)
        dl = np.asarray(dls, dtype=np.uint64)
    part = tf_part(t, dl, avgdl) if avgdl > 0 else np.zeros(d.size)

    n_blocks = (d.size + block_size - 1) // block_size
    doc_chunks, tf_chunks, dl_chunks = [], [], []
    block_last, block_max = [], []
    doc_off, tf_off, dl_off = [], [], []
    dpos = tpos = lpos = 0
    for i in range(n_blocks):
        lo, hi = i * block_size, min((i + 1) * block_size, d.size)
        seg = d[lo:hi]
        gaps = np.empty_like(seg)
        gaps[0] = seg[0]  # absolute restart per block
        gaps[1:] = seg[1:] - seg[:-1]
        db = varbyte_encode(gaps)
        tb = varbyte_encode(t[lo:hi])
        lb = varbyte_encode(dl[lo:hi])
        doc_off.append(dpos); tf_off.append(tpos); dl_off.append(lpos)
        dpos += len(db); tpos += len(tb); lpos += len(lb)
        doc_chunks.append(db); tf_chunks.append(tb); dl_chunks.append(lb)
        block_last.append(int(seg[-1]))
        block_max.append(float(part[lo:hi].max()) if hi > lo else 0.0)
    if max(dpos, tpos, lpos) > MAX_LIST_BYTES:
        raise ValueError(
            f"encoded posting list exceeds the int32 offset ceiling "
            f"({max(dpos, tpos, lpos)} bytes > {MAX_LIST_BYTES}): the "
            f"build must split this term across more shards/salts "
            f"(hot_df_threshold / n_salts) before encoding")
    out = {
        "doc_bytes": b"".join(doc_chunks),
        "tf_bytes": b"".join(tf_chunks),
        "dl_bytes": b"".join(dl_chunks),
        "block_last": block_last,
        "block_max": block_max,
        "doc_off": doc_off,
        "tf_off": tf_off,
        "dl_off": dl_off,
    }
    if impact_ranks:
        desc = np.sort(part)[::-1]
        out["impacts"] = [float(desc[r - 1]) for r in impact_ranks
                          if d.size >= r]
    return out


def decode_blocked(
    doc_bytes, tf_bytes, dl_bytes, doc_off, tf_off, dl_off, keep=None
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode a blocked posting list; ``keep`` (iterable of block
    indices — a SET: duplicates collapse, out-of-range raises) decodes
    only those blocks — pruned blocks cost zero work.

    The full decode (keep=None) — the merge / compaction / unpruned
    serving path — runs ONE varbyte pass per stream and fixes the
    per-block delta restarts vectorized (subtract each block's
    preceding running total), instead of a 3-calls-per-block Python
    loop whose per-call overhead dominated at 128-value blocks.

    Payloads may be any buffer-protocol objects (bytes, memoryview,
    pyarrow Buffer); they are read zero-copy."""
    doc_bytes = memoryview(doc_bytes)
    tf_bytes = memoryview(tf_bytes)
    dl_bytes = memoryview(dl_bytes)
    n_blocks = len(doc_off)
    if keep is None:
        if n_blocks == 0:
            z = np.empty(0, dtype=np.int64)
            return z, z.copy(), z.copy()
        gaps, vstarts = _varbyte_decode_starts(doc_bytes)
        t = varbyte_decode(tf_bytes)
        lv = varbyte_decode(dl_bytes)
        if not (gaps.size == t.size == lv.size):
            raise ValueError(
                f"corrupt posting payload: stream lengths differ "
                f"(doc {gaps.size}, tf {t.size}, dl {lv.size})")
        # value index where each block starts: its first value's byte
        # position is exactly the stored block offset. Validate that
        # every stored offset really falls on a value boundary inside
        # the stream (ADVICE r4: an offset past the end made
        # vstarts[vs] raise an opaque IndexError; a mid-value offset
        # silently misattributed postings) — same check as the batch
        # decoder.
        off = np.asarray(doc_off, dtype=np.int64)
        vs = np.searchsorted(vstarts, off)
        if (vs >= vstarts.size).any() or not np.array_equal(
                vstarts[vs], off):
            raise ValueError(
                "corrupt posting payload: a block offset does not fall "
                "on a varbyte value boundary inside the stream")
        c = np.cumsum(gaps, dtype=np.uint64)
        # per-block base = running total just before the block (its
        # first gap is ABSOLUTE, so subtracting the base restores the
        # in-block cumsum for every block at once)
        base = np.where(vs > 0, c[np.maximum(vs - 1, 0)], np.uint64(0))
        counts = np.diff(np.append(vs, gaps.size))
        d = c - np.repeat(base, counts)
        return (d.astype(np.int64), t.astype(np.int64),
                lv.astype(np.int64))
    idxs = sorted({int(i) for i in keep})
    if idxs and (idxs[0] < 0 or idxs[-1] >= n_blocks):
        raise ValueError(
            f"keep block indices out of range [0, {n_blocks}): "
            f"{[i for i in idxs if i < 0 or i >= n_blocks][:5]}")
    d_parts, t_parts, l_parts = [], [], []
    for i in idxs:
        d_end = doc_off[i + 1] if i + 1 < n_blocks else len(doc_bytes)
        t_end = tf_off[i + 1] if i + 1 < n_blocks else len(tf_bytes)
        l_end = dl_off[i + 1] if i + 1 < n_blocks else len(dl_bytes)
        gaps = varbyte_decode(doc_bytes[doc_off[i]:d_end])
        d_parts.append(np.cumsum(gaps, dtype=np.uint64))
        t_parts.append(varbyte_decode(tf_bytes[tf_off[i]:t_end]))
        l_parts.append(varbyte_decode(dl_bytes[dl_off[i]:l_end]))
    if not d_parts:
        z = np.empty(0, dtype=np.int64)
        return z, z.copy(), z.copy()
    return (
        np.concatenate(d_parts).astype(np.int64),
        np.concatenate(t_parts).astype(np.int64),
        np.concatenate(l_parts).astype(np.int64),
    )


def varbyte_encode_batch(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized varbyte encode of a non-negative int array, returning
    ``(uint8 buffer, int64 bytes-per-value)`` so a caller encoding MANY
    lists in one pass can slice the buffer back apart with a cumsum of
    the per-value byte counts. Same wire format as varbyte_encode."""
    a = np.asarray(values, dtype=np.uint64)
    if a.size == 0:
        return (np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64))
    nb = np.ones(a.size, dtype=np.int64)
    v = a >> np.uint64(7)
    while v.any():
        nb += (v > 0).astype(np.int64)
        v >>= np.uint64(7)
    out = np.zeros(int(nb.sum()), dtype=np.uint8)
    starts = np.zeros(a.size, dtype=np.int64)
    starts[1:] = np.cumsum(nb)[:-1]
    for k in range(int(nb.max())):
        mask = nb > k
        byte = ((a[mask] >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nb[mask] - 1 != k)
        out[starts[mask] + k] = byte | (cont.astype(np.uint8) << np.uint8(7))
    return out, nb


def encode_blocked_batch(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    group_starts: np.ndarray,
    avgdl: float,
    block_size: int = BLOCK_SIZE,
    impact_ranks: tuple = (),
) -> dict:
    """Encode MANY posting lists in one vectorized pass.

    ``doc_ids``/``tfs``/``dls`` hold the postings of all groups
    back-to-back; ``group_starts`` (int64, first element 0, strictly
    increasing, every group non-empty) marks where each group begins.
    doc_ids must already be sorted ascending WITHIN each group (the
    callers feed np.unique output per group, or a (group, doc) lexsort).

    Per group the emitted bytes are IDENTICAL to encode_blocked on that
    group's slice (pinned by tests): same block split, same absolute
    restart per block, same varbyte wire format. The point is the call
    count — three varbyte passes TOTAL instead of three per 128-value
    block, which is what the per-group overhead measured on at design
    regime vocabularies (10^5+ groups per task).

    Returns a columnar dict:
      n_docs        int64[G]   postings per group
      doc_buf/tf_buf/dl_buf    uint8[*] concatenated payloads (group order)
      doc_lens/tf_lens/dl_lens int64[G] per-group payload byte lengths
      blocks_per_group int64[G]
      block_last    int64[B]   flattened per-block values (B = total blocks)
      block_max     float64[B]
      doc_off/tf_off/dl_off    int32[B] per-block byte starts (group-relative)
    and, when ``impact_ranks`` is given (the merge kernels pass
    IMPACT_RANKS; partials skip the sort):
      impacts       float64[*] per group, the r-th largest tf_part for
                    each rank r <= the group's size, flattened
      impacts_per_group int64[G]
    """
    d = np.asarray(doc_ids, dtype=np.uint64)
    t = np.asarray(tfs, dtype=np.uint64)
    dl = np.asarray(dls, dtype=np.uint64)
    gs = np.asarray(group_starts, dtype=np.int64)
    n, G = d.size, gs.size
    if G == 0 or n == 0:
        z8 = np.empty(0, dtype=np.uint8)
        zi = np.empty(0, dtype=np.int64)
        out = {"n_docs": np.zeros(G, dtype=np.int64),
               "doc_buf": z8, "tf_buf": z8.copy(), "dl_buf": z8.copy(),
               "doc_lens": np.zeros(G, dtype=np.int64),
               "tf_lens": np.zeros(G, dtype=np.int64),
               "dl_lens": np.zeros(G, dtype=np.int64),
               "blocks_per_group": np.zeros(G, dtype=np.int64),
               "block_last": zi, "block_max": np.empty(0, dtype=np.float64),
               "doc_off": np.empty(0, dtype=np.int32),
               "tf_off": np.empty(0, dtype=np.int32),
               "dl_off": np.empty(0, dtype=np.int32)}
        if impact_ranks:
            out["impacts"] = np.empty(0, dtype=np.float64)
            out["impacts_per_group"] = np.zeros(G, dtype=np.int64)
        return out
    sizes = np.diff(np.append(gs, n))
    if np.any(sizes <= 0):
        raise ValueError("encode_blocked_batch requires non-empty groups "
                         "with strictly increasing group_starts")
    # position of each posting within its group -> block structure
    pos = np.arange(n, dtype=np.int64) - np.repeat(gs, sizes)
    block_starts = np.flatnonzero(pos % block_size == 0)
    # every group start is a block start, so blocks never span groups
    gidx_block = np.repeat(np.arange(G, dtype=np.int64),
                           sizes)[block_starts]
    blocks_per_group = np.bincount(gidx_block, minlength=G)
    # delta encode with ABSOLUTE restart at each block start
    gaps = d.copy()
    gaps[1:] -= d[:-1]
    gaps[block_starts] = d[block_starts]
    doc_buf, nb_d = varbyte_encode_batch(gaps)
    tf_buf, nb_t = varbyte_encode_batch(t)
    dl_buf, nb_l = varbyte_encode_batch(dl)
    part = tf_part(t, dl, avgdl) if avgdl > 0 else np.zeros(n)

    block_ends = np.append(block_starts[1:], n) - 1
    block_last = d[block_ends].astype(np.int64)
    block_max = np.maximum.reduceat(part, block_starts)

    gfirst_block = np.cumsum(blocks_per_group) - blocks_per_group

    def _offsets(nb):
        blen = np.add.reduceat(nb, block_starts)
        off_global = np.cumsum(blen) - blen
        gbase = off_global[gfirst_block]
        off = off_global - np.repeat(gbase, blocks_per_group)
        glens = np.add.reduceat(blen, gfirst_block)
        if glens.max(initial=0) > MAX_LIST_BYTES:
            raise ValueError(
                f"encoded posting list exceeds the int32 offset ceiling "
                f"({int(glens.max())} bytes > {MAX_LIST_BYTES}): the "
                f"build must split this term across more shards/salts "
                f"(hot_df_threshold / n_salts) before encoding")
        return off.astype(np.int32), glens
    doc_off, doc_lens = _offsets(nb_d)
    tf_off, tf_lens = _offsets(nb_t)
    dl_off, dl_lens = _offsets(nb_l)
    out = {"n_docs": sizes, "doc_buf": doc_buf, "tf_buf": tf_buf,
           "dl_buf": dl_buf, "doc_lens": doc_lens, "tf_lens": tf_lens,
           "dl_lens": dl_lens, "blocks_per_group": blocks_per_group,
           "block_last": block_last, "block_max": block_max,
           "doc_off": doc_off, "tf_off": tf_off, "dl_off": dl_off}
    if impact_ranks:
        out["impacts"], out["impacts_per_group"] = _group_impacts(
            part, sizes, impact_ranks)
    return out


def _group_impacts(part: np.ndarray, sizes: np.ndarray,
                   ranks: tuple) -> tuple[np.ndarray, np.ndarray]:
    """Per group, the r-th largest of ``part`` for every rank r the
    group is big enough for, flattened in (group, rank) order, and the
    count per group. One lexsort over the postings of the groups that
    hold at least the smallest rank; smaller groups cost nothing."""
    r = np.asarray(ranks, dtype=np.int64)
    has = sizes[:, None] >= r[None, :]
    per_group = has.sum(axis=1).astype(np.int64)
    if not has.any():
        return np.empty(0, dtype=np.float64), per_group
    big = has[:, 0]
    sel = np.flatnonzero(np.repeat(big, sizes))
    gidx = np.repeat(np.arange(sizes.size, dtype=np.int64), sizes)[sel]
    # within each big group, descending tf_part
    desc = part[sel][np.lexsort((-part[sel], gidx))]
    bsizes = np.where(big, sizes, 0)
    bstart = np.cumsum(bsizes) - bsizes
    pos = bstart[:, None] + r[None, :] - 1
    return desc[pos[has]], per_group


def decode_blocked_batch(
    doc_bufs, tf_bufs, dl_bufs, doc_offs, n_docs_per_row
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Full-decode MANY blocked posting lists in one vectorized pass.

    ``doc_bufs``/``tf_bufs``/``dl_bufs``: iterables of per-row payload
    buffers (bytes-like); ``doc_offs``: iterable of per-row block byte
    offset lists (the stored doc_off column); ``n_docs_per_row``: the
    stored n_docs column (used only for the stream-consistency check).

    Returns ``(d, t, dl, row_starts)`` — the concatenated postings of
    all rows in input order plus each row's start index, equal per row
    to decode_blocked(keep=None) on that row (pinned by tests). One
    varbyte pass per stream for the WHOLE batch; the per-block delta
    restarts of every row are repaired with the same
    cumsum-minus-repeated-base subtraction as the single-row fast path,
    using globalized block byte offsets.

    Row buffers may be any buffer-protocol objects (bytes, pyarrow
    Buffers from the decode kernels) — each is read zero-copy; the
    only copy is the single unavoidable concatenation per stream."""
    doc_list = [memoryview(b) for b in doc_bufs]
    doc_all = b"".join(doc_list)
    tf_all = b"".join(memoryview(b) for b in tf_bufs)
    dl_all = b"".join(memoryview(b) for b in dl_bufs)
    expected = np.asarray(n_docs_per_row, dtype=np.int64)
    if not doc_all:
        z = np.empty(0, dtype=np.int64)
        if expected.sum(initial=0) != 0:
            raise ValueError("corrupt posting payload: empty byte streams "
                             "but non-zero n_docs")
        return z, z.copy(), z.copy(), np.zeros(expected.size, dtype=np.int64)
    gaps, vstarts = _varbyte_decode_starts(doc_all)
    t = varbyte_decode(tf_all)
    lv = varbyte_decode(dl_all)
    if not (gaps.size == t.size == lv.size == int(expected.sum())):
        raise ValueError(
            f"corrupt posting payload: stream lengths differ "
            f"(doc {gaps.size}, tf {t.size}, dl {lv.size}, "
            f"n_docs {int(expected.sum())})")
    row_lens = np.fromiter((len(b) for b in doc_list), dtype=np.int64,
                           count=len(doc_list))
    row_byte_base = np.cumsum(row_lens) - row_lens
    off_arrays = [np.asarray(o, dtype=np.int64) for o in doc_offs]
    blocks_per_row = np.fromiter((o.size for o in off_arrays),
                                 dtype=np.int64, count=len(off_arrays))
    if blocks_per_row.sum(initial=0) == 0:
        raise ValueError("corrupt posting payload: non-empty byte streams "
                         "but zero blocks")
    global_block_byte = (np.concatenate(off_arrays)
                         + np.repeat(row_byte_base, blocks_per_row))
    vs = np.searchsorted(vstarts, global_block_byte)
    # bounds first (ADVICE r4: an offset past the end of the stream
    # made vstarts[vs] raise an opaque IndexError), then alignment
    if (vs >= vstarts.size).any() or not np.array_equal(
            vstarts[vs], global_block_byte):
        raise ValueError("corrupt posting payload: a block offset does not "
                         "fall on a varbyte value boundary")
    row_starts = np.cumsum(expected) - expected
    # per-row cross-check (ADVICE r4): each row's FIRST block must
    # start exactly at value index row_starts[r] — otherwise
    # mutually-compensating per-row n_docs corruption (total preserved)
    # would silently shift postings between neighboring rows' tids.
    # Nearly free: vs and row_starts are already in hand.
    has_blocks = blocks_per_row > 0
    first_block = (np.cumsum(blocks_per_row) - blocks_per_row)[has_blocks]
    if not np.array_equal(vs[first_block], row_starts[has_blocks]):
        raise ValueError(
            "corrupt posting payload: a row's n_docs does not match "
            "where its first block starts in the decoded stream")
    c = np.cumsum(gaps, dtype=np.uint64)
    base = np.where(vs > 0, c[np.maximum(vs - 1, 0)], np.uint64(0))
    counts = np.diff(np.append(vs, gaps.size))
    d = c - np.repeat(base, counts)
    return (d.astype(np.int64), t.astype(np.int64), lv.astype(np.int64),
            row_starts)
