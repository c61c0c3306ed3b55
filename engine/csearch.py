"""BM25 serving over the compressed index, with block-max pruning.

Reference analog: LuceneQueryBuilder.java:163 scores every candidate of
the OR query (Lucene 7.2 predates block-max WAND); the north_star asks
for a block-max-style prune, so this module implements a safe
MaxScore/BMW-flavored two-phase plan expressed as DataFrame ops
(SURVEY.md section 4, last row):

  phase 0  postings rows filtered with term IN (<query terms>) — the
           IN list is pushed into the parquet scan, so only matching
           row groups are read. The byte payloads are NEVER joined
           with the query table: each payload row decodes ONCE into
           query-independent (term, doc_id, tf_part) rows, and the
           tiny broadcast (query_id, term, w) table joins onto those
           numeric rows JVM-side — batch cost is proportional to the
           UNIQUE terms of the batch, not Σ per-query terms.
  phase 1  threshold θ(q), a lower bound on the final k-th score, from
           metadata alone: every merged chunk stores its r-th largest
           tf_part for r in codec.IMPACT_RANKS, so a term t with w_t > 0
           has at least r docs scoring >= w_t * impact_r, and
           θ(q) = max_t w_t * impact_r(t) * min(1, avgdl/encode_avgdl)
           for the smallest rank r >= k (the avgdl factor keeps it a
           lower bound under drift, the mirror of the block-max bfac).
           The per-term impacts ride the metadata aggregation that
           phase 2 needs anyway, so θ costs no Spark job. Exact
           fallback (_decode_theta) when standing tombstones may
           support an impact, when k exceeds the largest rank, or on an
           index without impacts: fully score ONLY the rarest
           (highest-idf) term of each query; its k-th best single-term
           score is the bound.
  phase 2  block filter: a block b of term t is provably irrelevant
           for query q if
               UBsum(q) - w_t*tmax_t + w_t*block_max_b < θ(q)
           where w_t = qtf*idf and UBsum = Σ_t w_t*tmax_t is the
           best-possible doc score. Every doc in such a block scores
           below θ, so it cannot enter the top-k, and any partial score
           it still receives from other terms lands below θ and is cut
           by the final top-k window — results stay RANK-IDENTICAL to
           the unpruned plan (tested). Serving decodes the UNION of
           the sharing queries' keep lists (one threshold scalar per
           term): skipping only blocks every sharing query may skip is
           a superset decode, which is always safe.
  phase 3  decode only surviving blocks (blocks are delta-restarted, so
           pruned blocks are never touched), compute tf_parts in
           numpy, then aggregate per (query, doc) one of two ways
           (AGG_IMPL): 'join' — JVM-side broadcast weight join +
           groupBy(query,doc).sum — for small indexes, or 'matmul' —
           doc-partitioned dense matmul emitting per-partition top-k
           candidates (_matmul_topk_iter) — at scale, where the join
           plan's per-(query,term) fan-out dominates the batch wall.
           Both end in the same top-k window and are rank-identical
           (pytest-gated).

Single query (_single_query_topk): one query, served unpruned with the
join aggregation on an index below the spread bar (n_docs <
AUTO_PRUNE_MIN_DOCS — prune="auto" sends every single query there),
runs as ONE Spark job of one task. At that size latency is the number
of jobs, not per-row work, and the batch plan pays four (the query
table's broadcast, two exchanges, the final stage). The payload rows
coalesce to one partition and decode; a groupBy(doc_id) sums
(qtf * idf(df)) * tf_part with qtf read from a literal term -> qtf map,
the join route's own per-term chain over the payload's own df. The
child is one partition, so the aggregate and the top-k window need no
Exchange, and the literal map replaces the broadcast join. Warm and
cold singles take this same plan; batches and indexes at or above the
bar keep theirs.
"""

from __future__ import annotations

import math
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType,
)
from pyspark.sql.window import Window

from . import TOP_K
from .codec import decode_blocked, tf_part
from .localrel import in_list, local_df, sql_literal
from .search import idf_expr, idf_sql


#: which decode kernel serves: 'arrow' (default) or 'pandas' — the
#: measured A/B lives in BASELINE.md round 4; both are result-identical
DECODE_IMPL = os.environ.get("SPARK_GRAFT_DECODE_IMPL", "arrow")


def _decode_impl() -> str:
    """Validated DECODE_IMPL: mirror build_index(encode_impl=...) — a
    typo'd env value must fail loudly, not silently mislabel an A/B
    measurement. One validator for every kernel-selection site."""
    if DECODE_IMPL not in ("arrow", "pandas"):
        raise ValueError(
            f"SPARK_GRAFT_DECODE_IMPL must be 'arrow' or 'pandas', got "
            f"{DECODE_IMPL!r}")
    return DECODE_IMPL


def _matmul_parts_factor() -> int:
    """Reduce-partition wave factor of the matmul exchange (width =
    defaultParallelism x factor). Swept in tools/wave_exp.py — a WEAK
    knob; 2 won on wall/variance/efficiency (BASELINE.md round 4)."""
    return int(os.environ.get("SPARK_GRAFT_MATMUL_PARTS_FACTOR", "2"))


#: the posting-row columns every decode kernel reads
PAYLOAD_COLS = ("term", "doc_bytes", "tf_bytes", "dl_bytes",
                "doc_off", "tf_off", "dl_off")

TFPART_ROWS = StructType(
    [
        StructField("term", StringType(), False),
        StructField("doc_id", LongType(), False),
        StructField("tf_part", DoubleType(), False),
    ]
)

#: df-passthrough variant (round 6): the payload row's own `df` column
#: rides through the decode, so the unpruned join route can compute
#: idf/w JVM-side from the decoded rows directly — no per-term metadata
#: aggregation job at all (every chunk of a term carries the term's
#: full df; merge_plan/merge_onepass join it per tid onto every row)
TFPART_DF_ROWS = StructType(
    [
        StructField("term", StringType(), False),
        StructField("doc_id", LongType(), False),
        StructField("tf_part", DoubleType(), False),
        StructField("df", LongType(), False),
    ]
)


def _decode_tf_iter(avgdl: float, keep_col: str | None,
                    with_df: bool = False):
    """mapInPandas kernel: posting rows -> (term, doc_id, tf_part).

    The query-independent half of the score (BM25 tf saturation): each
    payload row is decoded ONCE regardless of how many queries share
    the term — the per-query weight joins onto these small numeric rows
    JVM-side afterwards. This is what makes batch serving scale-safe:
    the multi-MB byte payload of a hot term is never replicated per
    query (a 400-query zipf batch OOM'd a 10g executor under the old
    per-(query,term) decode)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            terms, docs, parts, dfs = [], [], [], []
            for r in pdf.itertuples(index=False):
                keep = getattr(r, keep_col) if keep_col else None
                if keep_col and keep is not None and len(keep) == 0:
                    continue
                d, t, dl = decode_blocked(
                    r.doc_bytes, r.tf_bytes, r.dl_bytes,
                    r.doc_off, r.tf_off, r.dl_off,
                    keep=None if keep is None else keep,
                )
                if d.size == 0:
                    continue
                terms.append(np.full(d.size, r.term, dtype=object))
                docs.append(d)
                parts.append(tf_part(t, dl, avgdl))
                if with_df:
                    dfs.append(np.full(d.size, r.df, dtype=np.int64))
            if terms:
                out = {
                    "term": np.concatenate(terms),
                    "doc_id": np.concatenate(docs),
                    "tf_part": np.concatenate(parts),
                }
                if with_df:
                    out["df"] = np.concatenate(dfs)
                yield pd.DataFrame(out)

    return fn


def _decode_tf_arrow_iter(avgdl: float, keep_col: str | None,
                          with_df: bool = False):
    """mapInArrow twin of _decode_tf_iter: byte payloads are read
    straight from the Arrow batch as buffers and the output batch is
    assembled from the numpy arrays. with_df passes the payload row's
    df column through (see TFPART_DF_ROWS)."""
    import pyarrow as pa

    fields = [
        ("term", pa.string()),
        ("doc_id", pa.int64()),
        ("tf_part", pa.float64()),
    ]
    if with_df:
        fields.append(("df", pa.int64()))
    out_schema = pa.schema(fields)

    def fn(batches):
        for b in batches:
            names = b.schema.names
            cols = {n: b.column(i) for i, n in enumerate(names)}
            term = cols["term"]
            db, tb, lb = cols["doc_bytes"], cols["tf_bytes"], cols["dl_bytes"]
            do, to, lo = cols["doc_off"], cols["tf_off"], cols["dl_off"]
            dfc = cols["df"] if with_df else None
            kc = cols[keep_col] if keep_col else None
            terms, docs, parts, dfs = [], [], [], []
            for i in range(b.num_rows):
                keep = kc[i].as_py() if kc is not None else None
                if kc is not None and keep is not None and len(keep) == 0:
                    continue
                # payload cells as zero-copy pa.Buffer views; offset
                # lists as zero-copy numpy views of the list values
                # (round-4 verdict #7 — .as_py() made a bytes copy per
                # multi-MB hot-term payload; the codec reads buffers)
                d, t, dl = decode_blocked(
                    db[i].as_buffer(), tb[i].as_buffer(), lb[i].as_buffer(),
                    np.asarray(do[i].values), np.asarray(to[i].values),
                    np.asarray(lo[i].values),
                    keep=keep,
                )
                if d.size == 0:
                    continue
                terms.append(np.full(d.size, term[i].as_py(), dtype=object))
                docs.append(d.astype(np.int64, copy=False))
                parts.append(tf_part(t, dl, avgdl))
                if with_df:
                    dfs.append(np.full(d.size, dfc[i].as_py(),
                                       dtype=np.int64))
            if terms:
                arrays = [
                    pa.array(np.concatenate(terms), type=pa.string()),
                    pa.array(np.concatenate(docs), type=pa.int64()),
                    pa.array(np.concatenate(parts), type=pa.float64()),
                ]
                if with_df:
                    arrays.append(pa.array(np.concatenate(dfs),
                                           type=pa.int64()))
                yield pa.RecordBatch.from_arrays(arrays, schema=out_schema)

    return fn


def _decode_tf_parts(rows: DataFrame, avgdl: float,
                     keep_col: str | None,
                     spread: bool = False,
                     with_df: bool = False) -> DataFrame:
    """Apply the configured decode kernel, emitting query-independent
    (term, doc_id, tf_part) rows (decode once per payload row).

    spread=True round-robin repartitions the input first: the
    tid-bucketed layout co-locates ALL posting rows of a term (every
    shard x salt chunk) in one pb partition, so a scan split holding a
    hot term would otherwise decode it — and run the pipelined weight
    join + partial aggregate over its df x sharing-queries fan-out —
    in a SINGLE task (measured on the 500k-doc/300k-term fixture: one
    task 267 s CPU / 91M partial rows vs a 0.9 s median; the whole
    400-query batch WAS that straggler, 311 s -> 41 s with the
    spread). Spreading the (post-pruning) payload rows caps a task's
    decode work at ~one chunk: the hottest salted term has
    n_shards*n_salts chunks, so its decode+join fans out across that
    many tasks. The shuffle moves only bytes that will actually be
    decoded — phase 2's block filter has already dropped pruned
    blocks' terms — and is the batch-serving analog of the build's
    salted hot-term split. Callers gate it on index size (the same
    n_docs >= AUTO_PRUNE_MIN_DOCS bar as auto-prune): on a tiny index
    the extra shuffle stage is pure latency (measured +0.5 s on the
    sf0.1 p50), while at scale the skew it removes is the whole batch
    wall."""
    if spread:
        sc = rows.sparkSession.sparkContext
        rows = rows.repartition(sc.defaultParallelism * 4)
    schema = TFPART_DF_ROWS if with_df else TFPART_ROWS
    if _decode_impl() == "arrow":
        return rows.mapInArrow(
            _decode_tf_arrow_iter(avgdl, keep_col, with_df), schema)
    return rows.mapInPandas(_decode_tf_iter(avgdl, keep_col, with_df),
                            schema)


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k by (score desc, doc_id asc), built as parsed
    expressions: two py4j calls instead of one per column operator."""
    return scored.selectExpr(
        "query_id", "doc_id", "score",
        "row_number() OVER (PARTITION BY query_id "
        "ORDER BY score DESC, doc_id ASC) AS rank",
    ).where(f"rank <= {int(k)}")


#: which batch score-aggregation serves: 'join' (broadcast weight join
#: + groupBy(query,doc).sum — the small-index default), 'matmul'
#: (doc-partitioned dense matmul, see _matmul_topk_iter — the
#: at-scale default), or 'auto' (matmul iff n_docs >=
#: AUTO_PRUNE_MIN_DOCS, the same bar as auto-prune/spread)
AGG_IMPL = os.environ.get("SPARK_GRAFT_AGG_IMPL", "auto")

#: matmul feed layout: '1' packs the doc-partitioning exchange into
#: binary doc-bucket blobs (_decode_pack_arrow_iter — one python pass
#: for decode+map+pack, thousands of shuffle rows instead of one per
#: posting), '0' ships row-per-posting through _decode_tf_parts + a
#: tidx join. Requires the arrow decode kernel ('0' is also forced
#: under SPARK_GRAFT_DECODE_IMPL=pandas). A/B: tools/agg_exp.py.
MATMUL_PACK = os.environ.get("SPARK_GRAFT_MATMUL_PACK", "1")


def _matmul_topk_iter(bcast, k: int, round_dp: int | None):
    """mapInArrow kernel: per doc-partition, score the WHOLE query
    batch as one dense matmul and emit only that partition's per-query
    top-k candidates.

    Why: the join plan shuffles Σ_q Σ_{t∈q} |postings(t)| fanned-out
    partial rows into a groupBy(query,doc) whose map-side combine
    collapses ~nothing (decode output is term-major: a (query,doc)
    pair never repeats within a task), measured at 91M partial rows /
    357 s task-time for a 400-query zipf batch over the 500k-doc
    design-regime fixture. Batch BM25 is a sparse-matrix product
    S = W·X (W: query×term weights, tiny; X: term×doc tf_parts), so
    instead this kernel receives the UNIQUE decoded (term,doc,tf_part)
    rows hash-partitioned by doc_id — every row of a doc in one
    partition, so scores are FINAL within the kernel — densifies X one
    doc-column chunk at a time, multiplies CSR-W against it (see scale
    notes), and emits ≤k rows per (query, partition). The shuffle moves
    the
    unique decoded rows once (int term-index, not the string), never
    the query fan-out, and the downstream window sees
    n_partitions×n_queries×k rows instead of 91M.

    Exactness: hits are detected as unrounded score > 0 when every
    weight of q is positive (idf = ln(1+x), x > 0 on any
    self-consistent index — so a dense zero means "no term of q
    occurs in d", which the join plan never emits); if any weight is
    <= 0 (the hybrid stats window, see search_index phase 2) the
    kernel falls back to presence-in-X so negatively-scored hit docs
    still rank, as they do under the join plan. Rounding: the kernel
    emits UNROUNDED scores and the caller's _finish applies the ONE
    F.round both aggregation routes share — JVM BigDecimal HALF_UP,
    where np.round's half-to-even would diverge at decimal midpoints
    — while every candidate cut is relaxed by one rounding quantum so
    a doc that rounds into a kth-score tie (and could then win the
    doc_id asc tie-break) is never cut kernel-side; candidates are
    ordered by (score desc, doc_id asc), the exact _topk tie-break.
    The per-partition candidate set is thus a superset of each query's
    global rounded top-k members from that partition, so the final
    small window reproduces the join plan's ranking bit-for-bit
    (pytest-gated identical on fixtures incl. ties, tombstones, and
    sub-k term matches). FP note: the sum order differs from the hash
    aggregate's, but the join plan's own sum order is already
    partition-nondeterministic, and the oracle gate rounds.

    Scale notes: W is ~99.9% sparse (a query holds a handful of the
    batch's unique terms), so it ships and multiplies as CSR —
    (qptr, qtidx, qw) row-pointer arrays via a Spark broadcast
    (`bcast`, once per executor, not per task; a 10k-query batch's
    weights are MBs). Per chunk the kernel runs one tiny matvec per
    query over that query's few rows of the dense X — nnz*c fused
    multiply-adds instead of dgemm's n_q*n_t*c (~1000x fewer for
    zipf batches), with no nnz*c intermediate at all: hot zipf
    term-rows are shared across queries and stay cache-resident.
    Measured on a one-task workload (170k rows, 1600 queries):
    dense dgemm 0.84 s -> gather+reduceat 0.73 s -> per-query dot
    0.05 s; the dgemm variant profiled as one 25 s
    memory-bus-bound stage at 32 threads. Two candidate per-row
    designs measured SLOWER and were rejected: expanding the
    decoded rows to their query fan-out inside the task
    (np.repeat + bincount keys — 1.1-2.6 s, and skew-unsafe for a
    hot term shared by hundreds of queries). The chunk width adapts
    so the per-task transients (X: n_t x c doubles) stay bounded
    regardless of batch size.
    """
    import pyarrow as pa

    out_schema = pa.schema([
        ("query_id", pa.string()),
        ("doc_id", pa.int64()),
        ("score", pa.float64()),
    ])

    def fn(batches):
        import sys as _sys
        import time as _time

        prof = os.environ.get("SPARK_GRAFT_KERNEL_PROF") == "1"
        t_start = _time.time()
        bval = bcast.value
        t_bcast = _time.time()
        tidx_l, doc_l, x_l = [], [], []
        t_first = None
        for b in batches:
            if t_first is None:
                t_first = _time.time()
            cols = {n: b.column(i) for i, n in enumerate(b.schema.names)}
            tidx_l.append(cols["tidx"].to_numpy(zero_copy_only=False))
            doc_l.append(cols["doc_id"].to_numpy(zero_copy_only=False))
            x_l.append(cols["tf_part"].to_numpy(zero_copy_only=False))
        t_read = _time.time()
        n_batches = len(tidx_l)
        t_first = t_first or t_read
        if not tidx_l:
            return
        tidx = np.concatenate(tidx_l)
        doc = np.concatenate(doc_l)
        x = np.concatenate(x_l)
        rb, timings = _matmul_emit(bval, tidx, doc, x, k, round_dp,
                                   out_schema)
        if prof:
            print(
                f"KPROF rows={doc.size} "
                f"nb={n_batches} "
                f"bcast={t_bcast - t_start:.3f} "
                f"first={t_first - t_bcast:.3f} "
                f"rest={t_read - t_first:.3f} "
                f"sort={timings[0]:.3f} score={timings[1]:.3f}",
                file=_sys.stderr, flush=True)
        if rb is not None:
            yield rb

    return fn


def _chunk_width(n_t: int, n_q: int) -> int:
    """Doc-chunk width for the matmul kernel: keeps the dense
    transient X (n_t x CHUNK doubles) near 128 MB. The floor is 16,
    NOT hundreds — a high floor would let X grow linearly with the
    batch's unique-term count and reintroduce the per-task OOM the
    kernel exists to fix (at the floor X is 8*16*n_t bytes, i.e.
    128 MB per 10^6 batch terms)."""
    return int(min(8192, max(16, 16e6 / max(1, n_t + n_q))))


def _matmul_emit(bval, tidx, doc, x, k, round_dp, out_schema):
    """Shared scoring core of the matmul kernels: given this
    partition's concatenated (tidx, doc, x) posting triples, score the
    whole query batch per dense doc-chunk and return (RecordBatch |
    None, (sort_sec, score_sec)). The CSR weight layout, the per-query
    dot, chunking, the one-quantum candidate relaxation under round_dp,
    the superset kth-tie keep, and the (score desc, doc_id asc)
    candidate order are all documented on _matmul_topk_iter. bval may
    carry a 6th element: a sorted int64 array of tombstoned doc_ids to
    drop BEFORE candidate selection (the packed route can't anti-join
    rows JVM-side — see _matmul_score_topk_packed)."""
    import time as _time

    import pyarrow as pa

    qids, n_t, qptr, qtidx, qw = bval[:5]
    dead = bval[5] if len(bval) > 5 else None
    if doc.size == 0:
        return None, (0.0, 0.0)
    if dead is not None and dead.size:
        m = ~np.isin(doc, dead)
        tidx, doc, x = tidx[m], doc[m], x[m]
        if doc.size == 0:
            return None, (0.0, 0.0)
    t0 = _time.time()
    n_q = len(qids)
    qpf = np.append(qptr, qtidx.size)
    # one rounding quantum: the kernel emits UNROUNDED scores (the
    # caller's _finish applies the single authoritative F.round, so
    # matmul and join rounding are the same JVM HALF_UP operation —
    # np.round's half-to-even diverged from F.round at decimal
    # midpoints) and instead relaxes every candidate cut by `quant`:
    # two scores that round equal differ by < quant, so no doc that
    # would enter the rounded top-k (incl. by doc_id tie-break after
    # rounding merges scores) can be cut here
    quant = 10.0 ** -round_dp if round_dp is not None else 0.0
    CHUNK = _chunk_width(n_t, n_q)
    # hit = "doc contains a term of q". With all-positive weights
    # (any self-consistent index) score > 0 is that test exactly and
    # costs nothing extra; under the hybrid stats window where w can
    # go negative (see search_index phase 2) a hit doc can score
    # <= 0, so fall back to presence in the dense X — the join plan
    # ranks those docs and the kernel must too.
    allpos = [bool((qw[qpf[q]:qpf[q + 1]] > 0).all()) for q in range(n_q)]
    udocs, dinv = np.unique(doc, return_inverse=True)
    order = np.argsort(dinv, kind="stable")
    tidx, dinv, x = tidx[order], dinv[order], x[order]
    t_sort = _time.time()
    cand_d = [[] for _ in range(n_q)]
    cand_s = [[] for _ in range(n_q)]
    for lo in range(0, udocs.size, CHUNK):
        hi = min(lo + CHUNK, udocs.size)
        r0 = np.searchsorted(dinv, lo, side="left")
        r1 = np.searchsorted(dinv, hi, side="left")
        c = hi - lo
        X = np.zeros((n_t, c))
        # duplicate (term,doc) rows sum, same as the groupBy
        np.add.at(X, (tidx[r0:r1], dinv[r0:r1] - lo), x[r0:r1])
        dcs = udocs[lo:hi]
        # CSR W x dense X as one tiny matvec per query: a query's
        # 2-5 term-rows of X, most of them the same hot zipf rows
        # across queries, stay cache-resident — measured ~20x less
        # wall than materializing the nnz x c gather and
        # segment-summing it (see scale notes)
        for q in range(n_q):
            a, b = qpf[q], qpf[q + 1]
            Xq = X[qtidx[a:b]]
            s = qw[a:b] @ Xq
            hitq = s > 0.0 if allpos[q] else (Xq != 0).any(axis=0)
            if not hitq.any():
                continue
            s[~hitq] = -np.inf
            if c > k:
                kth = np.partition(s, c - k)[c - k]
                # >= kth - quant keeps kth-score ties AND anything
                # close enough to round into a tie as candidates
                # (superset is safe; the final window re-cuts exactly
                # on the F.rounded score)
                m = (s >= kth - quant) & hitq
            else:
                m = hitq
            cand_d[q].append(dcs[m])
            cand_s[q].append(s[m])
    t_score = _time.time()
    out_q, out_d, out_s = [], [], []
    for q in range(n_q):
        if not cand_d[q]:
            continue
        d = np.concatenate(cand_d[q])
        s = np.concatenate(cand_s[q])
        ord_ = np.lexsort((d, -s))
        if quant and ord_.size > k:
            # keep every candidate within one quantum of the kth
            # unrounded score: rounding can merge it into a kth tie
            # that the (doc_id asc) tie-break then promotes
            cut = s[ord_[k - 1]] - quant
            n_keep = int(np.searchsorted(-s[ord_], -cut, side="right"))
            sel = ord_[:max(k, n_keep)]
        else:
            sel = ord_[:k]
        out_q.append(np.full(sel.size, qids[q], dtype=object))
        out_d.append(d[sel])
        out_s.append(s[sel])
    if not out_q:
        return None, (t_sort - t0, t_score - t_sort)
    rb = pa.RecordBatch.from_arrays(
        [
            pa.array(np.concatenate(out_q), type=pa.string()),
            pa.array(np.concatenate(out_d).astype(np.int64)),
            pa.array(np.concatenate(out_s)),
        ],
        schema=out_schema,
    )
    return rb, (t_sort - t0, t_score - t_sort)


def _decode_pack_arrow_iter(avgdl: float, keep_col: str | None,
                            tmap: dict, part_space: int):
    """mapInArrow kernel fusing decode + term->tidx map + doc-bucket
    PACK: posting rows in, one row per (present doc-bucket) out, with
    the bucket's (doc_id, tidx, tf_part) triples as three raw numpy
    buffers (int64 / int32 / float64 — bit-exact round-trip).

    Why: the unpacked matmul feed shuffles ONE ROW PER POSTING
    (~32 B of UnsafeRow for a 20 B triple) and the receiving kernel's
    measured wait is dominated by the JVM assembling millions of Arrow
    cells (KPROF 'first'; BASELINE.md round-4 serving). Packing turns
    the doc-partitioning exchange into <= n_decode_tasks x part_space
    binary rows — the per-posting bytes drop to the raw 20 and the
    Arrow feed builds thousands of cells, not millions. The term->tidx
    map rides the task closure (bounded by the batch's unique terms),
    so the JVM-side join with the tidx table disappears too.

    part = doc_id mod part_space; the downstream repartition hashes the
    part VALUE, so every row of a doc lands in one partition (which is
    all _matmul_emit needs). part_space is several buckets per
    partition so the hash's balls-in-bins imbalance stays small."""
    import pyarrow as pa

    out_schema = pa.schema([
        ("part", pa.int32()),
        ("doc_pack", pa.binary()),
        ("tidx_pack", pa.binary()),
        ("tf_pack", pa.binary()),
    ])

    def fn(batches):
        tidx_l, doc_l, x_l = [], [], []
        for b in batches:
            cols = {n: b.column(i) for i, n in enumerate(b.schema.names)}
            term = cols["term"]
            db, tb, lb = cols["doc_bytes"], cols["tf_bytes"], cols["dl_bytes"]
            do, to, lo = cols["doc_off"], cols["tf_off"], cols["dl_off"]
            kc = cols[keep_col] if keep_col else None
            for i in range(b.num_rows):
                keep = kc[i].as_py() if kc is not None else None
                if kc is not None and keep is not None and len(keep) == 0:
                    continue
                ti = tmap.get(term[i].as_py())
                if ti is None:  # term outside the batch (defensive)
                    continue
                # payload cells as zero-copy pa.Buffer views; offset
                # lists as zero-copy numpy views of the list values
                # (round-4 verdict #7 — .as_py() made a bytes copy per
                # multi-MB hot-term payload; the codec reads buffers)
                d, t, dl = decode_blocked(
                    db[i].as_buffer(), tb[i].as_buffer(), lb[i].as_buffer(),
                    np.asarray(do[i].values), np.asarray(to[i].values),
                    np.asarray(lo[i].values),
                    keep=keep,
                )
                if d.size == 0:
                    continue
                doc_l.append(d.astype(np.int64, copy=False))
                tidx_l.append(np.full(d.size, ti, dtype=np.int32))
                x_l.append(tf_part(t, dl, avgdl))
        if not doc_l:
            return
        doc = np.concatenate(doc_l)
        tidx = np.concatenate(tidx_l)
        x = np.concatenate(x_l).astype(np.float64, copy=False)
        part = (doc % part_space).astype(np.int32)
        order = np.argsort(part, kind="stable")
        doc, tidx, x, part = doc[order], tidx[order], x[order], part[order]
        uparts, starts = np.unique(part, return_index=True)
        bounds = np.append(starts, part.size)
        parts_out, dpk, tpk, xpk = [], [], [], []
        for j in range(uparts.size):
            s, e = bounds[j], bounds[j + 1]
            parts_out.append(int(uparts[j]))
            dpk.append(doc[s:e].tobytes())
            tpk.append(tidx[s:e].tobytes())
            xpk.append(x[s:e].tobytes())
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(parts_out, type=pa.int32()),
                pa.array(dpk, type=pa.binary()),
                pa.array(tpk, type=pa.binary()),
                pa.array(xpk, type=pa.binary()),
            ],
            schema=out_schema,
        )

    return fn


PACKED_ROWS = StructType(
    [
        StructField("part", IntegerType(), False),
        StructField("doc_pack", BinaryType(), False),
        StructField("tidx_pack", BinaryType(), False),
        StructField("tf_pack", BinaryType(), False),
    ]
)


def _matmul_topk_packed_iter(bcast, k: int, round_dp: int | None):
    """mapInArrow kernel: packed doc-bucket rows -> per-partition
    top-k candidates. np.frombuffer unpacks each bucket's triples
    zero-copy; scoring is the shared _matmul_emit core (identical to
    the row-wise kernel, pytest-pinned)."""
    import pyarrow as pa

    out_schema = pa.schema([
        ("query_id", pa.string()),
        ("doc_id", pa.int64()),
        ("score", pa.float64()),
    ])

    def fn(batches):
        import sys as _sys
        import time as _time

        prof = os.environ.get("SPARK_GRAFT_KERNEL_PROF") == "1"
        t_start = _time.time()
        bval = bcast.value
        t_bcast = _time.time()
        tidx_l, doc_l, x_l = [], [], []
        t_first = None
        n_batches = 0
        for b in batches:
            if t_first is None:
                t_first = _time.time()
            n_batches += 1
            cols = {n: b.column(i) for i, n in enumerate(b.schema.names)}
            dp, tp, xp = cols["doc_pack"], cols["tidx_pack"], cols["tf_pack"]
            for i in range(b.num_rows):
                # as_buffer(): a pa.Buffer view into the Arrow batch —
                # np.frombuffer wraps it without the bytes copy
                # .as_py() would make per multi-MB blob
                doc_l.append(np.frombuffer(
                    dp[i].as_buffer(), dtype=np.int64))
                tidx_l.append(np.frombuffer(
                    tp[i].as_buffer(), dtype=np.int32))
                x_l.append(np.frombuffer(
                    xp[i].as_buffer(), dtype=np.float64))
        t_read = _time.time()
        t_first = t_first or t_read
        if not doc_l:
            return
        doc = np.concatenate(doc_l)
        tidx = np.concatenate(tidx_l)
        x = np.concatenate(x_l)
        rb, timings = _matmul_emit(bval, tidx, doc, x, k, round_dp,
                                   out_schema)
        if prof:
            print(
                f"KPROF-PACKED rows={doc.size} nb={n_batches} "
                f"bcast={t_bcast - t_start:.3f} "
                f"first={t_first - t_bcast:.3f} "
                f"rest={t_read - t_first:.3f} "
                f"sort={timings[0]:.3f} score={timings[1]:.3f}",
                file=_sys.stderr, flush=True)
        if rb is not None:
            yield rb

    return fn


def _csr_weights(qterm_pd: pd.DataFrame):
    """Query-major CSR layout of the batch weight matrix (see
    _matmul_topk_iter scale notes). Returns
    (qids, terms_u, tmap, qptr, qtidx, qw); duplicate (q, t) entries
    sum in the kernel's segment-sum, same as the join plan's groupBy."""
    terms_u = sorted(qterm_pd["term"].unique())
    qids = sorted(qterm_pd["query_id"].unique())
    tmap = {t: i for i, t in enumerate(terms_u)}
    qmap = {q: i for i, q in enumerate(qids)}
    qi = qterm_pd["query_id"].map(qmap).to_numpy()
    ti = qterm_pd["term"].map(tmap).to_numpy()
    wv = qterm_pd["w"].to_numpy(dtype=np.float64)
    order = np.lexsort((ti, qi))
    qi, qtidx, qw = qi[order], ti[order], wv[order]
    qptr = np.searchsorted(qi, np.arange(len(qids)))
    return qids, terms_u, tmap, qptr, qtidx, qw


def _matmul_score_topk_packed(rows: DataFrame, keep_col: str | None,
                              avgdl: float, qterm_pd: pd.DataFrame,
                              k: int, round_dp: int | None,
                              dead_ids, spread: bool) -> DataFrame:
    """The packed-shuffle matmul route: posting payload rows straight
    through _decode_pack_arrow_iter (decode + tidx map + doc-bucket
    pack in ONE python pass) -> a binary-blob exchange of <=
    n_tasks x part_space rows -> _matmul_topk_packed_iter. Returns
    per-partition top-k candidates exactly like _matmul_score_topk.

    dead_ids: sorted int64 numpy array of tombstoned doc_ids (or
    None) — packed rows can't be anti-joined JVM-side, so the kernel
    drops them before candidate selection (same result as the
    unpacked route's pre-matmul _live anti-join; the final window's
    anti-join then re-applies as a no-op)."""
    spark = rows.sparkSession
    sc = spark.sparkContext
    qids, terms_u, tmap, qptr, qtidx, qw = _csr_weights(qterm_pd)
    width = sc.defaultParallelism * _matmul_parts_factor()
    # several doc-buckets per reduce partition: the exchange hashes the
    # bucket VALUE, so bucket->partition is balls-in-bins; 8 per bin
    # keeps the expected max/mean task skew ~1.5x instead of ~4x
    part_space = width * 8
    if spread:
        rows = rows.repartition(sc.defaultParallelism * 4)
    packed = rows.mapInArrow(
        _decode_pack_arrow_iter(avgdl, keep_col, tmap, part_space),
        PACKED_ROWS,
    ).repartition(width, "part")
    bcast = _track_persist(sc.broadcast(
        (qids, len(terms_u), qptr, qtidx, qw, dead_ids)))
    return packed.mapInArrow(
        _matmul_topk_packed_iter(bcast, k, round_dp), SCORE_ROWS_TOPK)


def _matmul_score_topk(decoded: DataFrame, qterm_pd: pd.DataFrame,
                       k: int, round_dp: int | None) -> DataFrame:
    """Score a decoded (term, doc_id, tf_part) table against the batch
    weight matrix via _matmul_topk_iter. Returns per-partition top-k
    candidate rows (query_id, doc_id, score) — the caller's final
    window cuts them to the exact global top-k. Tombstoned docs must
    already be removed from `decoded` (a dead doc inside a partition
    could otherwise displace a live doc from that partition's k
    candidates before the anti-join runs)."""
    spark = decoded.sparkSession
    # CSR weight matrix, query-major: qptr[q] is query q's first entry
    # (every query has >= 1 — qids comes from qterm itself)
    qids, terms_u, tmap, qptr, qtidx, qw = _csr_weights(qterm_pd)
    tix = F.broadcast(spark.createDataFrame(
        [(t, i) for t, i in tmap.items()], "term string, tidx int"))
    # KPROF attribution after the dot rewrite: each kernel task spends
    # ~1 s waiting on the JVM side (shuffle fetch + building its Arrow
    # input), so the wave factor was swept rather than kept at
    # 4-by-analogy-with-spread (tools/wave_exp.py, BASELINE.md round-4
    # serving table). Measured: a WEAK knob — best-of walls within
    # ~12% across 1/2/4 — because the wait is partly data-proportional
    # (fewer waves = 4x bigger per-task Arrow inputs) and a one-wave
    # plan loses tail tolerance. factor=2 won on wall (tied with 4),
    # variance, and 8->32 efficiency, hence the default.
    rows = (
        decoded.join(tix, "term")
        .select("tidx", "doc_id", "tf_part")
        .repartition(
            spark.sparkContext.defaultParallelism * _matmul_parts_factor(),
            "doc_id")
    )
    # the CSR weights ride a Spark broadcast: once per executor, not
    # once per task. Tracked in the serving registry so the NEXT
    # search_index call's entry release drops it (same capped-at-one
    # lifecycle as the persisted posting rows).
    bcast = _track_persist(spark.sparkContext.broadcast(
        (qids, len(terms_u), qptr, qtidx, qw)))
    return rows.mapInArrow(
        _matmul_topk_iter(bcast, k, round_dp), SCORE_ROWS_TOPK)


SCORE_ROWS_TOPK = StructType(
    [
        StructField("query_id", StringType(), False),
        StructField("doc_id", LongType(), False),
        StructField("score", DoubleType(), False),
    ]
)


def local_query_terms(spark: SparkSession, queries: DataFrame):
    """Tokenize the (by definition tiny) query set driver-side: the
    reference also analyzes queries on the driver
    (LuceneQueryBuilder.java:98-117). Avoids two Spark jobs per search.
    Returns (qt DataFrame (query_id, term, qtf), distinct term list,
    qt_rows list) — the driver-side rows feed search_index's pruning
    bounds, its warm-serving qterm local relation and the single-query
    weight map without any extra Spark job. Plain column lists go
    through selectExpr here and in search_index: one py4j call per
    name instead of several."""
    from collections import Counter

    from .analysis import tokenize_series

    rows = queries.selectExpr("query_id", "query").collect()
    qt_rows, terms = [], set()
    toks = tokenize_series(pd.Series([r["query"] for r in rows]))
    for r, ts in zip(rows, toks):
        for term, qtf in Counter(ts).items():
            qt_rows.append((r["query_id"], term, float(qtf)))
            terms.add(term)
    if not qt_rows:
        return None, [], []
    # LocalRelation (round 6): collecting qt is driver-only; a broadcast
    # of it still runs one job (localrel module doc)
    qt = local_df(spark, qt_rows, "query_id string, term string, qtf double")
    return qt, sorted(terms), qt_rows


# prune only when posting lists are long enough that skipping decode
# work pays for the extra threshold pass (~8 blocks of 128 per term)
AUTO_PRUNE_MIN_DOCS = 100_000

#: persisted posting-row plans from prior search_index calls, capped at
#: the single most recent (round-3 advisor: repeated serving calls
#: accumulated persisted plans until the ContextCleaner got to them)
_SERVING_PERSISTS: list = []


def release_serving_cache() -> None:
    """Eagerly unpersist posting-row plans (and the matmul weight
    broadcast) persisted by earlier search_index calls. Call between
    serving batches (or at shutdown) in long-lived sessions;
    search_index also calls it on entry, so at most ONE call's objects
    are ever live. unpersist (never destroy) on the broadcast: a
    still-unevaluated prior result can lazily re-fetch it from the
    driver.

    Concurrency: the registry is module-global, so the capped-at-one
    lifecycle assumes ONE serving caller per process (the batch model
    this engine targets — one driver submits one batch at a time). Two
    threads serving concurrently on one SparkSession would unpersist
    each other's still-executing cache: results stay correct (Spark
    recomputes / re-fetches), but the cache stops paying. Serve
    concurrent batches from separate processes, or union the query
    sets into one batch (the design-intended path — batch cost is
    proportional to unique terms, so a merged batch is cheaper than
    two)."""
    while _SERVING_PERSISTS:
        df = _SERVING_PERSISTS.pop()
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release


def _track_persist(obj):
    """Register a persisted DataFrame or Broadcast for entry-release."""
    _SERVING_PERSISTS.append(obj)
    return obj


def warm_serving(spark: SparkSession, index: dict,
                 payload_cache: str | None = "memory",
                 max_terms: int = 2_000_000) -> dict:
    """Prepare an opened index for REPEATED search_index calls on one
    long-lived session (round-4 verdict #3: back-to-back serving
    batches re-paid a ~30 s per-batch constant that neither executor
    count nor batch size shrank). Two artifacts become resident:

    * ``warm_tmeta`` — per-term (df, raw block-max, impacts) for the
      WHOLE index (_term_meta), collected once from the metadata
      columns (column pruning keeps the payload bytes unread). Every
      subsequent batch builds its per-(query, term) weight table as a
      pure local relation — zero index-metadata scan jobs per batch,
      and idf/w still
      evaluate in the JVM so scores stay bit-identical to cold calls.
      Driver memory is one dict entry per distinct term (~100 B); the
      max_terms guard refuses vocabularies where that stops being
      sane — at 10^9-term scale serve COLD instead: the cold path's
      broadcast-tmeta join is exactly the scale-out variant of this
      cache.
    * the postings table persisted (payload_cache 'memory' | 'disk' |
      None), so each batch's term IN-scan reads resident columnar
      data instead of re-opening parquet. search_index skips its
      per-call payload persist while this is active (entry-release
      keeps applying to cold indexes only). At north-star scale the
      payload blocks are TB-class: use 'disk' or None there, exactly
      the cache_level guidance in search_index.

    Stats-drift safety: the warm map records (n_docs, avgdl,
    encode_avgdl) at warm time; search_index silently falls back to
    the cold path when they no longer match (an incremental merge or
    compaction landed) — re-run warm_serving after maintenance.
    Returns the same dict, mutated in place."""
    posts = index["postings"]
    nt = posts.agg(F.countDistinct("term")).collect()[0][0]
    if nt > max_terms:
        raise ValueError(
            f"warm_serving: {nt} distinct terms exceeds max_terms="
            f"{max_terms}; a driver-side tmeta map is not sane at this "
            "vocabulary — serve cold (broadcast tmeta join) or raise "
            "max_terms explicitly")
    index["warm_tmeta"] = _term_meta(posts, _impact_ranks(index, posts))
    index["warm_stats"] = (index["n_docs"], index["avgdl"],
                           index.get("encode_avgdl"))
    if payload_cache is not None:
        if payload_cache == "memory":
            index["postings"] = posts.persist()
        elif payload_cache == "disk":
            from pyspark import StorageLevel

            index["postings"] = posts.persist(StorageLevel.DISK_ONLY)
        else:
            raise ValueError(
                f"payload_cache must be 'memory', 'disk', or None, got "
                f"{payload_cache!r}")
        index["postings"].count()  # materialize now, not on batch 1
        index["warm_persisted"] = index["postings"]
    return index


def release_warm(index: dict) -> None:
    """Undo warm_serving: unpersist the postings table and drop the
    warm tmeta map (call before delete/merge maintenance that will
    change stats anyway, or at shutdown)."""
    wp = index.pop("warm_persisted", None)
    if wp is not None:
        try:
            wp.unpersist()
        except Exception:
            pass  # session already stopped
    index.pop("warm_tmeta", None)
    index.pop("warm_stats", None)


def _pb_pruned_postings(index: dict, terms: list[str]) -> DataFrame:
    """Static partition pruning on the tid-bucket layout: each query
    term's bucket is pb = pmod(xxhash64(term), pb_mod), computed
    driver-side with the pure-Python XXH64 twin (engine/xxh, equality
    with Spark's xxhash64 is test-pinned) so the `pb IN (...)` filter
    is a literal Catalyst can prune partition DIRECTORIES with — a
    5-term query touches <= 5 of the table's pb_mod partitions before a
    single file is opened. Pre-bucket indexes (no pb_mod) pass
    through."""
    posts = index["postings"]
    pb_mod = index.get("pb_mod")
    if not pb_mod or "pb" not in posts.columns:
        return posts
    from .xxh import spark_xxhash64_str

    pbs = sorted({spark_xxhash64_str(t) % pb_mod for t in terms})
    return posts.where(in_list("pb", pbs))


def _impact_ranks(index: dict, posts: DataFrame) -> tuple:
    """The ranks the index's serving rows store impacts for, or () on
    an index without the impacts column (built before it existed)."""
    if "impacts" not in posts.columns:
        return ()
    return tuple(index.get("impact_ranks") or ())


def _term_meta(posts: DataFrame, ranks: tuple) -> dict:
    """term -> (df, raw block-max, per-rank impacts) over the given
    posting rows, in ONE metadata-column aggregation (column pruning
    keeps the byte payloads unread): the per-term max of each stored
    impact rank (NULL when no chunk of the term holds that many
    postings). F.get returns NULL past an array's end whatever the
    ANSI setting."""
    aggs = [F.max("df").alias("df"),
            F.max(F.array_max("block_max")).alias("bmax_raw")]
    aggs += [F.max(F.get("impacts", i)).alias(f"imp{i}")
             for i in range(len(ranks))]
    return {
        r["term"]: (r["df"], r["bmax_raw"],
                    tuple(r[f"imp{i}"] for i in range(len(ranks))))
        for r in posts.groupBy("term").agg(*aggs).collect()
    }


def _read_tombstones(spark: SparkSession, index: dict):
    """(broadcast local (doc_id) relation, sorted int64 ids), or
    (None, None) without standing tombstones. The tombstone parquet is
    read ONCE per call: the ids feed both the packed matmul kernel's
    dead-id array and every anti-join (a local relation, so no re-scan
    per consumer)."""
    tombs = index.get("tombstones")
    if tombs is None:
        return None, None
    dead_ids = np.sort(np.array(
        [r.doc_id for r in tombs.select("doc_id").collect()],
        dtype=np.int64))
    if not dead_ids.size:
        return None, None
    return F.broadcast(local_df(
        spark, [(int(i),) for i in dead_ids.tolist()], "doc_id long")
    ), dead_ids


def _live(scored: DataFrame, tombs: DataFrame | None) -> DataFrame:
    return (scored.join(tombs, "doc_id", "left_anti")
            if tombs is not None else scored)


def _py_w(qtf: float, dfv: float, n_docs: int) -> float:
    """Bounds-only driver twin of qtf * idf_expr (ulp differences from
    the JVM are absorbed by the relaxations of θ and the thresholds)."""
    return qtf * math.log1p((float(n_docs) - dfv + 0.5) / (dfv + 0.5))


def _relax(v: float) -> float:
    """Move a finite pruning bound toward KEEP by a relative 1e-9
    (+1e-12): driver floats can differ from the JVM's by an ulp per op,
    and a superset decode is always rank-exact."""
    return v if math.isinf(v) else v - abs(v) * 1e-9 - 1e-12


def _impact_theta(qt_rows, meta: dict, rank_i: int, n_docs: int,
                  scale: float) -> dict[str, float]:
    """θ(q) = max over q's positive-weight terms of
    w * impact[rank_i] * scale — driver arithmetic over the metadata.
    Sound because a term with w > 0 has at least r live docs (no
    tombstones on this route) whose single-term score alone reaches
    w * impact_r, other positive terms only add, and phase 2 lowers θ
    by the negative terms' worst case (negsum). scale =
    min(1, avgdl/encode_avgdl): tf_part(avgdl_s) > tf_part(avgdl_e) *
    avgdl_s/avgdl_e for avgdl_s < avgdl_e (search_index docstring has
    the ratio argument), so a scaled stored impact stays a lower
    bound."""
    theta: dict[str, float] = {}
    for (q, t_, f) in qt_rows:
        row = meta.get(t_)
        if row is None or row[0] is None or not row[2]:
            continue
        imp = row[2][rank_i]
        if imp is None:  # no chunk of the term holds r postings
            continue
        w_ = _py_w(f, float(row[0]), n_docs)
        if w_ <= 0:
            continue
        v = _relax(w_ * float(imp) * scale)
        if v > theta.get(q, float("-inf")):
            theta[q] = v
    return theta


def _decode_theta(spark: SparkSession, payload: DataFrame, meta: dict,
                  qt_rows, k: int, n_docs: int, avgdl: float,
                  spread: bool, tombs: DataFrame | None
                  ) -> dict[str, float]:
    """The exact θ fallback (one Spark job chain): decode ONLY each
    query's rarest term and take its k-th best live single-term score.
    Rarest = highest idf = LOWEST df (idf is strictly decreasing in df,
    ties to min term). w for these term_scores is JVM-evaluated on a
    local relation; the rare-term payload filter is a driver literal
    (IN-pushdown, no semi-join). Queries with fewer than k live docs
    for the term get no θ (-inf)."""
    qtf_map = {(q, t_): f for (q, t_, f) in qt_rows}
    rare_pick: dict[str, tuple] = {}  # query -> ((df, term), term)
    for (q, t_, f) in qt_rows:
        row = meta.get(t_)
        if row is None or row[0] is None:
            continue
        key = (float(row[0]), t_)
        cur = rare_pick.get(q)
        if cur is None or key < cur[0]:
            rare_pick[q] = (key, t_)
    rare_terms = sorted({v[1] for v in rare_pick.values()})
    if not rare_terms:
        return {}
    rareq_local = F.broadcast(
        local_df(
            spark,
            [(q, v[1], qtf_map[(q, v[1])], float(meta[v[1]][0]))
             for q, v in rare_pick.items()],
            "query_id string, term string, qtf double, df double")
        .withColumn("w", F.col("qtf") * idf_expr(n_docs))
        .select("query_id", "term", "w"))
    # Usually tiny posting lists. The blanket spread (defaultParallelism
    # x 4) made this a 128-task stage of pure scheduling overhead
    # (measured ~3.5 s of a 12 s design-regime batch); the rare dfs are
    # already driver-side, so derive the fan-out from the actual decode
    # row count instead (scale-adaptive): below 200k rows the natural
    # scan partitioning is plenty, above it spread ~100k rows per task,
    # capped at the old width. A single all-hot-term query (its "rare"
    # term is still hot) therefore still spreads across that term's
    # salted chunks.
    ph_rows = (payload.where(in_list("term", rare_terms))
               .select(*PAYLOAD_COLS))
    est_rows = sum(float(meta[v[1]][0]) for v in rare_pick.values())
    if spread and est_rows >= 200_000:
        width = int(min(
            spark.sparkContext.defaultParallelism * 4,
            max(2, est_rows // 100_000),
        ))
        ph_rows = ph_rows.repartition(width)
    phase1 = _live(
        _decode_tf_parts(ph_rows, avgdl, None, spread=False)
        .join(rareq_local, "term")
        .withColumn("term_score", F.col("w") * F.col("tf_part")),
        tombs)
    wrank = Window.partitionBy("query_id").orderBy(
        F.col("term_score").desc(), F.col("doc_id").asc()
    )
    return {
        r["query_id"]: float(r["theta"])
        for r in (
            phase1.withColumn("rn", F.row_number().over(wrank))
            .where(F.col("rn") <= k)
            .groupBy("query_id")
            .agg(F.min("term_score").alias("theta"),
                 F.count(F.lit(1)).alias("cnt"))
            .collect()
        )
        if r["cnt"] >= k  # fewer than k docs: θ stays -inf
    }


def _theta(spark: SparkSession, index: dict, payload: DataFrame,
           meta: dict, qt_rows, k: int, tombs: DataFrame | None
           ) -> dict[str, float]:
    """Phase-1 θ per query (module doc): from the stored impacts when
    they are sound and deep enough, else the exact decode fallback.
    The one θ source of search_index and pruning_stats."""
    n_docs, avgdl = index["n_docs"], index["avgdl"]
    enc_avgdl = float(index.get("encode_avgdl") or avgdl) or avgdl
    ranks = _impact_ranks(index, payload)
    rank_i = next((i for i, r in enumerate(ranks) if r >= k), None)
    if tombs is None and rank_i is not None:
        scale = min(1.0, avgdl / enc_avgdl) if enc_avgdl > 0 else 1.0
        return _impact_theta(qt_rows, meta, rank_i, n_docs, scale)
    return _decode_theta(spark, payload, meta, qt_rows, k, n_docs, avgdl,
                         n_docs >= AUTO_PRUNE_MIN_DOCS, tombs)


def _block_thresholds(qt_rows, meta: dict, theta: dict, n_docs: int,
                      bfac: float, quant: float) -> dict[tuple, float]:
    """Phase 2 per (query, term): the raw block_max a block of the term
    must reach to possibly hold a top-k doc of the query, relaxed
    toward KEEP (_relax). From
        w*bmax*bfac >= θ(q) - (UBsum(q) - w*tmax)
    ⟺  bmax >= (θ(q) - UBsum(q)) / (w*bfac) + tmax/bfac.
    Negative-weight safety (all three guards are exact no-ops when
    every w > 0, i.e. on any self-consistent index — idf = ln(1+x),
    x > 0. They matter only in the hybrid stats window
    compact_tombstones documents: stats refreshed, merge pending — or a
    crash between them — where a term's stale df can exceed the
    refreshed N, making idf and hence w NEGATIVE):
      (a) a term's max contribution to a doc's score is w*tmax when
          w > 0 but 0 when w <= 0 (the doc simply not containing it
          beats any positive tf), so UBsum sums max(w,0)*tmax;
      (b) θ lower-bounds a doc's FINAL score only if other terms can't
          subtract — negsum (the sum of the negative terms' worst
          cases, <= 0) restores the bound;
      (c) dividing the keep condition by w*bfac flips the inequality
          for w < 0; a w <= 0 term can never RAISE a score toward θ,
          so keep all its blocks (-inf threshold).
    A term with degenerate metadata (NULL df or block-max: a foreign or
    hand-edited index) leaves its query's score unbounded, so every
    term of that query keeps all blocks."""
    ninf = float("-inf")
    ub: dict[str, tuple[float, float]] = {}
    open_q: set = set()
    for (q, t_, f) in qt_rows:
        row = meta.get(t_)
        if row is None:
            continue  # absent from the index: no postings
        if row[0] is None or row[1] is None:
            open_q.add(q)
            continue
        w_ = _py_w(f, float(row[0]), n_docs)
        tmax = float(row[1]) * bfac
        us, ns = ub.get(q, (0.0, 0.0))
        ub[q] = (us + max(w_, 0.0) * tmax, ns + min(w_ * tmax, 0.0))
    out: dict[tuple, float] = {}
    for (q, t_, f) in qt_rows:
        row = meta.get(t_)
        if row is None:
            continue
        w_ = ninf if q in open_q else _py_w(f, float(row[0]), n_docs)
        if w_ <= 0:
            out[(q, t_)] = ninf
            continue
        ubsum, negsum = ub[q]
        tmax = float(row[1]) * bfac
        th = theta.get(q, ninf) - quant
        out[(q, t_)] = _relax(
            (th + negsum - ubsum) / (w_ * bfac) + tmax / bfac)
    return out


def _single_query_topk(rows: DataFrame, qt_rows, n_docs: int,
                       avgdl: float) -> DataFrame:
    """One query's unrounded (doc_id, score, query_id) as ONE Spark task
    (module doc, "single query"): the payload rows (PAYLOAD_COLS + df)
    coalesce to one partition, so the decode, the per-doc aggregate and
    the caller's top-k window all satisfy their distribution without an
    Exchange, and the query's qtf weights ride a literal term -> qtf map
    instead of a broadcast join. Per-term contributions are the join
    route's own chain, (qtf * idf(df)) * tf_part over the payload's df.
    Terms are analyzer tokens ([a-z0-9]+), so they always render as
    literals; the query id is caller input and rides F.lit."""
    wmap = ", ".join(f"{sql_literal(t_)}, {sql_literal(f)}"
                     for _q, t_, f in qt_rows)
    score = (f"sum((element_at(map({wmap}), term) * "
             f"{idf_sql(n_docs)}) * tf_part) AS score")
    return (
        _decode_tf_parts(rows.coalesce(1), avgdl, None, with_df=True)
        .groupBy("doc_id").agg(F.expr(score))
        .withColumn("query_id", F.lit(qt_rows[0][0]))
    )


def search_index(
    spark: SparkSession,
    index: dict,
    queries: DataFrame,
    k: int = TOP_K,
    prune: bool | str = "auto",
    round_dp: int | None = None,
    cache_level: str = "memory",
    agg_impl: str = "env",
) -> DataFrame:
    """Top-k BM25 over a compressed index (from postings.build_index /
    read_index). Returns (query_id, doc_id, score, rank).

    round_dp: when set, scores are rounded to that many decimals BEFORE
    the top-k window, so the ranking (and tie-breaks) is exact under the
    rounded order — not a raw-precision buffer re-ranked afterwards. The
    block-max threshold is relaxed by one rounding quantum so a doc
    whose raw score sits just below the raw k-th score but rounds into a
    tie can never be pruned: round() raises a score by < 0.5*10^-dp and
    lowers the k-th score by <= 0.5*10^-dp, so only docs within one
    quantum of theta can change rounded order, and those are kept.

    cache_level ('memory' | 'disk' | 'none'): how the pruned plan holds
    the query's posting rows (byte payloads included) across its
    phase-1/2/3 reuse. 'memory' (default) is fastest when the touched
    slice fits executor storage; at north-star scale a hot term's
    payload blocks are TB-class, so serving there should use 'disk'
    (spill-backed) or 'none' (re-scan: the term IN-pushdown scan is
    cheap relative to pinning payloads in the storage pool). Measured
    at sf0.1 and 1M docs in BASELINE.md. Each call releases the
    previous call's persisted plan (at most one stays warm);
    release_serving_cache() drops that one too.

    Stale-bound safety (incremental merge): stored block_max bounds
    were computed at index['encode_avgdl'], which can lag the serving
    avgdl after an incremental stream merge. tf_part is increasing in
    avgdl with ratio tf_part(avgdl_new)/tf_part(avgdl_old) <
    avgdl_new/avgdl_old for every (tf, dl) (the ratio is maximized as
    tf->0, dl->inf, where it tends to that quotient), so multiplying
    every stored bound by max(1, serving/encode) re-validates it as an
    upper bound; pruning merely loses (bounded) sharpness, never
    correctness. The stored impacts (phase-1 θ) are LOWER bounds and
    take the mirror factor min(1, serving/encode): for serving < encode
    the same ratio argument gives tf_part(serving) > tf_part(encode) *
    serving/encode. merge_partials re-baselines with a full re-encode
    once the drift exceeds its max_bound_drift."""
    if cache_level not in ("memory", "disk", "none"):
        raise ValueError(
            f"cache_level must be 'memory', 'disk', or 'none', got "
            f"{cache_level!r}")
    if agg_impl == "env":
        agg_impl = AGG_IMPL
    if agg_impl not in ("auto", "join", "matmul"):
        raise ValueError(
            f"agg_impl must be 'auto', 'join', or 'matmul', got "
            f"{agg_impl!r}")
    # release the PREVIOUS call's persisted posting rows on ENTRY — not
    # just on the pruned branch — so an unpruned (or empty-query) call
    # after a pruned one can't leave the old plan pinned forever
    release_serving_cache()
    # Standing tombstones (postings.delete_docs): Lucene-liveDocs
    # semantics — deleted docs vanish from results immediately, while
    # n_docs/avgdl/df keep counting them until compact_tombstones
    # re-baselines. The set is anti-joined from the final scores before
    # the top-k window, and θ must not be supported by deleted docs (it
    # would be too high for the surviving corpus and could prune a
    # surviving doc out of the true top-k): stored impacts may count
    # deleted docs, so a tombstoned index takes the decode θ, which
    # anti-joins its phase-1 scores. Block-max bounds may still include
    # deleted docs' tf: upper bounds stay valid, just less sharp.
    # Broadcast: the tombstone set is meant to stay small relative to
    # the index (compact when it grows — same guidance as Lucene's
    # forceMergeDeletes). Read below, once the call has a term to serve.
    n_docs, avgdl = index["n_docs"], index["avgdl"]
    enc_avgdl = float(index.get("encode_avgdl") or avgdl) or avgdl
    bfac = max(1.0, avgdl / enc_avgdl) if enc_avgdl > 0 else 1.0
    # Warm-serving state. ADVICE-r5 #1: the per-call payload persist is
    # skipped only while the warm persist is VALID — stats unchanged
    # AND the persisted handle still IS index['postings']; on detected
    # drift (maintenance landed under a live warm index) the stale
    # persisted copy is dropped here instead of pinning pre-maintenance
    # bytes in executor storage until someone calls release_warm().
    wt = index.get("warm_tmeta")
    warm_ok = wt is not None and index.get("warm_stats") == (
        n_docs, avgdl, index.get("encode_avgdl"))
    if index.get("warm_persisted") is not None:
        if warm_ok and index.get("warm_persisted") is index.get("postings"):
            # warm_serving already holds the postings table resident: a
            # per-call payload persist would be a second copy of the
            # same bytes, paid per batch
            cache_level = "none"
        else:
            release_warm(index)
            wt, warm_ok = None, False
    import time as _time

    _prof_t0 = _time.time()
    _prof = os.environ.get("SPARK_GRAFT_SERVE_PROF") == "1"

    def _mark(name: str) -> None:
        if _prof:
            import sys as _sys

            print(f"SPROF {name} +{_time.time() - _prof_t0:.3f}s",
                  file=_sys.stderr, flush=True)

    if prune == "auto":
        prune = n_docs >= AUTO_PRUNE_MIN_DOCS
    qt, terms, qt_rows = local_query_terms(spark, queries)
    _mark("local_query_terms")
    if not terms or n_docs == 0 or avgdl <= 0:
        # an empty LocalRelation: collecting it runs no Spark job
        return local_df(
            spark, [], "query_id string, doc_id long, score double, rank int")
    tombs, dead_ids = _read_tombstones(spark, index)

    # Batch-sharing design (scale invariant): the byte payloads are
    # NEVER joined with the query table. Each payload row is decoded
    # ONCE into (term, doc_id, tf_part) numeric rows — the
    # query-independent half of BM25 — and the tiny broadcast
    # (query_id, term, w) table joins onto those decoded rows JVM-side
    # (score = w * tf_part). Under the old per-(query,term) plan a
    # zipf batch replicated each hot term's multi-MB payload per query
    # containing it: 400 queries OOM'd a 10 GiB executor; per-term
    # decode makes batch cost proportional to UNIQUE terms, which is
    # what a 1000-executor batch-serving job needs.
    payload = _pb_pruned_postings(index, terms).where(in_list("term", terms))
    if prune and cache_level == "memory":
        payload = _track_persist(payload.cache())
    elif prune and cache_level == "disk":
        from pyspark import StorageLevel

        payload = _track_persist(payload.persist(StorageLevel.DISK_ONLY))
    # 'none': no persist — phases re-run the IN-pushdown scan

    # Per-term metadata strategy (round 6, action-count driven — see
    # BASELINE.md "Single-query latency anatomy": every Spark
    # action/AQE stage launch costs ~0.3 s on this host class, so
    # serving latency is dominated by how many chained jobs the plan
    # materializes, not by per-row work at bench scale):
    #   * unpruned join route: NO per-term metadata job at all — the
    #     payload's own df column rides through the decode kernel
    #     (TFPART_DF_ROWS) and idf/w evaluate JVM-side on the decoded
    #     rows; the (query_id, term, qtf) table is already driver-side
    #     (local_query_terms) and joins as a broadcast local relation
    #     (one job to build). A single query on a small index needs no
    #     table at all (_single_query_topk).
    #   * pruned route: per-term (df, raw block-max, impacts) is brought
    #     driver-side ONCE — from the warm map when warm, else via one
    #     metadata-column aggregation (column pruning keeps the byte
    #     payloads unread) — and every downstream consumer (θ, UB sums,
    #     per-term block thresholds) is plain driver arithmetic instead
    #     of its own chain of Spark stages. The r05
    #     in-plan variant re-evaluated that scan in four separate
    #     broadcast sub-jobs (~30 chained stages at sf0.1).
    #   * scoring weights stay JVM-evaluated everywhere: qterm becomes
    #     a LOCAL relation carrying (qtf, df) and idf/w are Catalyst
    #     expressions over it — the same expression on the same inputs
    #     as the old tmeta-join route, so scores are bit-identical
    #     (fuzz rank identity at 9 dp; tests pin route equality) — and
    #     it collects driver-side without a job.
    # spread decode work off the tid-bucketed co-location once the
    # index is big enough that one hot term saturates a task (same bar
    # as auto-prune; see _decode_tf_parts)
    spread = n_docs >= AUTO_PRUNE_MIN_DOCS
    if agg_impl == "auto":
        agg_impl = "matmul" if spread else "join"
    meta: dict = {}
    if prune:
        # a warm row with a NULL df, block-max or impacts (foreign or
        # hand-edited index) is not trusted: the whole call reads its
        # metadata cold (Job A), and _block_thresholds keeps every
        # block of a query whose term stays degenerate there too
        if warm_ok and not any(
                None in wt[t] for t in terms if t in wt):
            meta = {t: wt[t] for t in terms if t in wt}
        else:
            # Job A: the ONE per-call index-metadata aggregation
            meta = _term_meta(payload, _impact_ranks(index, payload))
        _mark("meta(JobA)")

    def _qterm_local() -> DataFrame:
        """(query_id, term, qtf, df, idf, w) as a LOCAL relation —
        idf/w are JVM expressions (scores stay bit-identical to the
        old tmeta-join route) and it collects without a Spark job.
        Pruned-path only (meta is populated there)."""
        rows = [(q, t_, f, float(meta[t_][0]))
                for (q, t_, f) in qt_rows
                if t_ in meta and meta[t_][0] is not None]
        return (
            local_df(spark, rows,
                     "query_id string, term string, qtf double, df double")
            .withColumn("idf", idf_expr(n_docs))
            .withColumn("w", F.col("qtf") * F.col("idf"))
        )

    def _finish(scored: DataFrame) -> DataFrame:
        scored = _live(scored, tombs)
        if round_dp is not None:
            scored = scored.withColumn("score", F.round("score", round_dp))
        return _topk(scored, k)

    if MATMUL_PACK not in ("0", "1"):
        raise ValueError(
            f"SPARK_GRAFT_MATMUL_PACK must be '0' or '1', got "
            f"{MATMUL_PACK!r}")
    # packed feed needs the fused arrow kernel; under the pandas decode
    # A/B twin fall back to the row-per-posting feed so DECODE_IMPL
    # keeps selecting ONE coherent python path end-to-end
    use_pack = (agg_impl == "matmul" and MATMUL_PACK == "1"
                and DECODE_IMPL == "arrow")

    def _score_topk(rows: DataFrame, keep_col: str | None) -> DataFrame:
        """posting payload rows -> exact top-k, via the configured
        aggregation (module doc for AGG_IMPL; the matmul kernel's own
        docstring for why the join plan loses at scale). All routes
        end in _finish, so rounding/tombstone/tie-break semantics are
        shared: _finish's F.round is the single rounding authority
        (the matmul kernels emit unrounded candidate scores cut with
        a one-quantum relaxation), and matmul pre-drops tombstones,
        making _finish's anti-join a no-op."""
        if agg_impl == "matmul":
            if prune:
                # local qterm relation: JVM w, no metadata re-scan
                qterm_pd = (_qterm_local()
                            .select("query_id", "term", "w").toPandas())
            else:
                # unpruned matmul: derive w in-plan from the payload's
                # df metadata column (one bounded action, no tmax)
                qterm_pd = (
                    qt.join(F.broadcast(
                        payload.groupBy("term").agg(
                            F.max("df").alias("df"))), "term")
                    .withColumn("w", F.col("qtf") * idf_expr(n_docs))
                    .select("query_id", "term", "w").toPandas())
            if use_pack:
                return _finish(_matmul_score_topk_packed(
                    rows, keep_col, avgdl, qterm_pd, k, round_dp,
                    dead_ids, spread))
            decoded = _decode_tf_parts(rows, avgdl, keep_col,
                                       spread=spread)
            return _finish(_matmul_score_topk(
                _live(decoded, tombs), qterm_pd, k, round_dp))
        # df-passthrough (round 6), pruned AND unpruned: idf/w from
        # the decoded rows' own df column, query weights a broadcast
        # local relation (one build job, no scan) — zero metadata jobs,
        # and ONE shared plan shape
        # for both routes (the bench warmup exercises the pruned
        # shape, so the timed unpruned batch reuses its compiled
        # codegen instead of paying first-compile). Same
        # multiplication chain as the old qterm route
        # ((qtf*idf)*tf_part) over the same df value — every chunk of
        # a term carries the term's full df, equal to the tmeta max —
        # so scores are bit-identical.
        decoded = _decode_tf_parts(rows, avgdl, keep_col,
                                   spread=spread, with_df=True)
        qtl = F.broadcast(local_df(
            spark, qt_rows,
            "query_id string, term string, qtf double"))
        return _finish(
            decoded.join(qtl, "term")
            .withColumn("w", F.col("qtf") * idf_expr(n_docs))
            .groupBy("query_id", "doc_id")
            .agg(F.sum(F.col("w") * F.col("tf_part")).alias("score"))
        )

    if not prune:
        cols = PAYLOAD_COLS if agg_impl == "matmul" else (
            *PAYLOAD_COLS, "df")
        rows = payload.selectExpr(*cols)
        if agg_impl == "join" and not spread and len(
                {q for q, _t, _f in qt_rows}) == 1:
            return _finish(_single_query_topk(rows, qt_rows, n_docs, avgdl))
        return _score_topk(rows, None)

    # ---- pruned path: the metadata above, then driver arithmetic, then
    # the returned plan. The r05 version kept θ/UB/thresholds in-plan:
    # qterm was re-evaluated by four consumers and every broadcast ran
    # as its own AQE sub-job — ~30 chained stage launches at sf0.1
    # (BASELINE.md anatomy), i.e. the whole forced-prune wall was
    # scheduler floor. Now:
    #   θ (_theta): from the stored impacts in `meta` — no job — or, on
    #     the exact fallback, one decode of each query's rarest term.
    #   Driver: phase 2 — per-query UB sums and the per-term block
    #     threshold (_block_thresholds; the MIN of the keep condition
    #     over sharing queries, exactly the old groupBy). These feed
    #     PRUNING BOUNDS only and are relaxed toward KEEP.
    #   Plan: payload ⋈ broadcast(local thresholds) -> keep_blocks ->
    #     decode survivors -> aggregate -> top-k window; every
    #     broadcast is of a local relation (one build job each, no
    #     scan sub-jobs).
    # Decoding a superset of a query's own keep list is always safe:
    # the WAND argument only ever uses "a block was skipped ⇒ its docs
    # provably score below θ(q)", and the union skips a block only when
    # EVERY sharing query's condition skips it — extra decoded blocks
    # just move partial scores toward their exact values (rank identity
    # to the unpruned plan is pytest- and oracle-gated).
    theta = _theta(spark, index, payload, meta, qt_rows, k, tombs)
    _mark("theta")
    quant = 10.0 ** -round_dp if round_dp is not None else 0.0
    ninf = float("-inf")
    bthresh: dict[str, float] = {}
    for (_q, t_), v in _block_thresholds(qt_rows, meta, theta, n_docs,
                                         bfac, quant).items():
        bthresh[t_] = min(v, bthresh.get(t_, v))

    thresh_local = F.broadcast(local_df(
        spark, [(t_, float(bthresh.get(t_, ninf))) for t_ in terms],
        "term string, bthresh double"))
    blocks = (
        payload.join(thresh_local, "term")
        .withColumn(
            "keep_blocks",
            F.filter(
                F.transform(
                    "block_max",
                    lambda x, i: F.when(
                        x >= F.col("bthresh"), i
                    ).otherwise(F.lit(-1)),
                ),
                lambda i: i >= 0,
            ),
        )
    )
    _mark("thresholds(driver)")
    keep_cols = (PAYLOAD_COLS if agg_impl == "matmul"
                 else (*PAYLOAD_COLS, "df"))
    return _score_topk(blocks.selectExpr(*keep_cols, "keep_blocks"),
                       "keep_blocks")


def pruning_stats(
    spark: SparkSession,
    index: dict,
    queries: DataFrame,
    k: int = TOP_K,
) -> dict:
    """How much decode work block-max pruning avoids: returns
    {total_blocks, kept_blocks, pruned_fraction} for the given query
    set, counted per (query, term) — the per-query ideal. Batch
    serving decodes the per-TERM union of the sharing queries' keep
    lists (search_index phase 2), so its actual kept count is >= this
    figure when queries share terms (equal for single queries).
    Otherwise the same metadata, θ (_theta) and thresholds
    (_block_thresholds) as search_index(prune=True), counted instead
    of executed."""
    n_docs, avgdl = index["n_docs"], index["avgdl"]
    enc_avgdl = float(index.get("encode_avgdl") or avgdl) or avgdl
    bfac = max(1.0, avgdl / enc_avgdl) if enc_avgdl > 0 else 1.0
    _qt, terms, qt_rows = local_query_terms(spark, queries)
    if not terms:
        return {"total_blocks": 0, "kept_blocks": 0, "pruned_fraction": 0.0}
    tombs, _dead = _read_tombstones(spark, index)
    payload = _pb_pruned_postings(index, terms).where(in_list("term", terms))
    meta = _term_meta(payload, _impact_ranks(index, payload))
    theta = _theta(spark, index, payload, meta, qt_rows, k, tombs)
    rhs = F.broadcast(local_df(
        spark,
        [(q, t_, v) for (q, t_), v in _block_thresholds(
            qt_rows, meta, theta, n_docs, bfac, 0.0).items()],
        "query_id string, term string, rhs double"))
    agg = (
        payload.join(rhs, "term")
        .select(
            F.size("block_max").alias("total"),
            F.size(F.filter("block_max", lambda x: x >= F.col("rhs"))
                   ).alias("kept"),
        )
        .agg(F.sum("total"), F.sum("kept"))
        .collect()[0]
    )
    total, kept = int(agg[0] or 0), int(agg[1] or 0)
    return {
        "total_blocks": total,
        "kept_blocks": kept,
        "pruned_fraction": round(1 - kept / total, 4) if total else 0.0,
    }
