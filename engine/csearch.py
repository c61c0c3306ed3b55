"""BM25 serving over the compressed index, with block-max pruning.

Reference analog: LuceneQueryBuilder.java:163 scores every candidate of
the OR query (Lucene 7.2 predates block-max WAND); the north_star asks
for a block-max-style prune, so this module implements a safe
MaxScore/BMW-flavored two-phase plan expressed as DataFrame ops
(SURVEY.md section 4, last row):

  phase 0  postings rows filtered with term IN (<query terms>) — the
           IN list is pushed into the parquet read, so only matching
           row groups are read. The byte payloads are NEVER joined
           with the query table: each payload row decodes ONCE into
           query-independent (term, doc_id, tf_part) triples, and the
           whole batch's (query, term, w) weights ride the scoring
           kernel as one CSR matrix — batch cost is proportional to the
           UNIQUE terms of the batch, not Σ per-query terms. A query
           set with no indexed term returns here, before any job.
  phase 1  threshold θ(q), a lower bound on the final k-th score, from
           metadata alone: every merged chunk stores its r-th largest
           tf_part for r in codec.IMPACT_RANKS, so a term t with w_t > 0
           has at least r docs scoring >= w_t * impact_r, and
           θ(q) = max_t w_t * impact_r(t) * min(1, avgdl/encode_avgdl)
           for the smallest rank r >= k (the avgdl factor keeps it a
           lower bound under drift, the mirror of the block-max bfac).
           The per-term df, block-max and impacts are read on the
           driver from the serving rows' own metadata columns
           (_term_meta: pyarrow, pb- and term-filtered), so neither the
           metadata nor θ costs a Spark job. Exact
           fallback (_decode_theta) when standing tombstones may
           support an impact, when k exceeds the largest rank, or on an
           index without impacts: fully score ONLY the rarest
           (highest-idf) term of each query; its k-th best single-term
           score is the bound. Only above ONE_TASK_MAX_POSTINGS is the
           payload persisted for it: below, both kernel runs read it on
           the driver.
  phase 2  block filter: a block b of term t is provably irrelevant
           for query q if
               UBsum(q) - w_t*tmax_t + w_t*block_max_b < θ(q)
           where w_t = qtf*idf and UBsum = Σ_t w_t*tmax_t is the
           best-possible doc score. Every doc in such a block scores
           below θ, so it cannot enter the top-k, and any partial score
           it still receives from other terms lands below θ and is cut
           by the final top-k — results stay RANK-IDENTICAL to the
           unpruned plan (tested). Serving decodes the UNION of the
           sharing queries' keep lists (one threshold scalar per term,
           applied to each row's block_max by _keep_blocks): skipping
           only blocks every sharing query may skip is a superset
           decode, which is always safe.
  phase 3  decode only surviving blocks (blocks are delta-restarted, so
           pruned blocks are never touched), compute tf_parts in
           numpy, and score the whole batch in the one aggregation,
           the matmul kernel (_matmul_score_topk, scoring core
           _matmul_emit): every doc's postings meet in one kernel call,
           which emits the per-query top-k candidates that the final
           ranking cuts to the exact top-k.

The kernel runs in one of two places, chosen from the Σ df of the query
terms the metadata read already holds, not by a knob:
  * at most ONE_TASK_MAX_POSTINGS postings, the driver route: the
    driver reads the terms' payload columns with the same pyarrow
    filter as the metadata (_term_rows), decodes and scores them in
    this process, ranks each query's candidates by (score desc, doc_id
    asc) and returns an Arrow-backed local relation (_driver_topk) —
    NO Spark job, the latency floor on small posting sets, where cost
    is the number of jobs (~0.25 s each plus the driver gap around
    them), not per-row work. The reference's Lucene searcher scores
    in-process over its segment files the same way. Between the query
    collect and the result's createDataFrame it makes no JVM call: the
    weights are driver arithmetic (_weight). Singles and batches, cold
    and warm, pruned or not, tombstoned or not, take it, decode θ too;
  * above it, the packed plan: the payload as a Spark scan (_payload),
    a decode+pack stage, a doc-bucket exchange, a matmul stage and the
    top-k window, which spread the per-posting work over the cluster
    (and read the warm persist, warm_serving).
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType,
)

from . import TOP_K
from .codec import decode_blocked, tf_part
from .localrel import in_list, local_df


#: the posting-row columns every decode kernel reads
PAYLOAD_COLS = ("term", "doc_bytes", "tf_bytes", "dl_bytes",
                "doc_off", "tf_off", "dl_off")

def _keep_blocks(block_max, th):
    """The one block-keep rule (phase 2): the indexes of a posting row's
    blocks whose raw block-max reaches th, its term's threshold, or None
    (decode every block) without a threshold or a block-max list. A
    NULL block-max keeps its block: an unknown bound never prunes."""
    if th is None or block_max is None or th == float("-inf"):
        return None
    return np.flatnonzero(~(np.asarray(block_max, dtype=np.float64) < th))


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k by (score desc, doc_id asc), built as parsed
    expressions: two py4j calls instead of one per column operator."""
    return scored.selectExpr(
        "query_id", "doc_id", "score",
        "row_number() OVER (PARTITION BY query_id "
        "ORDER BY score DESC, doc_id ASC) AS rank",
    ).where(f"rank <= {int(k)}")


def _chunk_width(n_t: int, n_q: int) -> int:
    """Doc-chunk width for the matmul kernel: keeps the dense
    transient X (n_t x CHUNK doubles) near 128 MB. The floor is 16,
    NOT hundreds — a high floor would let X grow linearly with the
    batch's unique-term count and reintroduce the per-task OOM the
    kernel exists to fix (at the floor X is 8*16*n_t bytes, i.e.
    128 MB per 10^6 batch terms)."""
    return int(min(8192, max(16, 16e6 / max(1, n_t + n_q))))


def _matmul_emit(bval, tidx, doc, x, k, round_dp):
    """Scoring core of the matmul kernel on both plans (the driver
    route, _matmul_topk_packed_iter): given a doc-partition's concatenated
    (tidx, doc, x) posting triples, score the WHOLE query batch as one
    dense matmul per doc-chunk and return (RecordBatch of that
    partition's per-query top-k candidates | None, (sort_sec,
    score_sec)). bval is (qids, n_terms, qptr, qtidx, qw[, dead]): the
    CSR weights and optionally a sorted int64 array of tombstoned
    doc_ids (or None) dropped BEFORE candidate selection (see
    _matmul_score_topk).

    Why: a broadcast weight join + groupBy(query,doc).sum plan shuffles
    Σ_q Σ_{t∈q} |postings(t)| fanned-out partial rows into a groupBy
    whose map-side combine collapses ~nothing (decode output is
    term-major: a (query,doc) pair never repeats within a task),
    measured at 91M partial rows / 357 s task-time for a 400-query zipf
    batch over the 500k-doc design-regime fixture. Batch BM25 is a
    sparse-matrix product S = W·X (W: query×term weights, tiny; X:
    term×doc tf_parts), so instead the kernel receives the UNIQUE
    decoded (term, doc, tf_part) triples partitioned by doc — every row
    of a doc in one partition, so scores are FINAL within the kernel —
    densifies X one doc-column chunk at a time, multiplies CSR-W against
    it (see scale notes), and emits ≤k rows per (query, partition). The
    shuffle moves the unique decoded rows once (int term-index, not the
    string), never the query fan-out, and the downstream window sees
    n_partitions×n_queries×k rows instead of 91M.

    Exactness: hits are detected as unrounded score > 0 when every
    weight of q is positive (idf = ln(1+x), x > 0 on any
    self-consistent index — so a dense zero means "no term of q
    occurs in d", which the OR query never matches); if any weight is
    <= 0 (an index whose df exceeds N, see _block_thresholds) the
    kernel falls back to presence-in-X so negatively-scored hit docs
    still rank, as the OR query ranks them. Rounding: the kernel
    emits UNROUNDED scores and _matmul_score_topk applies the ONE
    F.round —
    JVM BigDecimal HALF_UP, where np.round's half-to-even would
    diverge at decimal midpoints — while every candidate cut is
    relaxed by one rounding quantum so a doc that rounds into a
    kth-score tie (and could then win the doc_id asc tie-break) is
    never cut kernel-side; candidates are ordered by (score desc,
    doc_id asc), the exact _topk tie-break.
    The per-partition candidate set is thus a superset of each query's
    global rounded top-k members from that partition, so the final
    small window reproduces the exact top-k (pytest-gated against
    tests/oracle.bm25_topk on fixtures incl. ties, tombstones, and
    sub-k term matches). FP note: the sum order is the CSR term order,
    not the oracle's, so tests compare scores to 9 dp.

    Scale notes: W is ~99.9% sparse (a query holds a handful of the
    batch's unique terms), so it ships and multiplies as CSR —
    (qptr, qtidx, qw) row-pointer arrays via a Spark broadcast
    (once per executor, not per task; a 10k-query batch's weights are
    MBs). Per chunk the kernel runs one tiny matvec per query over
    that query's few rows of the dense X — nnz*c fused multiply-adds
    instead of dgemm's n_q*n_t*c (~1000x fewer for zipf batches), with
    no nnz*c intermediate at all: hot zipf term-rows are shared across
    queries and stay cache-resident. Measured on a one-task workload
    (170k rows, 1600 queries): dense dgemm 0.84 s -> gather+reduceat
    0.73 s -> per-query dot 0.05 s; the dgemm variant profiled as one
    25 s memory-bus-bound stage at 32 threads. Two candidate per-row
    designs measured SLOWER and were rejected: expanding the decoded
    rows to their query fan-out inside the task (np.repeat + bincount
    keys — 1.1-2.6 s, and skew-unsafe for a hot term shared by
    hundreds of queries). The chunk width adapts (_chunk_width) so the
    per-task transients (X: n_t x c doubles) stay bounded regardless
    of batch size."""
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
    # caller applies the single authoritative F.round, JVM HALF_UP —
    # np.round's half-to-even diverged from F.round at decimal
    # midpoints) and instead relaxes every candidate cut by `quant`:
    # two scores that round equal differ by < quant, so no doc that
    # would enter the rounded top-k (incl. by doc_id tie-break after
    # rounding merges scores) can be cut here
    quant = 10.0 ** -round_dp if round_dp is not None else 0.0
    CHUNK = _chunk_width(n_t, n_q)
    # hit = "doc contains a term of q". With all-positive weights
    # (any self-consistent index) score > 0 is that test exactly and
    # costs nothing extra; on an index whose df exceeds N, w can go
    # negative (see _block_thresholds) and a hit doc can score
    # <= 0, so fall back to presence in the dense X — the OR query
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
        names=["query_id", "doc_id", "score"],
    )
    return rb, (t_sort - t0, t_score - t_sort)


def _decode_triples(batches, avgdl: float, bthresh: dict | None,
                    tmap: dict):
    """The decode half of the matmul kernel, on both plans: every
    posting row of the Arrow `batches` whose term has a matrix row in
    tmap, decoded into concatenated (doc int64, tidx int32, tf_part
    float64) arrays, or None when no posting survives. A term without a
    row (no weight: its df is NULL) is never decoded. bthresh (pruned
    only: term -> block threshold, _block_thresholds) keeps each row's
    blocks by _keep_blocks over its block_max; a row with no kept block
    is skipped undecoded."""
    doc_l, tidx_l, x_l = [], [], []
    for b in batches:
        cols = {n: b.column(i) for i, n in enumerate(b.schema.names)}
        term, bm = cols["term"], cols.get("block_max")
        db, tb, lb = cols["doc_bytes"], cols["tf_bytes"], cols["dl_bytes"]
        do, to, lo = cols["doc_off"], cols["tf_off"], cols["dl_off"]
        for i in range(b.num_rows):
            t_ = term[i].as_py()
            ti = tmap.get(t_)
            if ti is None:
                continue
            keep = (_keep_blocks(bm[i].as_py(), bthresh.get(t_))
                    if bthresh is not None else None)
            if keep is not None and not keep.size:
                continue
            # payload cells as zero-copy pa.Buffer views; offset lists
            # as zero-copy numpy views of the list values (.as_py() made
            # a bytes copy per multi-MB hot-term payload; the codec
            # reads buffers)
            d, t, dl = decode_blocked(
                db[i].as_buffer(), tb[i].as_buffer(), lb[i].as_buffer(),
                np.asarray(do[i].values), np.asarray(to[i].values),
                np.asarray(lo[i].values),
                keep=keep,
            )
            if d.size:
                doc_l.append(d.astype(np.int64, copy=False))
                tidx_l.append(np.full(d.size, ti, dtype=np.int32))
                x_l.append(tf_part(t, dl, avgdl))
    if not doc_l:
        return None
    return (np.concatenate(doc_l), np.concatenate(tidx_l),
            np.concatenate(x_l).astype(np.float64, copy=False))


def _decode_pack_arrow_iter(avgdl: float, bthresh: dict | None,
                            tmap: dict, part_space: int):
    """mapInArrow kernel fusing decode + term->tidx map + doc-bucket
    PACK: posting rows in, one row per (present doc-bucket) out, with
    the bucket's (doc_id, tidx, tf_part) triples as three raw numpy
    buffers (int64 / int32 / float64 — bit-exact round-trip).

    Why: a row-per-posting matmul feed shuffles ONE ROW PER POSTING
    (~32 B of UnsafeRow for a 20 B triple) and the receiving kernel's
    measured wait is dominated by the JVM assembling millions of Arrow
    cells (KPROF 'first'; BASELINE.md round-4 serving). Packing turns
    the doc-partitioning exchange into <= n_decode_tasks x part_space
    binary rows — the per-posting bytes drop to the raw 20 and the
    Arrow feed builds thousands of cells, not millions. The term->tidx
    map and the pruned route's term->threshold map ride the task
    closure (both bounded by the batch's unique terms), so the JVM-side
    join with the tidx table disappears too.

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
        got = _decode_triples(batches, avgdl, bthresh, tmap)
        if got is None:
            return
        doc, tidx, x = got
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
    zero-copy; scoring is the _matmul_emit core (its docstring has
    the exactness, rounding and scale argument)."""

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
        rb, timings = _matmul_emit(bval, tidx, doc, x, k, round_dp)
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


def _csr_weights(qw_rows):
    """Query-major CSR layout of the batch weight matrix (see
    _matmul_emit scale notes) from (query_id, term, w) rows. Returns
    (qids, tmap, qptr, qtidx, qw); duplicate (q, t) entries sum in the
    kernel's per-query dot."""
    qids = sorted({q for q, _t, _w in qw_rows})
    tmap = {t: i for i, t in enumerate(sorted({t for _q, t, _w in qw_rows}))}
    qmap = {q: i for i, q in enumerate(qids)}
    qi = np.array([qmap[q] for q, _t, _w in qw_rows], dtype=np.int64)
    ti = np.array([tmap[t] for _q, t, _w in qw_rows], dtype=np.int64)
    wv = np.array([w for _q, _t, w in qw_rows], dtype=np.float64)
    order = np.lexsort((ti, qi))
    qi, qtidx, qw = qi[order], ti[order], wv[order]
    qptr = np.searchsorted(qi, np.arange(len(qids)))
    return qids, tmap, qptr, qtidx, qw


#: the driver route's work bound, in postings (Σ df of the batch's
#: terms, before any block is pruned). The packed plan pays three Spark
#: jobs, ~1.5 s of fixed cost on a 4-vCPU host at local[2] (perfbench's
#: session); the driver route pays no job but does all the per-posting
#: work (decode, tf_part, the matmul) on the driver's one core.
#: Measured there (256-query k=100 pruned zipf batches, seed 7, min of
#: 3): Σ df 50k, driver 0.58 s vs packed 1.58 s; 335k, 1.12 vs 1.99;
#: 837k, 1.83 vs 2.55; 1.51M, 3.35 vs 3.04. The driver route grows
#: ~1.9 s per 1M postings and the packed plan ~1.0 s; interpolating
#: between the last two points they cross near 1.3M. The bound sits
#: below that.
ONE_TASK_MAX_POSTINGS = 1_000_000


def _matmul_score_topk(spark: SparkSession, index: dict, terms,
                       bthresh: dict | None, avgdl: float, qw_rows, k: int,
                       round_dp: int | None, dead_ids, n_postings: int,
                       spread: bool, payload: DataFrame | None = None
                       ) -> DataFrame:
    """The one score aggregation: the batch's top-k rows (query_id,
    doc_id, score, rank) over the posting rows of `terms`, on the
    cluster from `payload` (a persisted scan; None: _payload's). qw_rows
    are the batch's (query_id, term, w) (_weights); bthresh the pruned
    route's term -> block threshold (None unpruned).

    n_postings (Σ df of the terms served) picks the plan (module doc):
    at most ONE_TASK_MAX_POSTINGS, the driver reads the terms' payload
    columns (_term_rows), decodes and scores them in this process, and
    ranks the candidates itself (_driver_topk) — no Spark job. Above
    it the packed plan: _decode_pack_arrow_iter (decode + tidx map +
    doc-bucket pack in ONE python pass) -> a binary-blob exchange of <=
    n_tasks x part_space rows -> _matmul_topk_packed_iter -> the _topk
    window. Scores are bit-identical between the two: a (term, doc)
    cell occurs once, and each doc sums qw @ Xq over its query's CSR
    terms in the same order whatever partition it lands in. round_dp
    rounds with F.round (JVM HALF_UP) before ranking, on both plans.

    spread=True (packed plan only) round-robin repartitions the payload
    rows before the decode: the tid-bucketed layout co-locates ALL
    posting rows of a term (every shard x salt chunk) in one pb
    partition, so a scan split holding a hot term would otherwise
    decode it in a SINGLE task (measured on the 500k-doc/300k-term
    fixture: one task 267 s CPU vs a 0.9 s median; the whole 400-query
    batch WAS that straggler, 311 s -> 41 s with the spread). The
    hottest salted term has n_shards*n_salts chunks, so its decode fans
    out across that many tasks, and the shuffle moves only bytes that
    phase 2 kept. Callers gate it on index size (n_docs >=
    AUTO_PRUNE_MIN_DOCS): on a tiny index the extra shuffle stage is
    pure latency (measured +0.5 s on the sf0.1 p50).

    dead_ids: sorted int64 numpy array of tombstoned doc_ids (or
    None) — a dead doc inside a partition could otherwise displace a
    live doc from that partition's k candidates, so the kernel drops
    them before candidate selection; the caller needs no anti-join."""
    qids, tmap, qptr, qtidx, qw = _csr_weights(qw_rows)
    bval = (qids, len(tmap), qptr, qtidx, qw, dead_ids)
    cols = PAYLOAD_COLS + (("block_max",) if bthresh is not None else ())
    if n_postings <= ONE_TASK_MAX_POSTINGS:
        got = _decode_triples(_term_rows(index, terms, cols).to_batches(),
                              avgdl, bthresh, tmap)
        rb = None
        if got is not None:
            doc, tidx, x = got
            rb, _timings = _matmul_emit(bval, tidx, doc, x, k, round_dp)
        return _driver_topk(spark, rb, k, round_dp)
    sc = spark.sparkContext
    # reduce-partition wave factor 2: each kernel task spends ~1 s
    # waiting on the JVM side (shuffle fetch + building its Arrow
    # input), so the factor was swept rather than kept at
    # 4-by-analogy-with-spread (BASELINE.md round-4 serving table).
    # Measured: a WEAK knob — best-of walls within ~12% across 1/2/4 —
    # because the wait is partly data-proportional (fewer waves = 4x
    # bigger per-task Arrow inputs) and a one-wave plan loses tail
    # tolerance. 2 won on wall (tied with 4), variance, and 8->32
    # efficiency.
    width = sc.defaultParallelism * 2
    # several doc-buckets per reduce partition: the exchange hashes the
    # bucket VALUE, so bucket->partition is balls-in-bins; 8 per bin
    # keeps the expected max/mean task skew ~1.5x instead of ~4x
    part_space = width * 8
    rows = (payload if payload is not None
            else _payload(index, terms)).selectExpr(*cols)
    if spread:
        rows = rows.repartition(sc.defaultParallelism * 4)
    packed = rows.mapInArrow(
        _decode_pack_arrow_iter(avgdl, bthresh, tmap, part_space),
        PACKED_ROWS,
    ).repartition(width, "part")
    # tracked in the serving registry so the NEXT search_index call's
    # entry release drops it (same capped-at-one lifecycle as the
    # persisted posting rows)
    bcast = _track_persist(sc.broadcast(bval))
    scored = packed.mapInArrow(
        _matmul_topk_packed_iter(bcast, k, round_dp), SCORE_ROWS_TOPK)
    if round_dp is not None:
        scored = scored.withColumn("score", F.round("score", round_dp))
    return _topk(scored, k)


def _driver_topk(spark: SparkSession, rb, k: int,
                 round_dp: int | None) -> DataFrame:
    """The driver route's result: the per-query top-k of the kernel's
    candidate batch rb (or None) ranked by (score desc, doc_id asc) —
    _topk's window order — as an Arrow-backed local relation, which
    collects without a Spark job. With round_dp the scores are first
    rounded by F.round in a projection over the candidates' own local
    relation, collected (no job either), so ranking sees exactly the
    JVM's HALF_UP rounding."""
    import pyarrow as pa

    if rb is None:
        return local_df(spark, [], RANKED_ROWS)
    tbl = pa.Table.from_batches([rb])
    if round_dp is not None:
        tbl = pa.Table.from_pylist(
            [r.asDict() for r in spark.createDataFrame(tbl).withColumn(
                "score", F.round("score", round_dp)).collect()],
            schema=tbl.schema)
    tbl = tbl.sort_by([("query_id", "ascending"), ("score", "descending"),
                       ("doc_id", "ascending")])
    q = tbl.column("query_id").to_numpy(zero_copy_only=False)
    pos = np.arange(q.size)
    rank = pos + 1 - np.maximum.accumulate(
        np.where(np.r_[True, q[1:] != q[:-1]], pos, 0))
    m = rank <= k
    return spark.createDataFrame(tbl.filter(pa.array(m)).append_column(
        "rank", pa.array(rank[m], type=pa.int32())))


SCORE_ROWS_TOPK = StructType(
    [
        StructField("query_id", StringType(), False),
        StructField("doc_id", LongType(), False),
        StructField("score", DoubleType(), False),
    ]
)

#: search_index's result rows
RANKED_ROWS = "query_id string, doc_id long, score double, rank int"


def _query_term_rows(queries: DataFrame):
    """Tokenize the (by definition tiny) query set driver-side: the
    reference also analyzes queries on the driver
    (LuceneQueryBuilder.java:98-117). Returns (sorted distinct terms,
    (query_id, term, qtf) rows). The collect of a local query table is
    no Spark job; plain column lists go through selectExpr: one py4j
    call per name instead of several."""
    from collections import Counter

    from .analysis import tokenize_series

    rows = queries.selectExpr("query_id", "query").collect()
    qt_rows, terms = [], set()
    toks = tokenize_series(pd.Series([r["query"] for r in rows]))
    for r, ts in zip(rows, toks):
        for term, qtf in Counter(ts).items():
            qt_rows.append((r["query_id"], term, float(qtf)))
            terms.add(term)
    return sorted(terms), qt_rows


def local_query_terms(spark: SparkSession, queries: DataFrame):
    """_query_term_rows plus the rows as a local relation: returns (qt
    DataFrame (query_id, term, qtf) or None without a term, distinct
    term list, qt_rows list) for the DataFrame scorers
    (search.search_corpus); collecting qt runs no job, a broadcast of
    it still runs one (localrel module doc)."""
    terms, qt_rows = _query_term_rows(queries)
    if not qt_rows:
        return None, [], []
    qt = local_df(spark, qt_rows, "query_id string, term string, qtf double")
    return qt, terms, qt_rows


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
                 payload_cache: str | None = "memory") -> dict:
    """Prepare an opened index for REPEATED search_index calls on one
    long-lived session (round-4 verdict #3: back-to-back serving
    batches re-paid a ~30 s per-batch constant that neither executor
    count nor batch size shrank): the postings table is persisted
    (payload_cache 'memory' | 'disk' | None), so each batch's term
    IN-scan reads resident columnar data instead of re-opening parquet.
    search_index skips its per-call payload persist while this is
    active (entry-release keeps applying to cold indexes only). Only
    the packed plan reads it, so it is made only when a call can reach
    that plan: n_docs * avgdl = Σ tf >= Σ df over all terms, so at
    most ONE_TASK_MAX_POSTINGS of it every call takes the driver route
    and warming persists nothing and runs no job. At north-star scale
    the payload blocks are TB-class: use 'disk' or None there, exactly
    the cache_level guidance in search_index.

    Stats-drift safety: warm_stats records (n_docs, avgdl,
    encode_avgdl) at warm time; search_index drops the persisted copy
    and serves cold when they no longer match (an incremental merge or
    compaction landed) — re-run warm_serving after maintenance.
    Returns the same dict, mutated in place."""
    if payload_cache not in ("memory", "disk", None):
        raise ValueError(
            f"payload_cache must be 'memory', 'disk', or None, got "
            f"{payload_cache!r}")
    index["warm_stats"] = (index["n_docs"], index["avgdl"],
                           index.get("encode_avgdl"))
    if (payload_cache is None
            or index["n_docs"] * index["avgdl"] <= ONE_TASK_MAX_POSTINGS):
        return index
    from pyspark import StorageLevel

    posts = index["postings"]
    index["postings"] = (posts.persist() if payload_cache == "memory"
                         else posts.persist(StorageLevel.DISK_ONLY))
    index["postings"].count()  # materialize now, not on batch 1
    index["warm_persisted"] = index["postings"]
    return index


def release_warm(index: dict) -> None:
    """Undo warm_serving: unpersist the postings table and drop the
    warm stats (call before delete/merge maintenance that will change
    stats anyway, or at shutdown)."""
    wp = index.pop("warm_persisted", None)
    if wp is not None:
        try:
            wp.unpersist()
        except Exception:
            pass  # session already stopped
    index.pop("warm_stats", None)


def _query_pbs(index: dict, terms) -> list[int] | None:
    """The tid buckets pb = pmod(xxhash64(term), pb_mod) of the terms,
    computed driver-side with the pure-Python XXH64 twin (engine/xxh,
    equality with Spark's xxhash64 is test-pinned); None on a
    pre-bucket index (no pb_mod)."""
    pb_mod = index.get("pb_mod")
    if not pb_mod:
        return None
    from .xxh import spark_xxhash64_str

    return sorted({spark_xxhash64_str(t) % pb_mod for t in terms})


def _payload(index: dict, terms) -> DataFrame:
    """The serving rows of `terms` as a Spark scan, built on the packed
    plan only (the driver route reads them with pyarrow, _term_rows):
    the `term IN` list is pushed into the parquet read, and on the
    tid-bucket layout the `pb IN (...)` filter over the terms' buckets
    (_query_pbs) is a literal Catalyst prunes partition DIRECTORIES
    with — a 5-term query touches <= 5 of the table's pb_mod partitions
    before a single file is opened."""
    terms = list(terms)
    posts = index["postings"]
    pbs = _query_pbs(index, terms)
    if pbs is not None and "pb" in posts.columns:
        posts = posts.where(in_list("pb", pbs))
    return posts.where(in_list("term", terms))


def _impact_ranks(index: dict) -> tuple:
    """The ranks the index's serving rows store impacts for, or () on
    an index without the impacts column (built before it existed).
    The columns come from the long-lived index['postings'] DataFrame,
    which caches its schema, so this asks the JVM at most once."""
    if "impacts" not in index["postings"].columns:
        return ()
    return tuple(index.get("impact_ranks") or ())


def _sql_max(a, b):
    """SQL max of two values: NULL only when both are."""
    return b if a is None else a if b is None else max(a, b)


def _term_rows(index: dict, terms, cols):
    """The serving rows of `terms`, columns `cols`, read on the driver
    with pyarrow.dataset as one Arrow table — no Spark job. The filter
    is `pb IN` (the terms' buckets, _query_pbs) and `term IN`: the rows
    are term-sorted, so row-group statistics skip groups without a
    query term, and columns outside `cols` are never read. The path is
    always local: the engine writes indexes with os/shutil only. The
    dataset is the one read_index opened (index['postings_dset']): a
    generation's postings dir never changes, so it is never re-listed."""
    import pyarrow.dataset as ds

    terms = list(terms)
    dset = index["postings_dset"]
    filt = ds.field("term").isin(terms)
    pbs = _query_pbs(index, terms)
    if pbs is not None and "pb" in dset.schema.names:
        filt = ds.field("pb").isin(pbs) & filt
    return dset.to_table(columns=list(cols), filter=filt)


def _term_meta(index: dict, terms, ranks: tuple) -> dict:
    """term -> (df, raw block-max, per-rank impacts) for the given
    terms, from their serving rows' own metadata columns (_term_rows:
    on the driver, the byte payloads never read). Per term, over its
    chunk rows: the max df (every chunk carries the term's full df),
    the max block-max and the max of each stored impact rank (NULL when
    no chunk of the term holds that many postings). Those are the
    values of the Spark aggregation tests/oracle.term_meta keeps as the
    reference, except that a chunk whose block-max list is NULL, empty
    or holds a NULL leaves the term's block-max NULL (unbounded)
    whatever its other chunks hold: a max over the rest could
    understate it and make the block thresholds unsound.

    """
    cols = ("term", "df", "block_max") + (("impacts",) if ranks else ())
    tbl = _term_rows(index, terms, cols)
    imps = (tbl.column("impacts").to_pylist() if ranks
            else [None] * tbl.num_rows)
    meta: dict = {}
    unbounded = set()
    for t_, dfv, bm, imp in zip(tbl.column("term").to_pylist(),
                                tbl.column("df").to_pylist(),
                                tbl.column("block_max").to_pylist(), imps):
        bmax = max(bm) if bm and None not in bm else None
        if bmax is None:
            unbounded.add(t_)
        ri = tuple(imp[i] if imp is not None and i < len(imp) else None
                   for i in range(len(ranks)))
        old = meta.get(t_)
        meta[t_] = (dfv, bmax, ri) if old is None else (
            _sql_max(old[0], dfv), _sql_max(old[1], bmax),
            tuple(map(_sql_max, old[2], ri)))
    for t_ in unbounded:
        meta[t_] = (meta[t_][0], None, meta[t_][2])
    return meta


def _weight(qtf: float, dfv: float, n_docs: int) -> float:
    """The one score weight, w = qtf * idf(df): the kernel's weights, θ
    and the block thresholds all take it. idf is search.idf_sql's exact
    form, math.log(1.0 + x), within 1 ulp of the JVM's ln
    (test_driver_idf_parity); log1p(x) was up to 42,354 ulp away over
    df 1..min(N, 300k), N up to 10^7."""
    return qtf * math.log(1.0 + (float(n_docs) - dfv + 0.5) / (dfv + 0.5))


def _weights(qt_rows, meta: dict, n_docs: int) -> list:
    """(query_id, term, w) rows (_weight) for every (query, term) row
    whose term has a df in meta (a term absent from the index, or with
    a NULL df — degenerate metadata — has no weight)."""
    return [(q, t_, _weight(f, float(meta[t_][0]), n_docs))
            for (q, t_, f) in qt_rows
            if t_ in meta and meta[t_][0] is not None]


def _n_postings(meta: dict, terms) -> int:
    """Σ df of the terms: the kernel's work bound, before pruning."""
    return sum(meta[t_][0] or 0 for t_ in terms if t_ in meta)


def _relax(v: float) -> float:
    """Move a finite pruning bound toward KEEP by a relative 1e-9
    (+1e-12): the bounds' products and sums round differently from the
    kernel's dot products, and a superset decode is always rank-exact."""
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
        w_ = _weight(f, float(row[0]), n_docs)
        if w_ <= 0:
            continue
        v = _relax(w_ * float(imp) * scale)
        if v > theta.get(q, float("-inf")):
            theta[q] = v
    return theta


def _decode_theta(spark: SparkSession, index: dict, meta: dict, qt_rows,
                  k: int, dead_ids, payload: DataFrame | None = None
                  ) -> dict[str, float]:
    """The exact θ fallback: score ONLY each query's rarest term with
    the serving kernel and take its k-th best live single-term score.
    Rarest = highest idf = LOWEST df (idf is strictly decreasing in df,
    ties to min term). The (query, rare term) rows take the serving
    weights (_weights) and the kernel drops the dead docs (dead_ids),
    so θ is scored exactly as the final plan scores and never counts a
    deleted doc. Below ONE_TASK_MAX_POSTINGS rare-term postings it runs
    on the driver, with no job; above, the packed plan filters the
    caller's persisted payload (or a fresh _payload scan) to the rare
    terms with a driver literal (IN-pushdown, no semi-join). Queries
    with fewer than k live docs for the term get no θ (-inf)."""
    n_docs = index["n_docs"]
    rare: dict[str, tuple] = {}  # query -> (df, term, qtf)
    for (q, t_, f) in qt_rows:
        row = meta.get(t_)
        if row is None or row[0] is None:
            continue
        pick = (float(row[0]), t_, f)
        if q not in rare or pick[:2] < rare[q][:2]:
            rare[q] = pick
    rare_rows = [(q, t_, f) for q, (_df, t_, f) in rare.items()]
    rare_terms = sorted({t_ for _q, t_, _f in rare_rows})
    if not rare_terms:
        return {}
    top = _matmul_score_topk(
        spark, index, rare_terms, None, index["avgdl"],
        _weights(rare_rows, meta, n_docs), k, None, dead_ids,
        _n_postings(meta, rare_terms), n_docs >= AUTO_PRUNE_MIN_DOCS,
        payload=None if payload is None
        else payload.where(in_list("term", rare_terms)))
    return {r["query_id"]: float(r["score"])
            for r in top.where(f"rank = {int(k)}").collect()}


def _impact_rank(ranks: tuple, k: int, dead_ids) -> int | None:
    """Position in the stored impact ranks of the smallest rank >= k,
    or None when θ takes the exact decode fallback: standing
    tombstones (a stored impact may count deleted docs), k above every
    stored rank, or no impacts column (no ranks)."""
    if dead_ids is not None:
        return None
    return next((i for i, r in enumerate(ranks) if r >= k), None)


def _theta(spark: SparkSession, index: dict, meta: dict, qt_rows, k: int,
           dead_ids, payload: DataFrame | None = None) -> dict[str, float]:
    """Phase-1 θ per query (module doc): from the stored impacts when
    they are sound and deep enough, else the exact decode fallback
    (over `payload`, when the caller persisted one for it). The one θ
    source of search_index and pruning_stats."""
    n_docs, avgdl = index["n_docs"], index["avgdl"]
    enc_avgdl = float(index.get("encode_avgdl") or avgdl) or avgdl
    rank_i = _impact_rank(_impact_ranks(index), k, dead_ids)
    if rank_i is not None:
        scale = min(1.0, avgdl / enc_avgdl) if enc_avgdl > 0 else 1.0
        return _impact_theta(qt_rows, meta, rank_i, n_docs, scale)
    return _decode_theta(spark, index, meta, qt_rows, k, dead_ids, payload)


def _block_thresholds(qt_rows, meta: dict, theta: dict, n_docs: int,
                      bfac: float, quant: float) -> dict[tuple, float]:
    """Phase 2 per (query, term): the raw block_max a block of the term
    must reach to possibly hold a top-k doc of the query, relaxed
    toward KEEP (_relax). From
        w*bmax*bfac >= θ(q) - (UBsum(q) - w*tmax)
    ⟺  bmax >= (θ(q) - UBsum(q)) / (w*bfac) + tmax/bfac.
    Negative-weight safety (all three guards are exact no-ops when
    every w > 0, i.e. on any self-consistent index — idf = ln(1+x),
    x > 0. They matter only on an index that is not — a foreign or
    hand-edited one — where a term's df exceeds N, making idf and hence
    w NEGATIVE; the engine commits stats and postings in one flip, so
    it never serves refreshed stats beside stale df):
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
        w_ = _weight(f, float(row[0]), n_docs)
        tmax = float(row[1]) * bfac
        us, ns = ub.get(q, (0.0, 0.0))
        ub[q] = (us + max(w_, 0.0) * tmax, ns + min(w_ * tmax, 0.0))
    out: dict[tuple, float] = {}
    for (q, t_, f) in qt_rows:
        row = meta.get(t_)
        if row is None:
            continue
        w_ = ninf if q in open_q else _weight(f, float(row[0]), n_docs)
        if w_ <= 0:
            out[(q, t_)] = ninf
            continue
        ubsum, negsum = ub[q]
        tmax = float(row[1]) * bfac
        th = theta.get(q, ninf) - quant
        out[(q, t_)] = _relax(
            (th + negsum - ubsum) / (w_ * bfac) + tmax / bfac)
    return out


def search_index(
    spark: SparkSession,
    index: dict,
    queries: DataFrame,
    k: int = TOP_K,
    prune: bool | str = "auto",
    round_dp: int | None = None,
    cache_level: str = "memory",
    agg_impl: str = "auto",
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
    the query's posting rows (byte payloads included) when the exact
    decode θ reads them before the final plan does. Only the packed
    plan reads them through Spark: θ from the stored impacts reads them
    once, and a set of at most ONE_TASK_MAX_POSTINGS postings is read
    on the driver, so nothing is persisted there. 'memory' (default) is
    fastest when the touched slice fits executor storage; at north-star
    scale a hot term's payload blocks are TB-class, so serving there
    should use 'disk' (spill-backed) or 'none' (re-scan: the term
    IN-pushdown scan is cheap relative to pinning payloads in the
    storage pool). Measured
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
    once the drift exceeds its max_bound_drift.

    agg_impl ('auto' | 'matmul'): both name the one score aggregation,
    the matmul kernel (module doc); any other value raises."""
    if cache_level not in ("memory", "disk", "none"):
        raise ValueError(
            f"cache_level must be 'memory', 'disk', or 'none', got "
            f"{cache_level!r}")
    if agg_impl not in ("auto", "matmul"):
        raise ValueError(
            f"agg_impl must be 'auto' or 'matmul', got {agg_impl!r}")
    # release the PREVIOUS call's persisted posting rows on ENTRY — not
    # just on the pruned branch — so an unpruned (or empty-query) call
    # after a pruned one can't leave the old plan pinned forever
    release_serving_cache()
    # Standing tombstones (postings.delete_docs): Lucene-liveDocs
    # semantics — deleted docs vanish from results immediately, while
    # n_docs/avgdl/df keep counting them until compact_tombstones
    # re-baselines. The kernel drops them before its candidate cut
    # (dead_ids), and θ must not be supported by deleted docs (it
    # would be too high for the surviving corpus and could prune a
    # surviving doc out of the true top-k): stored impacts may count
    # deleted docs, so a tombstoned index takes the decode θ, whose
    # kernel drops them too. Block-max bounds may still include
    # deleted docs' tf: upper bounds stay valid, just less sharp. The
    # id array rides every kernel task, so the set is meant to stay
    # small relative to the index (compact when it grows — same
    # guidance as Lucene's forceMergeDeletes). Read below, once the
    # call has a term to serve.
    n_docs, avgdl = index["n_docs"], index["avgdl"]
    enc_avgdl = float(index.get("encode_avgdl") or avgdl) or avgdl
    bfac = max(1.0, avgdl / enc_avgdl) if enc_avgdl > 0 else 1.0
    # Warm serving (ADVICE-r5 #1): the per-call payload persist is
    # skipped only while the warm persist is VALID — stats unchanged
    # AND the persisted handle still IS index['postings']; on detected
    # drift (maintenance landed under a live warm index) the stale
    # persisted copy is dropped here instead of pinning pre-maintenance
    # bytes in executor storage until someone calls release_warm().
    warm = index.get("warm_persisted")
    if warm is not None:
        if (index.get("warm_stats") == (n_docs, avgdl,
                                        index.get("encode_avgdl"))
                and warm is index.get("postings")):
            # warm_serving already holds the postings table resident: a
            # per-call payload persist would be a second copy of the
            # same bytes, paid per batch
            cache_level = "none"
        else:
            release_warm(index)
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
    terms, qt_rows = _query_term_rows(queries)
    _mark("query_terms")
    if not terms or n_docs == 0 or avgdl <= 0:
        # an empty LocalRelation: collecting it runs no Spark job
        return local_df(spark, [], RANKED_ROWS)

    # Per-term (df, raw block-max, impacts), read on the driver
    # (_term_meta, no job): the weights, θ, the UB sums, the block
    # thresholds and the driver-route bound are plain driver
    # arithmetic, with no JVM call (BASELINE.md "Single-query latency
    # anatomy").
    ranks = _impact_ranks(index) if prune else ()
    meta = _term_meta(index, terms, ranks)
    qw_rows = _weights(qt_rows, meta, n_docs)
    _mark("meta")
    if not qw_rows:
        # no query term is in the index: nothing can score, so no
        # persist, θ or kernel — collecting the empty relation is no job
        return local_df(spark, [], RANKED_ROWS)
    dead_ids = index.get("tombstone_ids")
    n_postings = _n_postings(meta, terms)
    bthresh = payload = None
    if prune:
        # ---- pruned path: the metadata above, then driver arithmetic,
        # then the kernel:
        #   θ (_theta): from the stored impacts in `meta` — no job — or,
        #     on the exact fallback, one kernel run over each query's
        #     rarest term; only then does the packed plan's payload scan
        #     have a second consumer worth persisting (above the bound:
        #     below it both kernel runs read the payload on the driver).
        #   Driver: phase 2 — per-query UB sums and the per-term block
        #     threshold (_block_thresholds; the MIN of the keep
        #     condition over sharing queries). These feed PRUNING BOUNDS
        #     only and are relaxed toward KEEP.
        #   Kernel: the term -> threshold map keeps each row's blocks
        #     (_keep_blocks) -> decode survivors -> score -> top-k.
        # Decoding a superset of a query's own keep list is always safe:
        # the WAND argument only ever uses "a block was skipped ⇒ its
        # docs provably score below θ(q)", and the union skips a block
        # only when EVERY sharing query's condition skips it — extra
        # decoded blocks just move partial scores toward their exact
        # values (rank identity to the unpruned plan is pytest- and
        # oracle-gated).
        if (_impact_rank(ranks, k, dead_ids) is None
                and n_postings > ONE_TASK_MAX_POSTINGS
                and cache_level != "none"):
            from pyspark import StorageLevel

            payload = _payload(index, terms)
            payload = _track_persist(
                payload.cache() if cache_level == "memory"
                else payload.persist(StorageLevel.DISK_ONLY))
        theta = _theta(spark, index, meta, qt_rows, k, dead_ids, payload)
        _mark("theta")
        quant = 10.0 ** -round_dp if round_dp is not None else 0.0
        bthresh = {}
        for (_q, t_), v in _block_thresholds(qt_rows, meta, theta, n_docs,
                                             bfac, quant).items():
            bthresh[t_] = min(v, bthresh.get(t_, v))
        _mark("thresholds(driver)")
    return _matmul_score_topk(
        spark, index, terms, bthresh, avgdl, qw_rows, k, round_dp,
        dead_ids, n_postings, n_docs >= AUTO_PRUNE_MIN_DOCS, payload)


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
    Otherwise the same metadata, θ (_theta), thresholds
    (_block_thresholds) and keep rule (_keep_blocks) as
    search_index(prune=True), counted on the driver over the terms'
    block_max lists instead of executed."""
    n_docs, avgdl = index["n_docs"], index["avgdl"]
    enc_avgdl = float(index.get("encode_avgdl") or avgdl) or avgdl
    bfac = max(1.0, avgdl / enc_avgdl) if enc_avgdl > 0 else 1.0
    terms, qt_rows = _query_term_rows(queries)
    if not terms:
        return {"total_blocks": 0, "kept_blocks": 0, "pruned_fraction": 0.0}
    meta = _term_meta(index, terms, _impact_ranks(index))
    theta = _theta(spark, index, meta, qt_rows, k, index.get("tombstone_ids"))
    rhs: dict[str, list] = {}
    for (_q, t_), v in _block_thresholds(qt_rows, meta, theta, n_docs,
                                         bfac, 0.0).items():
        rhs.setdefault(t_, []).append(v)
    tbl = _term_rows(index, rhs, ("term", "block_max"))
    total = kept = 0
    for t_, bm in zip(tbl.column("term").to_pylist(),
                      tbl.column("block_max").to_pylist()):
        n = len(bm or ())
        for v in rhs[t_]:
            keep = _keep_blocks(bm, v)
            total += n
            kept += n if keep is None else keep.size
    return {
        "total_blocks": total,
        "kept_blocks": kept,
        "pruned_fraction": round(1 - kept / total, 4) if total else 0.0,
    }
