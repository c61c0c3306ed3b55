"""Deletes at design-regime scale (round-4 verdict item 6).

delete_docs / compact_tombstones are oracle- and crash-gated at
sf0.001; this measures a realistic maintenance cycle on the 500k-doc /
300k-term zipfian fixture, where the tombstone-θ guard and the
negative-weight hybrid-stats window actually matter:

  1. hardlink-copy the shared design-regime index (fixture untouched);
  2. delete ~5% of docs (every 20th doc_id — includes hot-posting docs);
  3. serve a query batch over the deleted index, pruned AND unpruned —
     rank identity between them exercises the tombstone-θ guard (θ
     supported by deleted docs would over-prune; the pruned path must
     return exactly the unpruned result);
  4. compact_tombstones (the full expunge merge), then re-serve with
     the SAME pruned-vs-unpruned identity check over the re-baselined
     stats (pre-compaction scores use Lucene-parity stale stats, so
     rankings may legitimately shift at compaction — the rebuild
     identity itself is pytest/oracle-gated at sf0.001; optionally
     assert it here too with --rebuild-check at ~2x harness wall);
  5. report walls for every phase.

Usage: python tools/delete_exp.py [--docs 500000] [--vocab 300000]
         [--queries 200] [--del-every 20] [--master local[32]]
Writes bench/delete_exp_latest.json; exits non-zero on any identity
violation (a failing run must never be committed as evidence).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _link_copy(src: str, dst: str) -> None:
    """Recursive copy with hardlinked file contents (same fs)."""
    os.makedirs(dst, exist_ok=True)
    for root, dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        for d in dirs:
            os.makedirs(os.path.join(dst, rel, d), exist_ok=True)
        for f in files:
            s = os.path.join(root, f)
            t = os.path.join(dst, rel, f)
            try:
                os.link(s, t)
            except OSError:
                shutil.copy2(s, t)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=500_000)
    ap.add_argument("--vocab", type=int, default=300_000)
    ap.add_argument("--queries", type=int, default=200)
    ap.add_argument("--del-every", type=int, default=20)
    ap.add_argument("--master", default="local[32]")
    ap.add_argument("--rebuild-check", action="store_true",
                    help="also rebuild from the surviving corpus and "
                         "assert rank identity (expensive)")
    args = ap.parse_args()

    import tempfile

    import bench
    from engine.corpusgen import synth_queries
    from engine.csearch import search_index
    from engine.postings import compact_tombstones, delete_docs, read_index

    corpus = bench._scaling_corpus(args.docs, vocab_size=args.vocab)
    src_idx = bench._scaling_index(corpus)
    work = tempfile.mkdtemp(prefix="delete_exp_")
    idx_dir = os.path.join(work, "idx")
    t0 = time.time()
    _link_copy(src_idx, idx_dir)
    copy_wall = round(time.time() - t0, 3)

    os.environ["SPARK_GRAFT_MASTER"] = args.master
    spark = bench._mk_spark(32)
    spark.sparkContext.setLogLevel("ERROR")
    res: dict = {"n_docs": args.docs, "vocab_size": args.vocab,
                 "n_queries": args.queries, "master": args.master,
                 "index_copy_wall": copy_wall}
    failures = []
    try:
        dead = list(range(0, args.docs, args.del_every))
        res["n_deleted"] = len(dead)
        t0 = time.time()
        n = delete_docs(spark, idx_dir, dead)
        res["delete_wall"] = round(time.time() - t0, 3)
        res["delete_returned"] = n

        idx = read_index(spark, idx_dir)
        qs = synth_queries(spark, args.queries, seed=42,
                           vocab_size=args.vocab)

        def serve(prune: bool):
            t0 = time.time()
            rows = search_index(spark, idx, qs, k=10, prune=prune,
                                round_dp=6).collect()
            return round(time.time() - t0, 3), sorted(
                (r.query_id, r.rank, r.doc_id, r.score) for r in rows)

        res["serve_deleted_pruned_wall"], pruned = serve(True)
        res["serve_deleted_unpruned_wall"], unpruned = serve(False)
        if pruned != unpruned:
            failures.append("pruned vs unpruned mismatch on deleted index")
        if any(r[2] % args.del_every == 0 for r in pruned):
            failures.append("a deleted doc appeared in results")

        t0 = time.time()
        stats = compact_tombstones(spark, idx_dir)
        res["compact_wall"] = round(time.time() - t0, 3)
        res["compact_stats"] = {k: stats.get(k) for k in
                                ("removed", "n_docs") if k in stats}
        idx2 = read_index(spark, idx_dir)
        if idx2.get("tombstone_ids") is not None:
            failures.append("tombstones survived compaction")
        idx = idx2

        res["serve_compacted_pruned_wall"], cpruned = serve(True)
        res["serve_compacted_unpruned_wall"], cunpruned = serve(False)
        if cpruned != cunpruned:
            failures.append("pruned vs unpruned mismatch after compaction")
        if any(r[2] % args.del_every == 0 for r in cpruned):
            failures.append("a deleted doc appeared after compaction")
        if args.rebuild_check:
            from pyspark.sql import functions as F

            from engine.postings import build_index
            rebuilt_dir = os.path.join(work, "rebuilt")
            survivors = (spark.read.parquet(corpus)
                         .where(F.col("doc_id") % args.del_every != 0))
            t0 = time.time()
            build_index(spark, survivors, rebuilt_dir, n_shards=8,
                        hot_df_threshold=max(1000, args.docs // 20),
                        n_salts=8, id_col="doc_id", text_col="content")
            res["rebuild_wall"] = round(time.time() - t0, 3)
            ridx = read_index(spark, rebuilt_dir)
            rrows = search_index(spark, ridx, qs, k=10, prune=True,
                                 round_dp=6).collect()
            rset = sorted((r.query_id, r.rank, r.doc_id, r.score)
                          for r in rrows)
            if rset != cpruned:
                failures.append("compacted index != from-scratch rebuild")
        res["identity_ok"] = not failures
        res["failures"] = failures
        res["measured_unix_ts"] = round(time.time(), 1)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(REPO, "bench", "delete_exp_latest.json"),
              "w") as fh:
        json.dump(res, fh)
    print(json.dumps(res))
    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()
