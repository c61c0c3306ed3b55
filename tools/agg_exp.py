"""Batch score-aggregation A/B: 'join' vs 'matmul' (round 4).

The serving-side event-log decomposition (BASELINE.md round 4) showed
the broadcast-weight join + groupBy(query,doc).sum plan shuffles the
full per-(query,term) fan-out — 91M partial rows for a 400-query zipf
batch over the 500k-doc/300k-term design-regime fixture — into an
aggregate whose map-side combine collapses ~nothing. The 'matmul'
aggregation (csearch._matmul_emit) partitions the UNIQUE decoded
(term, doc, tf_part) rows by doc, scores the whole batch as dense
chunks, and ships only per-partition top-k candidates.
This harness measures the identical 400-query pruned batch
(bench.py --query-phase) under both impls, interleaved within each
rep, at 8 and 32 cores — results land in bench/agg_exp_latest.json
and BASELINE.md.

Run AFTER the box is quiet:
    python tools/agg_exp.py [--reps 3]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(REPO, "bench.py")
CORPUS = "/tmp/spark_graft_scaling_corpus_500000_v300000"
OUT = os.path.join(REPO, "bench", "agg_exp_latest.json")


def _run(impl: str, cpus: int) -> float:
    env = dict(os.environ)
    env["SPARK_GRAFT_AGG_IMPL"] = impl
    env["SPARK_GRAFT_SCALE_VOCAB"] = "300000"
    env.pop("SPARK_GRAFT_MASTER", None)
    out = subprocess.run(
        [sys.executable, BENCH, "--query-phase", CORPUS, str(cpus)],
        capture_output=True, text=True, check=True, env=env,
    )
    return float(json.loads(out.stdout.strip().splitlines()[-1])["wall_sec"])


def main() -> None:
    reps = 3
    if "--reps" in sys.argv:
        reps = int(sys.argv[sys.argv.index("--reps") + 1])
    if not os.path.exists(CORPUS + "/_SUCCESS"):
        sys.path.insert(0, REPO)
        from bench import _scaling_corpus

        _scaling_corpus(500_000, vocab_size=300_000)
    result: dict = {"n_docs": 500_000, "vocab_size": 300_000,
                    "n_queries": int(os.environ.get(
                        "SPARK_GRAFT_SCALE_QUERIES", "400")),
                    "reps": reps, "walls": {}}
    # interleave impls within each rep so host-noise drift hits both
    for cpus in (32, 8):
        for rep in range(reps):
            for impl in ("join", "matmul"):
                w = _run(impl, cpus)
                key = f"{impl}_{cpus}"
                result["walls"].setdefault(key, []).append(w)
                print(f"rep{rep} {key}: {w:.1f}s", flush=True)
    best = {k: min(v) for k, v in result["walls"].items()}
    result["best"] = best
    for cpus in (8, 32):
        j = best.get(f"join_{cpus}")
        m = best.get(f"matmul_{cpus}")
        if j and m:
            result[f"matmul_speedup_{cpus}"] = round(j / m, 3)
    for impl in ("join", "matmul"):
        w8, w32 = best.get(f"{impl}_8"), best.get(f"{impl}_32")
        if w8 and w32:
            result[f"query_eff_{impl}"] = round((w8 / w32) / 4, 3)
    result["measured_unix_ts"] = round(time.time(), 1)
    with open(OUT, "w") as fh:
        json.dump(result, fh, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
