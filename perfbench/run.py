"""End-to-end benchmark of the engine's build and serving paths.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Inputs are generated from the seed
(perfbench/gen.py), every result is checked against an exact BM25
oracle (perfbench/oracle.py), and the last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the session also writes
a Spark event log, every timed call runs in its own job group, and the
metrics are the per-layer ones (perfbench/sparklog.py), plus the traced
run's end-to-end numbers under ``trace.`` so tracing overhead is the
difference from an untraced run on the same seed. The per-call trace,
job call sites included, is kept in .perfbench/traces/.

One run: generate inputs and oracle answers (untimed); set up (session
start, build_index, which pays first-call compilation, read_index, and
one batch and one single query, so serving compilation is paid here
too); then the measured passes, each one batch search, four single
queries and one build_index into a fresh directory, one client, closed
loop. The number of passes is --seconds over the workload's
nominal pass time, so every run of a workload makes the same ops in the
same order whatever the host's speed: a time-based stop would sample a
slow host earlier in the JVM's warm-up, which lasts dozens of queries,
and widen the spread between runs. Set-up happens once per run: the JVM
start and first-call compilation it contains cannot be repeated in one
process. The warm posture (warm_serving, then single queries) is
measured in the traced run only, after the measured ops, so its cache
never serves a measured query.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: name -> corpus spec, query counts, the batch route and the nominal
#: wall of one measured pass on a quiet 4-vCPU host, which sets how many
#: passes --seconds buys. The zipf batch forces the pruned matmul route,
#: which prune="auto" picks only from 100k docs, a build and serving
#: cost too big to repeat inside one run (see README.md). ``probe_batch`` sizes the query set whose term
#: rows the traced run feeds to local_df (1600 queries overflow its
#: 2048-row limit). Single queries always take prune="auto".
WORKLOADS = {
    "zipf": {
        "corpus": ("zipf", {"n_docs": 3000, "vocab_size": 6000,
                            "min_tokens": 20, "max_tokens": 60}),
        "batch": 256, "singles": 20, "probe_batch": 1600,
        "batch_route": {"prune": True, "agg_impl": "matmul"},
        "pass_s": 12.0,
    },
    "reference": {
        "corpus": ("parquet", {"path": "data/sf0.1_documents.parquet"}),
        "batch_route": {"prune": "auto", "agg_impl": "auto"},
        "pass_s": 10.0,
    },
}
#: one measured pass
PASS = ("batch",) + ("query",) * 4 + ("build",)
#: traced run: warm single queries after warm_serving
WARM_SINGLES = 4
#: single-query route
SINGLE_ROUTE = {"prune": "auto", "agg_impl": "auto"}

QUERY_SCHEMA = "query_id string, query string"


def _median(xs):
    return statistics.median(xs)


def _declared_units(section: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def _cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks since boot; steal is time the hypervisor
    ran someone else while this machine's CPUs wanted to run."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:]]
    return sum(t), t[7]


def _reap_children(timeout: float = 60) -> None:
    """Wait for every child, orphaned descendants included (this process
    is their subreaper); kill what is left after ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            if time.monotonic() > deadline:
                for c in _child_map().get(os.getpid(), []):
                    try:
                        os.kill(c, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
            time.sleep(0.1)


def _child_map() -> dict[int, list[int]]:
    """ppid -> pids, over every live process."""
    children: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(p))
    return children


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _tree_peak_rss_mb() -> float:
    """Sum of peak RSS (VmHWM) over this process and its descendants."""
    children = _child_map()
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, work: str):
        self.name, self.spec = workload, WORKLOADS[workload]
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.work = work
        self.calls = []
        self.samples: dict[str, list[float]] = {}
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.notes: dict[str, int] = {}

    # -- inputs ---------------------------------------------------------
    def make_inputs(self) -> None:
        import gen
        from oracle import Oracle

        kind, kw = self.spec["corpus"]
        if kind == "zipf":
            c = gen.zipf_corpus(self.seed, **kw)
            qs = gen.zipf_queries(self.seed, self.spec["batch"],
                                  kw["vocab_size"], 2, 5)
            self.probe_q = gen.zipf_queries(self.seed, self.spec["probe_batch"],
                                            kw["vocab_size"], 2, 5, stream=4)
            self.single_q = qs[:self.spec["singles"]]
        else:
            # a fixed corpus and query set: the seed changes nothing
            c = gen.corpus_from_parquet(os.path.join(HERE, kw["path"]))
            qs = self.probe_q = self.single_q = list(gen.REFERENCE_QUERIES)
        self.corpus = c
        self.docs_path = os.path.join(self.work, "docs.parquet")
        self.text_bytes = c.write(self.docs_path)
        self.batch_q = qs
        self.oracle = Oracle(c)
        self.expect100 = {q: self.oracle.rank(t, 100) for q, t in qs}
        self.expect10 = {q: self.oracle.rank(t, 10) for q, t in self.single_q}

    # -- session --------------------------------------------------------
    def start_session(self):
        from pyspark.sql import SparkSession

        # half the CPUs: the other half runs the Python workers and the
        # driver, which makes timings much less sensitive to CPU steal
        # on a shared host (README.md). A fixed 2 GB heap (the data is a
        # few MB), so the heap does not resize differently run to run.
        cpus = max(1, (os.cpu_count() or 2) // 2)
        b = (
            SparkSession.builder.master(f"local[{cpus}]")
            .appName(f"perfbench-{self.name}")
            .config("spark.driver.memory", "2g")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.shuffle.partitions", str(2 * cpus))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
                    str(2 * cpus))
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.execution.arrow.maxRecordsPerBatch", "500000")
            .config("spark.local.dir", os.path.join(self.work, "local"))
            .config("spark.sql.warehouse.dir",
                    os.path.join(self.work, "warehouse"))
            .config("spark.driver.extraJavaOptions",
                    f"-Xms2g -Djava.io.tmpdir={self.work}/tmp "
                    f"-Dderby.system.home={self.work}")
        )
        if self.trace:
            self.log_dir = os.path.join(self.work, "events")
            os.makedirs(self.log_dir)
            b = (b.config("spark.eventLog.enabled", "true")
                 .config("spark.eventLog.dir", "file://" + self.log_dir)
                 .config("spark.eventLog.compress", "false")
                 .config("spark.eventLog.rolling.enabled", "false"))
        spark = b.getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def stop_session(self) -> None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        if gw is None:
            return
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # -- timed calls ----------------------------------------------------
    def call(self, kind: str, fn):
        """Run fn() as one timed call; returns (result, seconds)."""
        from sparklog import Call

        sc = self.spark.sparkContext
        group = f"pb{len(self.calls)}-{kind}"
        if self.trace:
            sc.setJobGroup(group, kind)
        w0, t0 = time.time(), time.perf_counter()
        try:
            out = fn()
        finally:
            dt = time.perf_counter() - t0
            w1 = time.time()
            if self.trace:
                sc.setJobGroup("untimed", "untimed")
        self.calls.append(Call(group, kind, w0 * 1000, w1 * 1000))
        self.samples.setdefault(kind, []).append(dt)
        return out, dt

    def checked(self, kind: str, fn, expect: dict, k: int) -> None:
        """A timed search whose rows are checked against the oracle."""
        from oracle import check

        self.attempted += 1
        try:
            rows, _ = self.call(kind, fn)
        except Exception as e:  # count the failure, keep measuring
            self.failed += 1
            self.errors.append(f"{kind}: {type(e).__name__}: {e}")
            return
        by_q: dict[str, list] = {q: [] for q in expect}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(
                (r["doc_id"], r["score"], r["rank"]))
        bad = None
        for q, got in by_q.items():
            if q not in expect:
                bad = f"unexpected query {q}"
                break
            bad = check(expect[q], sorted(got, key=lambda x: x[2]), k)
            if bad:
                bad = f"{q}: {bad}"
                break
        if bad:
            self.failed += 1
            self.errors.append(f"{kind}: {bad}")

    # -- phases ---------------------------------------------------------
    def build(self, out: str) -> dict:
        from engine.postings import build_index

        m = build_index(self.spark, self.docs, out, n_shards=8,
                        hot_df_threshold=max(100, self.corpus.n_docs // 10),
                        n_salts=8)
        self.manifests.append(m)
        return m

    def search(self, idx, qdf, k: int):
        """Batches (k=100) and single queries (k=10) take their own route."""
        from engine.csearch import search_index

        route = self.spec["batch_route"] if k == 100 else SINGLE_ROUTE
        return search_index(self.spark, idx, qdf, k=k, **route).collect()

    def setup(self) -> None:
        """Start the session; build and open the index; make the first
        serving calls (checked too). All of it counts in setup_s."""
        from engine.localrel import local_df
        from engine.postings import read_index

        t0 = time.perf_counter()
        self.spark = self.start_session()
        self.session_s = time.perf_counter() - t0
        self.batch_qdf = local_df(self.spark, self.batch_q, QUERY_SCHEMA)
        self.single_qdf = [local_df(self.spark, [q], QUERY_SCHEMA)
                           for q in self.single_q]
        self.docs = self.spark.read.parquet(self.docs_path)
        self.manifests = []
        self.index_dir = os.path.join(self.work, "index0")
        self.call("setup.build", lambda: self.build(self.index_dir))
        self.idx, _ = self.call(
            "setup.read_index", lambda: read_index(self.spark, self.index_dir))
        self.index_bytes = _dir_bytes(self.index_dir)
        self.op("setup.batch")
        self.op("setup.query")
        self.setup_s = self.session_s + sum(
            sum(v) for k, v in self.samples.items() if k.startswith("setup."))

    def op(self, kind: str, idx=None) -> None:
        """One timed op of ``kind`` (``setup.<kind>`` during set-up) on
        ``idx``, by default the measured index. Single queries take the
        query set in turn; a build writes a fresh directory."""
        idx = idx or self.idx
        base = kind.split(".")[-1]
        if base == "build":
            out = os.path.join(self.work, f"index{len(self.manifests)}")
            self.call(kind, lambda: self.build(out))
        elif base == "batch":
            self.checked(kind, lambda: self.search(
                idx, self.batch_qdf, 100), self.expect100, 100)
        else:
            n = sum(len(self.samples.get(k, ())) for k in (base, "setup." + base))
            s = n % len(self.single_q)
            q = self.single_q[s][0]
            self.checked(kind, lambda: self.search(
                idx, self.single_qdf[s], 10), {q: self.expect10[q]}, 10)

    def measure(self) -> None:
        """The measured passes, one op at a time."""
        passes = max(1, round(self.seconds / self.spec["pass_s"]))
        for _ in range(passes):
            for kind in PASS:
                self.op(kind)

    def end_to_end(self) -> dict:
        s = self.samples
        return {
            "setup_s": self.setup_s,
            "build_docs_per_s": self.corpus.n_docs / _median(s["build"]),
            "index_bytes_per_text_byte": self.index_bytes / self.text_bytes,
            "batch_qps": len(self.batch_q) / _median(s["batch"]),
            "query_p50_ms": 1000 * _median(s["query"]),
        }

    # -- traced-only layer probes ----------------------------------------
    def layer_probes(self) -> dict:
        """Traced-run-only calls that isolate single layers."""
        from pyspark.sql import functions as F

        from engine.analysis import with_tokens
        from engine.csearch import (local_query_terms, release_warm,
                                    warm_serving)
        from engine.localrel import local_df
        from engine.postings import read_index
        from engine.search import search_corpus

        out = {}
        # the warm posture: its cache serves no measured query, as the
        # measured ops are over
        warm_idx, out["csearch.warm_serving_s"] = self.call(
            "warm_serving", lambda: warm_serving(
                self.spark, read_index(self.spark, self.index_dir)))
        self.op("setup.warm_query", warm_idx)
        for _ in range(WARM_SINGLES):
            self.op("warm_query", warm_idx)
        out["csearch.warm_query_p50_ms"] = 1000 * _median(
            self.samples["warm_query"])
        storage = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        out["proc.storage_mb"] = sum(
            r.memSize() + r.diskSize() for r in storage) / 2**20
        release_warm(warm_idx)
        toks, out["analysis.tokenize_s"] = self.call(
            "tokenize", lambda: with_tokens(self.docs).select(
                F.sum(F.size("tokens"))).collect()[0][0])
        self.attempted += 1
        if toks != int(self.oracle.dl.sum()):
            self.failed += 1
            self.errors.append(f"tokenize: {toks} tokens, oracle "
                               f"{int(self.oracle.dl.sum())}")
        from oracle import analyze
        from collections import Counter

        def qterm_rows(qs):
            return [(q, t, float(n)) for q, text in qs
                    for t, n in Counter(analyze(text)).items()]

        schema = "query_id string, term string, qtf double"
        for label, rows in (("1", qterm_rows(self.single_q[:1])),
                            ("batch", qterm_rows(self.probe_q))):
            for _ in range(2):
                self.call(f"local_df_{label}",
                          lambda: local_df(self.spark, rows, schema).collect())
            self.notes[f"local_df_{label}_rows"] = len(rows)
        for s in range(3):
            self.call("local_query_terms",
                      lambda: local_query_terms(self.spark,
                                                self.single_qdf[s]))
        # search_corpus scores straight from the docs table, no index;
        # the first call pays its compilation
        corpus_q = self.batch_q[:50]
        corpus_qdf = local_df(self.spark, corpus_q, QUERY_SCHEMA)
        for kind in ("setup.corpus", "corpus", "corpus"):
            self.checked(kind, lambda: search_corpus(
                self.spark, self.docs, corpus_qdf, k=100).collect(),
                {q: self.expect100[q] for q, _ in corpus_q}, 100)
        out["search.search_corpus_s"] = _median(self.samples["corpus"])
        out["proc.peak_rss_mb"] = _tree_peak_rss_mb()
        return out

    def codec_probe(self) -> dict:
        """encode_blocked_batch / decode_blocked_batch on one core over
        the corpus's posting lists. Rates are in uncompressed posting
        bytes (doc id, tf and dl as 4-byte ints) per second."""
        import numpy as np

        from engine.codec import decode_blocked_batch, encode_blocked_batch

        o = self.oracle
        sizes = np.diff(o.starts)
        starts = o.starts[:-1][sizes > 0]
        gs = starts.astype(np.int64)
        dls = o.dl[o.p_doc].astype(np.int64)
        tfs = o.p_tf.astype(np.int64)
        raw_mb = 12 * len(o.p_doc) / 1e6

        def timed(fn, min_s=0.5, min_reps=3):
            ts, t_end = [], time.perf_counter() + min_s
            while len(ts) < min_reps or time.perf_counter() < t_end:
                t0 = time.perf_counter()
                r = fn()
                ts.append(time.perf_counter() - t0)
            return r, _median(ts)

        enc, e_s = timed(lambda: encode_blocked_batch(
            o.p_doc, tfs, dls, gs, o.avgdl))

        def split(buf, lens):
            ends = np.cumsum(lens)
            mv = memoryview(buf)
            return [mv[e - n:e] for e, n in zip(ends.tolist(), lens.tolist())]

        bpg = enc["blocks_per_group"]
        offs = np.split(enc["doc_off"], np.cumsum(bpg)[:-1])
        args = (split(enc["doc_buf"], enc["doc_lens"]),
                split(enc["tf_buf"], enc["tf_lens"]),
                split(enc["dl_buf"], enc["dl_lens"]), offs, enc["n_docs"])
        (d, t, dl, _), d_s = timed(lambda: decode_blocked_batch(*args))
        self.attempted += 1
        if not (np.array_equal(d, o.p_doc) and np.array_equal(t, tfs)
                and np.array_equal(dl, dls)):
            self.failed += 1
            self.errors.append("codec: decode(encode(x)) != x")
        payload = int(enc["doc_lens"].sum() + enc["tf_lens"].sum()
                      + enc["dl_lens"].sum())
        return {"codec.encode_mb_s": raw_mb / e_s,
                "codec.decode_mb_s": raw_mb / d_s,
                "codec.bytes_per_posting": payload / len(o.p_doc)}

    def per_layer(self, probes: dict) -> dict:
        from sparklog import attribute, event_log_file

        attribute(event_log_file(self.log_dir), self.calls)
        by_kind: dict[str, list] = {}
        for c in self.calls:
            by_kind.setdefault(c.kind, []).append(c)

        def med(kind, f):
            return _median([f(c) for c in by_kind[kind]])

        getters = {
            "jobs": lambda c: len(c.jobs),
            "stages": lambda c: len(c.stages),
            "tasks": lambda c: c.tasks,
            "task_cpu_s": lambda c: c.cpu_ns / 1e9,
            "shuffle_write_mb": lambda c: c.shuffle_write / 1e6,
            "spill_mb": lambda c: c.spill / 1e6,
            "driver_gap_s": lambda c: c.gap_ms() / 1000,
        }

        def costs(kind, prefix, fields, ms=False):
            """Median per-call counters; with ``ms``, times in ms."""
            out = {}
            for f in fields:
                v = med(kind, getters[f])
                if ms and f.endswith("_s"):
                    f, v = f[:-2] + "_ms", v * 1000
                out[prefix + f] = v
            return out

        def encode_s(m):
            """Shards encode in batches; each batch's shards share its wall."""
            walls = {tuple(s["batch"]): s["wall_ms"]
                     for s in m["shards"].values() if "batch" in s}
            return sum(walls.values()) / 1000

        built = self.manifests[1:]  # the timed build samples
        out = {
            "postings.build_index_s": _median(self.samples["build"]),
            "postings.encode_s": _median([encode_s(m) for m in built]),
            "postings.merge_s":
                _median([m["merge_wall_ms"] / 1000 for m in built]),
            "postings.read_index_s": self.samples["setup.read_index"][0],
            "postings.index_mb": self.index_bytes / 1e6,
            "csearch.local_query_terms_ms":
                1000 * _median(self.samples["local_query_terms"]),
            "localrel.local_df_1_ms":
                1000 * _median(self.samples["local_df_1"]),
            "localrel.local_df_batch_ms":
                1000 * _median(self.samples["local_df_batch"]),
            "localrel.local_df_1_jobs": med("local_df_1", getters["jobs"]),
            "localrel.local_df_batch_jobs":
                med("local_df_batch", getters["jobs"]),
        }
        out.update(costs("build", "postings.build_",
                         ["jobs", "stages", "tasks", "task_cpu_s",
                          "shuffle_write_mb", "spill_mb", "driver_gap_s"]))
        out.update(costs("batch", "csearch.batch_",
                         ["jobs", "stages", "tasks", "task_cpu_s",
                          "shuffle_write_mb", "driver_gap_s"]))
        for kind in ("query", "warm_query"):
            out.update(costs(kind, f"csearch.{kind}_",
                             ["jobs", "stages", "tasks", "task_cpu_s",
                              "driver_gap_s"], ms=True))
        out.update(costs("corpus", "search.search_corpus_",
                         ["jobs", "task_cpu_s", "driver_gap_s"]))
        out.update(probes)
        return out

    def write_trace_file(self) -> None:
        d = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"{self.name}-s{self.seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": self.name, "seed": self.seed,
                       "notes": self.notes,
                       "calls": [c.summary() for c in self.calls]}, f,
                      indent=1)
        print(f"trace: {os.path.relpath(path, ROOT)}", file=sys.stderr)

    def run(self) -> dict:
        ticks0 = _cpu_ticks()
        t0 = time.perf_counter()
        self.make_inputs()
        self.inputs_s = time.perf_counter() - t0
        try:
            self.setup()
            self.measure()
            e2e = self.end_to_end()
            if self.trace:
                probes = self.layer_probes()
                probes.update(self.codec_probe())
        finally:
            self.stop_session()
        if self.trace:
            metrics = self.per_layer(probes)
            metrics.update({f"trace.{k}": v for k, v in e2e.items()
                            if k != "index_bytes_per_text_byte"})
            self.write_trace_file()
        else:
            metrics = e2e
        declared = _declared_units("per_layer" if self.trace else "end_to_end")
        if set(metrics) != set(declared):
            raise RuntimeError(
                "metrics differ from BENCHMARK.json: "
                f"{sorted(set(metrics) ^ set(declared))}")
        metrics = {k: {"value": float(v), "unit": declared[k]}
                   for k, v in metrics.items()}
        for e in self.errors[:20]:
            print(f"error: {e}", file=sys.stderr)
        counts = {k: len(v) for k, v in self.samples.items()}
        print(f"samples: {json.dumps(counts)}", file=sys.stderr)
        (a0, s0), (a1, s1) = ticks0, _cpu_ticks()
        print(f"phases: inputs {self.inputs_s:.2f} s, "
              f"session {self.session_s:.2f} s, set-up {self.setup_s:.2f} s; "
              f"cpu steal {100 * (s1 - s0) / max(1, a1 - a0):.1f}%",
              file=sys.stderr)
        print("walls: " + json.dumps({k: [round(x, 2) for x in v]
                                      for k, v in self.samples.items()}),
              file=sys.stderr)
        return {"correct": self.failed == 0, "attempted": self.attempted,
                "failed": self.failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "engine", "__init__.py")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench",
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the same str hashing in every Python worker of every run
    os.environ["PYTHONHASHSEED"] = "0"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    sys.path[:0] = [ROOT, HERE]
    # the JVM's Python workers re-parent to this process when the JVM
    # exits, so the run can wait for every process it started
    PR_SET_CHILD_SUBREAPER = 36
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")
    try:
        result = Bench(args.workload, args.seed, args.seconds,
                       bool(args.trace), work).run()
    finally:
        _reap_children()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
