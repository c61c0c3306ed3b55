"""The commit protocol (engine/postings.py `_commit`): every mutation
writes only unlisted dirs and commits with one atomic manifest
generation flip; readers resolve only listed dirs; recovery is the next
commit's sweep.

The fault-injection test crashes each mutating operation just before
its commit and just after it (between the manifest flip and the sweep)
and checks that the index serves exactly the last committed generation,
that a re-run converges to the uncrashed operation's state, and that no
unlisted dir outlives the next commit.
"""

from __future__ import annotations

import os
import shutil

import pytest

import engine.postings as P
from engine.csearch import search_index
from engine.postings import (
    build_index, compact_tombstones, delete_docs, load_manifest,
    merge_partials, read_index,
)

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
# every doc has dl 3, so stream batches never move avgdl (no drift)
BATCH = [(i, f"t{i}a t{i}b common", "en", "s", 20) for i in range(30)]
NEW = [(900, "newa newb common", "en", "s", 20),
       (901, "newa newc common", "en", "s", 20)]
# doc 3 re-dropped unchanged: the merge's dedup removes its postings
REDROP = [(3, "t3a t3b common", "en", "s", 20),
          (902, "newd t4a common", "en", "s", 20)]
DELETED = {4, 900}
QUERIES = [("q0", "common newa"), ("q1", "t4a t3b newc"),
           ("q2", "t7a newd common")]
MERGE_KW = {"hot_df_threshold": 10**9, "n_salts": 2}


class Crash(Exception):
    pass


def _ingest(spark, drop, out):
    from engine.streaming import start_incremental_index

    start_incremental_index(spark, drop, out,
                            avgdl_hint=3.0).awaitTermination(120)


def _copy(src, dst):
    shutil.copytree(src, dst)
    return dst


@pytest.fixture(scope="module")
def states(spark, tmp_path_factory):
    """Pre-op index states (never mutated: each test copies one)."""
    root = tmp_path_factory.mktemp("commit")
    drops = {}
    for name, rows in (("new", NEW), ("redrop", REDROP)):
        drops[name] = str(root / f"in_{name}")
        spark.createDataFrame(rows, DOC_SCHEMA).write.parquet(drops[name])
    base = str(root / "base")
    build_index(spark, spark.createDataFrame(BATCH, DOC_SCHEMA), base,
                n_shards=2, id_col="doc_id", text_col="text", **MERGE_KW)
    streamed = _copy(base, str(root / "streamed"))
    _ingest(spark, drops["new"], streamed)
    redropped = _copy(base, str(root / "redropped"))
    _ingest(spark, drops["redrop"], redropped)
    tombstoned = _copy(streamed, str(root / "tombstoned"))
    merge_partials(spark, tombstoned, **MERGE_KW)
    delete_docs(spark, tombstoned, sorted(DELETED))
    return {"base": base, "streamed": streamed, "redropped": redropped,
            "tombstoned": tombstoned, "drops": drops}


#: op -> (pre-op state, the operation); every op commits exactly once
OPS = {
    "stream_batch": ("base", lambda spark, out, st: _ingest(
        spark, st["drops"]["new"], out)),
    "full_merge": ("streamed", lambda spark, out, st: merge_partials(
        spark, out, incremental=False, **MERGE_KW)),
    "incremental_merge": ("streamed", lambda spark, out, st: merge_partials(
        spark, out, incremental=True, **MERGE_KW)),
    "dedup_merge": ("redropped", lambda spark, out, st: merge_partials(
        spark, out, incremental=True, **MERGE_KW)),
    "delete": ("base", lambda spark, out, st: delete_docs(
        spark, out, sorted(DELETED))),
    "compaction": ("tombstoned", lambda spark, out, st: compact_tombstones(
        spark, out, **MERGE_KW)),
}


def _listed(m):
    live = {f"partials/{r['dir']}" for r in m["shards"].values()
            if r.get("dir")}
    for dirs in m["live"].values():
        live.update(dirs)
    return live | {m["postings_dir"]}


def _on_disk(out):
    top = {n for n in os.listdir(out)
           if not n.startswith(("_", ".")) and n != "partials"}
    return top | {f"partials/{n}" for n in os.listdir(out + "/partials")
                  if n.startswith("shard=")}


def _state(spark, out):
    """Everything an index serves, by content (dir names aside)."""
    m = load_manifest(out)
    assert _listed(m) <= _on_disk(out)  # no listed dir is missing
    idx = read_index(spark, out)
    qs = spark.createDataFrame(QUERIES, "query_id string, query string")
    hits = sorted((prune, r.query_id, r.doc_id, round(r.score, 9), r.rank)
                  for prune in (False, True) for r in search_index(
                      spark, idx, qs, k=10, prune=prune).collect())
    parts = P._read_partials(spark, out, m)
    return {
        "generation": m["generation"], "last_merge": m.get("last_merge"),
        "n_docs": idx["n_docs"], "avgdl": idx["avgdl"], "hits": hits,
        "rows": sorted(tuple(r) for r in idx["postings"].collect()),
        "docs": sorted(tuple(r) for r in idx["doc_stats"].collect()),
        "partials": sorted(tuple(r) for r in parts.drop("shard").collect()),
        "tombstones": sorted(r.doc_id for r in idx["tombstones"].collect())
        if idx["tombstones"] is not None else [],
    }


_REFERENCE: dict = {}


def _reference(spark, states, op, tmp_path_factory):
    """The uncrashed op's state (computed once per op)."""
    if op not in _REFERENCE:
        pre, run = OPS[op]
        out = _copy(states[pre],
                    str(tmp_path_factory.mktemp(f"ref_{op}") / "idx"))
        run(spark, out, states)
        _REFERENCE[op] = _state(spark, out)
    return _REFERENCE[op]


def _content(state):
    return {k: v for k, v in state.items() if k != "generation"}


@pytest.mark.parametrize("when", ["before", "after"])
@pytest.mark.parametrize("op", list(OPS))
def test_crash_around_commit(spark, states, tmp_path, tmp_path_factory,
                             monkeypatch, op, when):
    pre, run = OPS[op]
    out = _copy(states[pre], str(tmp_path / "idx"))
    before = _state(spark, out)
    ref = _reference(spark, states, op, tmp_path_factory)
    assert ref["generation"] == before["generation"] + 1

    def crash(*a, **kw):
        raise Crash("injected crash")

    # before: the op dies with all its dirs written and nothing
    # committed; after: the flip happened and the sweep did not
    monkeypatch.setattr(P, "_commit" if when == "before" else "_sweep",
                        crash)
    with pytest.raises(Exception, match="injected crash"):
        run(spark, out, states)
    monkeypatch.undo()

    crashed = _state(spark, out)
    assert crashed == (before if when == "before" else ref)
    # no tombstoned doc is ever served (compaction's were committed
    # before it ran, a delete's once it commits)
    served = {h[2] for h in crashed["hits"]}
    assert not served & set(crashed["tombstones"])
    if op == "compaction" or (op == "delete" and when == "after"):
        assert not served & DELETED

    # the re-run converges to the uncrashed op (after a committed
    # merge, a re-run merge is simply the next merge: whichever kind)
    run(spark, out, states)
    rerun = _state(spark, out)
    if when == "after":
        rerun["last_merge"] = ref["last_merge"]
    assert _content(rerun) == _content(ref)
    if op in ("delete", "compaction"):
        assert not {h[2] for h in rerun["hits"]} & DELETED
    if rerun["generation"] == crashed["generation"]:
        # the re-run had nothing to commit (a compaction with no
        # tombstones left): the next commit is a merge
        merge_partials(spark, out, **MERGE_KW)
    assert _on_disk(out) == _listed(load_manifest(out))


def test_out_of_band_commit_raises_and_sweeps_nothing(spark, states,
                                                      tmp_path,
                                                      monkeypatch):
    """A writer that committed between a merge's read and its commit
    makes the merge raise before it flips or sweeps anything: every dir
    the on-disk manifest lists survives, and so do the merge's own."""
    out = _copy(states["streamed"], str(tmp_path / "idx"))
    before = _state(spark, out)
    real_commit = P._commit

    def out_of_band_then_commit(out_dir, m, op):
        # a bare flip by another writer (no sweep of its own)
        other = load_manifest(out_dir)
        other["generation"] += 1
        P._save_manifest(out_dir, other)
        return real_commit(out_dir, m, op)

    monkeypatch.setattr(P, "_commit", out_of_band_then_commit)
    with pytest.raises(RuntimeError, match="generation"):
        merge_partials(spark, out, **MERGE_KW)
    monkeypatch.undo()
    after = _state(spark, out)
    assert after["generation"] == before["generation"] + 1
    assert _content(after) == _content(before)
    m = load_manifest(out)
    written = f"postings_v{m['postings_version'] + 1}"
    assert written in _on_disk(out) - _listed(m)  # not swept either


def test_noop_op_keeps_inflight_writer_dirs(spark, states, tmp_path,
                                            monkeypatch):
    """An op that commits nothing (a compaction with no tombstones)
    while a merge is between its writes and its commit must not touch
    the merge's unlisted dirs: the merge then commits them."""
    out = _copy(states["streamed"], str(tmp_path / "idx"))
    real_commit = P._commit

    def noop_op_then_commit(out_dir, m, op):
        compact_tombstones(spark, out_dir, **MERGE_KW)
        return real_commit(out_dir, m, op)

    monkeypatch.setattr(P, "_commit", noop_op_then_commit)
    merge_partials(spark, out, incremental=False, **MERGE_KW)
    monkeypatch.undo()
    ref = _copy(states["streamed"], str(tmp_path / "ref"))
    merge_partials(spark, ref, incremental=False, **MERGE_KW)
    assert _content(_state(spark, out)) == _content(_state(spark, ref))
