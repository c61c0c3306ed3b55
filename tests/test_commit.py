"""The commit protocol (engine/postings.py `_commit`): every mutation
writes only unlisted dirs and commits with one atomic manifest
generation flip; readers resolve only listed dirs; recovery is the next
commit's sweep.

The fault-injection test crashes each mutating operation just before
its commit and just after it (between the manifest flip and the sweep)
and checks that the index serves exactly the last committed generation,
that a re-run converges to the uncrashed operation's state, and that no
unlisted dir outlives the next commit. The tests after it compose
crashes with a DIFFERENT next operation (a compaction or an ingest
after a crashed merge, a writer racing a merge or a compaction) and
pin the recovered merge's kind.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

import engine.postings as P
from engine.csearch import search_index
from engine.postings import (
    build_index, compact_tombstones, delete_docs, load_manifest,
    merge_partials, read_index,
)
from engine.queries_set import queries_df

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
    parts = (os.listdir(out + "/partials")
             if os.path.isdir(out + "/partials") else [])
    return top | {f"partials/{n}" for n in parts if n.startswith("shard=")}


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
        "partials": sorted(tuple(r) for r in parts.drop("shard").collect())
        if parts is not None else [],
        "tombstones": sorted(int(d) for d in idx["tombstone_ids"])
        if idx["tombstone_ids"] is not None else [],
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


# ------------------------------------------ crash composition and recovery


def _rows(df):
    return sorted(
        (r.query_id, r.doc_id, round(r.score, 9), r.rank) for r in df.collect()
    )


@pytest.fixture()
def built(spark, documents, tmp_path):
    out = str(tmp_path / "idx")
    build_index(spark, documents, out, n_shards=4, hot_df_threshold=100,
                n_salts=4)
    return out


TENTH = lambda: F.col("doc_id") % 10 == 3  # noqa: E731 — 10% of docs


def _build_batch_and_stream(spark, tmp_path_factory, tag):
    """Batch index {0: apple banana} + streamed {0 re-drop, 5: banana
    fig}, not merged yet."""
    from engine.postings import build_index
    from engine.streaming import start_incremental_index

    out = str(tmp_path_factory.mktemp(f"{tag}_idx"))
    inp = str(tmp_path_factory.mktemp(f"{tag}_in"))
    batch = spark.createDataFrame(
        [(0, "apple banana", "en", "s", 12)], DOC_SCHEMA)
    build_index(spark, batch, out, n_shards=2, hot_df_threshold=10**9,
                n_salts=2, id_col="doc_id", text_col="text")
    spark.createDataFrame(
        [(0, "apple banana", "en", "s", 12),
         (5, "banana fig", "en", "s", 10)],
        DOC_SCHEMA).write.mode("overwrite").parquet(inp + "/drop")
    q = start_incremental_index(spark, inp + "/drop", out, avgdl_hint=3.0)
    q.awaitTermination(120)
    return out, inp


def _crash_merge(spark, out, monkeypatch):
    """A merge that dies just before its commit: its dedup wrote a
    consolidated shard and doc stats that no generation lists."""
    from engine.postings import load_manifest, merge_partials

    m0 = load_manifest(out)

    def crash(*a, **kw):
        raise OSError("crash before the merge commit")

    monkeypatch.setattr(P, "_commit", crash)
    with pytest.raises(OSError):
        merge_partials(spark, out, hot_df_threshold=10**9, n_salts=2)
    monkeypatch.undo()
    assert load_manifest(out) == m0
    assert any(d.startswith("shard=streamdedup")
               for d in os.listdir(out + "/partials"))


def _out_of_band_stream_batch(out, bid):
    """Another writer commits micro-batch ``bid``: a copy of stream
    batch 0's dirs (the partial's batch id comes from its dir name)."""
    from engine.postings import (
        commit_stream_batch, load_manifest, stream_batch_dirs,
    )

    m = load_manifest(out)
    dirs = stream_batch_dirs(m, bid)
    src = {"partials": "partials/" + m["shards"]["stream0"]["dir"]}
    for kind in ("doc_stats_stream", "term_dict"):
        src[kind], = [d for d in m["live"][kind] if "_stream0_" in d]
    for kind, d in dirs.items():
        dst = ("partials/" + d) if kind == "partials" else d
        shutil.copytree(os.path.join(out, src[kind]), os.path.join(out, dst))
    commit_stream_batch(out, m, bid, dirs)


def test_dedup_swap_crash_recovery(spark, tmp_path_factory,
                                   monkeypatch):
    """A crash between the dedup's consolidation write and the merge's
    commit leaves the previous generation serving, and the next merge
    finishes the job, never silently dropping stream postings."""
    import engine.postings as P
    from engine.csearch import search_index
    from engine.postings import (
        build_index, load_manifest, merge_partials, read_index,
    )
    from engine.streaming import start_incremental_index

    out = str(tmp_path_factory.mktemp("rec_idx"))
    inp = str(tmp_path_factory.mktemp("rec_in"))
    batch = spark.createDataFrame(
        [(0, "apple banana", "en", "s", 12)], DOC_SCHEMA)
    build_index(spark, batch, out, n_shards=2, hot_df_threshold=10**9,
                n_salts=2, id_col="doc_id", text_col="text")
    spark.createDataFrame(
        [(0, "apple banana", "en", "s", 12),
         (5, "banana fig", "en", "s", 10)],
        DOC_SCHEMA).write.mode("overwrite").parquet(inp + "/drop")
    start_incremental_index(spark, inp + "/drop", out,
                            avgdl_hint=3.0).awaitTermination(120)
    m0 = load_manifest(out)

    def crash(*a, **kw):
        raise OSError("crash before the merge commit")

    monkeypatch.setattr(P, "_commit", crash)
    with pytest.raises(OSError):
        merge_partials(spark, out, hot_df_threshold=10**9, n_salts=2)
    monkeypatch.undo()
    # the consolidated shard was written but is not listed
    assert load_manifest(out) == m0
    assert any(d.startswith("shard=streamdedup")
               for d in os.listdir(out + "/partials"))

    merge_partials(spark, out, hot_df_threshold=10**9, n_salts=2)
    m = load_manifest(out)
    assert "stream0" not in m["shards"]
    assert m["shards"]["streamdedup"]["status"] == "ok"
    assert sorted(os.listdir(out + "/partials")) == sorted(
        r["dir"] for r in m["shards"].values() if r.get("dir"))
    idx = read_index(spark, out)
    assert idx["n_docs"] == 2
    qs = spark.createDataFrame([("q0", "banana")],
                               "query_id string, query string")
    res = search_index(spark, idx, qs, k=10).collect()
    assert sorted(r.doc_id for r in res) == [0, 5]


def test_recovered_dedup_removal_forces_full_merge(spark,
                                                   tmp_path_factory,
                                                   monkeypatch):
    """A merge whose dedup REMOVED rows and that crashed before its
    commit leaves nothing durable behind; its re-run redoes the dedup,
    sees the removal in-call, and must re-baseline fully — the
    pure-append guard would otherwise take the incremental merge over a
    stream-partial set the consolidation erased terms from, keeping
    ghost rows. incremental=True (which skips only the economic guard)
    must still end in a full merge."""
    import engine.postings as P
    from engine.postings import (
        build_index, load_manifest, merge_partials,
    )
    from engine.streaming import start_incremental_index

    out = str(tmp_path_factory.mktemp("rr_idx"))
    inp = str(tmp_path_factory.mktemp("rr_in"))
    build_index(spark, spark.createDataFrame(
        [(0, "apple banana", "en", "s", 12)], DOC_SCHEMA), out,
        n_shards=2, hot_df_threshold=10**9, n_salts=2,
        id_col="doc_id", text_col="text")
    # doc 0 re-dropped: the merge's dedup removes its stream rows
    spark.createDataFrame(
        [(0, "apple banana", "en", "s", 12),
         (5, "banana fig", "en", "s", 10)],
        DOC_SCHEMA).write.mode("overwrite").parquet(inp + "/drop")
    start_incremental_index(spark, inp + "/drop", out,
                            avgdl_hint=3.0).awaitTermination(120)
    m0 = load_manifest(out)

    def crash(*a, **kw):
        raise OSError("crash before the merge commit")

    monkeypatch.setattr(P, "_commit", crash)
    with pytest.raises(OSError):
        merge_partials(spark, out, hot_df_threshold=10**9, n_salts=2,
                       incremental=True)
    monkeypatch.undo()
    assert load_manifest(out) == m0
    m = merge_partials(spark, out, hot_df_threshold=10**9, n_salts=2,
                       incremental=True)
    assert m["last_merge"] == "full"
    assert m["shards"]["streamdedup"]["dedup_removed"] > 0


def test_compact_recovers_standing_dedup_journal(spark, tmp_path_factory,
                                                 monkeypatch):
    """Review finding 1: a compaction after a merge that crashed must
    expunge over the last COMMITTED generation. The crashed merge's
    consolidation (written before the deletes, so it still holds doc 5)
    is never listed, never read, and is swept by the next commit — it
    cannot resurrect the tombstoned doc."""
    from engine.csearch import search_index
    from engine.postings import (
        compact_tombstones, delete_docs, load_manifest, read_index,
    )

    out, _ = _build_batch_and_stream(spark, tmp_path_factory, "cdj")
    _crash_merge(spark, out, monkeypatch)
    delete_docs(spark, out, [5])
    compact_tombstones(spark, out, hot_df_threshold=10**9, n_salts=2)
    m = load_manifest(out)
    assert m["n_tombstones"] == 0 and not m["live"]["tombstones"]
    idx = read_index(spark, out)
    assert idx["n_docs"] == 1
    qs = spark.createDataFrame([("q0", "banana")],
                               "query_id string, query string")
    res = search_index(spark, idx, qs, k=10).collect()
    # doc 5 expunged and NOT resurrected by the stale consolidation
    assert sorted(r.doc_id for r in res) == [0]


def test_dedup_recovery_guards_out_of_band_shards(spark, tmp_path_factory,
                                                  monkeypatch):
    """Review finding 3 (guard half): a stream shard committed by
    another writer while a merge and its dedup ran must make the
    merge's commit fail loudly — its live set would drop that shard —
    and the shard survives for the next merge."""
    from engine.postings import load_manifest, merge_partials, read_index

    out, _ = _build_batch_and_stream(spark, tmp_path_factory, "oob")
    real_commit = P._commit

    def out_of_band_then_commit(out_dir, m, op):
        if op == "merge":
            _out_of_band_stream_batch(out_dir, 9)
        return real_commit(out_dir, m, op)

    monkeypatch.setattr(P, "_commit", out_of_band_then_commit)
    with pytest.raises(RuntimeError, match="generation"):
        merge_partials(spark, out, hot_df_threshold=10**9, n_salts=2)
    monkeypatch.undo()
    m = load_manifest(out)
    assert os.path.isdir(out + "/partials/" + m["shards"]["stream9"]["dir"])
    merge_partials(spark, out, hot_df_threshold=10**9, n_salts=2)
    idx = read_index(spark, out)
    assert idx["n_docs"] == 2
    assert idx["doc_stats"].where("doc_id = 5").count() == 1


def test_compact_recovery_guards_out_of_band_shards(spark, tmp_path_factory,
                                                    monkeypatch):
    """Review finding 2 (guard half), compaction racing a standing
    stream backlog: a micro-batch committed while the compaction
    filtered and merged must make the compaction's commit fail loudly
    (its filtered snapshot does not hold that batch) — the deleted doc
    stays hidden throughout, and the re-run expunges it from the
    backlog too."""
    from engine.csearch import search_index
    from engine.postings import (
        compact_tombstones, delete_docs, load_manifest, read_index,
    )

    out, _ = _build_batch_and_stream(spark, tmp_path_factory, "coob")
    delete_docs(spark, out, [5])
    real_commit = P._commit

    def out_of_band_then_commit(out_dir, m, op):
        if op == "compaction":
            _out_of_band_stream_batch(out_dir, 9)
        return real_commit(out_dir, m, op)

    monkeypatch.setattr(P, "_commit", out_of_band_then_commit)
    with pytest.raises(RuntimeError, match="generation"):
        compact_tombstones(spark, out, hot_df_threshold=10**9, n_salts=2)
    monkeypatch.undo()
    qs = spark.createDataFrame([("q0", "banana fig")],
                               "query_id string, query string")
    m = load_manifest(out)
    assert "stream9" in m["shards"] and m["live"]["tombstones"]
    res = search_index(spark, read_index(spark, out), qs, k=10).collect()
    assert sorted(r.doc_id for r in res) == [0]
    compact_tombstones(spark, out, hot_df_threshold=10**9, n_salts=2)
    idx = read_index(spark, out)
    assert idx["tombstone_ids"] is None and idx["n_docs"] == 1
    res = search_index(spark, idx, qs, k=10).collect()
    assert sorted(r.doc_id for r in res) == [0]


def test_ingest_recovers_pending_before_writing(spark, tmp_path_factory,
                                                monkeypatch):
    """Review finding 3 (entry-point half): a micro-batch ingested after
    a crashed merge commits only its own dirs over the last committed
    generation, and its commit sweeps the crashed merge's leftovers."""
    from engine.postings import merge_partials, read_index
    from engine.streaming import start_incremental_index

    out, inp = _build_batch_and_stream(spark, tmp_path_factory, "ing")
    _crash_merge(spark, out, monkeypatch)
    # new micro-batch lands in the same watched dir (fresh part files;
    # the standing checkpoint picks them up as a new batch)
    spark.createDataFrame(
        [(9, "cherry fig", "en", "s", 10)],
        DOC_SCHEMA).write.mode("overwrite").parquet(inp + "/drop")
    q = start_incremental_index(spark, inp + "/drop", out, avgdl_hint=3.0)
    q.awaitTermination(120)
    assert not any(d.startswith("shard=streamdedup")
                   for d in os.listdir(out + "/partials"))
    merge_partials(spark, out, hot_df_threshold=10**9, n_salts=2)
    idx = read_index(spark, out)
    # doc 9's stats landed AND the stream doc 5 is present once
    assert idx["n_docs"] == 3
    assert idx["doc_stats"].where("doc_id = 9").collect()[0]["dl"] == 2
    assert idx["doc_stats"].where("doc_id = 5").count() == 1


def test_completed_dedup_with_crashed_merge_forces_full(
        spark, tmp_path_factory):
    """Latent ghost window: a dedup that consolidated (removed rows)
    inside a merge that then crashed must still make the next merge a
    full one. The dedup commits nothing on its own — its output lands
    in the merge's flip — so the crashed merge leaves no removal behind
    to forget, and the re-run's dedup sees it again."""
    from engine.postings import (
        build_index, dedup_stream_partials, load_manifest, merge_partials,
    )
    from engine.streaming import start_incremental_index

    out = str(tmp_path_factory.mktemp("ghost_idx"))
    inp = str(tmp_path_factory.mktemp("ghost_in"))
    batch = spark.createDataFrame(
        [(0, "apple banana", "en", "s", 12)], DOC_SCHEMA)
    build_index(spark, batch, out, n_shards=2, hot_df_threshold=10**9,
                n_salts=2, id_col="doc_id", text_col="text")
    spark.createDataFrame(
        [(0, "apple banana", "en", "s", 12)],
        DOC_SCHEMA).write.mode("overwrite").parquet(inp + "/drop")
    q = start_incremental_index(spark, inp + "/drop", out, avgdl_hint=3.0)
    q.awaitTermination(120)
    # the merge crashed AFTER its dedup completed: run the dedup alone
    # (the re-dropped doc 0 is removed -> a real removal)
    m0 = load_manifest(out)
    removed = dedup_stream_partials(spark, out, load_manifest(out), 3.0)
    assert removed > 0
    assert load_manifest(out) == m0  # nothing durable
    m = merge_partials(spark, out, hot_df_threshold=10**9, n_salts=2,
                       incremental=True)
    assert m["last_merge"] == "full"


def test_compact_crash_before_merge_serves_correctly(spark, documents,
                                                     built, monkeypatch,
                                                     tmp_path):
    """Crash AFTER the filtered partials and doc stats are written but
    BEFORE the re-baselining merge: nothing is committed, so the
    previous generation serves unchanged — tombstones standing, NO
    deleted doc served, pre-compaction stats, pruned == unpruned — and
    a re-run finishes compaction."""
    import engine.postings as P

    qdf = queries_df(spark)
    victims = {r.doc_id
               for r in documents.where(TENTH()).select("doc_id").collect()}
    delete_docs(spark, built, documents.where(TENTH()).select("doc_id"))
    m0 = load_manifest(built)

    class Boom(Exception):
        pass

    def boom(*a, **kw):
        raise Boom()

    monkeypatch.setattr(P, "_merge", boom)
    with pytest.raises(Boom):
        compact_tombstones(spark, built, hot_df_threshold=100, n_salts=4)
    monkeypatch.undo()

    assert load_manifest(built) == m0
    idx = read_index(spark, built)
    assert list(idx["tombstone_ids"]) == sorted(victims)
    got_p = _rows(search_index(spark, idx, qdf, k=10, prune=True))
    got_u = _rows(search_index(spark, idx, qdf, k=10, prune=False))
    assert got_p == got_u and got_p
    assert not any(d in victims for _, d, _, _ in got_p)

    # re-run finishes: equals a fresh build on the survivors
    compact_tombstones(spark, built, hot_df_threshold=100, n_salts=4)
    fresh_dir = str(tmp_path / "fresh")
    build_index(spark, documents.where(~TENTH()), fresh_dir, n_shards=4,
                hot_df_threshold=100, n_salts=4)
    got2 = _rows(search_index(spark, read_index(spark, built), qdf, k=10,
                              prune=True))
    want2 = _rows(search_index(spark, read_index(spark, fresh_dir), qdf,
                               k=10, prune=True))
    assert got2 == want2
