"""Physical-plan shape assertions: the scale properties the engine
depends on must be visible in the optimized plan, not just hoped for."""

from __future__ import annotations

import pytest

from engine.csearch import search_index
from engine.postings import build_index, read_index
from engine.queries_set import queries_df
from engine.search import search_corpus


@pytest.fixture(scope="module")
def built(spark, documents, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("planidx"))
    build_index(spark, documents, out, n_shards=2,
                hot_df_threshold=1000, n_salts=2)
    idx = read_index(spark, out)
    idx["out_dir"] = out
    return idx


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture
def packed(monkeypatch):
    """Serve on the kernel's packed plan: a small posting set is
    otherwise scored on the driver and has no Spark plan to inspect."""
    from engine import csearch

    monkeypatch.setattr(csearch, "ONE_TASK_MAX_POSTINGS", 0)


def _formatted(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_term_filter_reaches_parquet_scan(spark, built, packed):
    plan = _formatted(search_index(spark, built, queries_df(spark),
                                   k=10, prune=False))
    assert "PushedFilters" in plan
    # the IN list over query terms must be pushed into the scan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "In(term" in pushed and "spark" in pushed


def test_small_index_plan_has_no_join_or_exchange(spark, built):
    """On a small index the whole query batch is scored on the driver:
    the result is a local relation, so its plan has no scan, Join,
    Broadcast or Exchange — nothing for Spark to run."""
    for prune in (False, True):
        plan = _formatted(search_index(spark, built, queries_df(spark),
                                       k=10, prune=prune))
        assert "LocalTableScan" in plan, prune
        for op in ("Scan parquet", "Join", "Broadcast", "Exchange"):
            assert op not in plan, (prune, op)


def test_topk_is_bounded_before_exchange(spark, built, packed):
    """WindowGroupLimit must appear below the final exchange — the
    distributed analog of Lucene's bounded-heap TopScoreDocCollector."""
    plan = _plan(search_index(spark, built, queries_df(spark),
                              k=10, prune=False))
    assert "WindowGroupLimit" in plan


def test_partial_aggregation_before_shuffle(spark, documents):
    """The (query, doc) score sum must have a map-side partial agg."""
    plan = _plan(search_corpus(spark, documents, queries_df(spark), k=10))
    assert "partial_sum" in plan


def test_merge_never_broadcasts_term_tables(spark, built):
    """The merge carries the term dictionary — one row PER DISTINCT
    TERM (10^8-10^9 rows at north-star scale) — through its one pb
    exchange with the payloads, so the plan must hold no broadcast.
    With auto-broadcast disabled (simulating a term table too big to
    broadcast), any hint would still force a BroadcastExchange — assert
    none appears, and that the plan has its one exchange."""
    from engine.postings import merge_onepass_plan

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # never streamed: the merge reads the dictionary as written
        plan = _plan(merge_onepass_plan(spark, built["out_dir"], 10.0, 8,
                                        1000, dict_distinct=False))
        assert "BroadcastExchange" not in plan
        assert plan.count("Exchange hashpartitioning") == 1, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_ngram_jaccard_never_broadcasts_doc_sizes(spark, documents):
    """`sizes` in ngram_jaccard_pairs has one row per document — same
    rule: no unconditional broadcast hint."""
    from engine.dedup import ngram_jaccard_pairs

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(ngram_jaccard_pairs(documents.limit(50), threshold=0.5))
        assert "BroadcastExchange" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_rp_lsh_single_scan_of_embeddings(spark):
    """Bucket generation must read the embeddings source ONCE (array of
    per-table keys + explode), not once per table."""
    from engine.similarity import rp_lsh_topk

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3), 1.0]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    plan = _plan(rp_lsh_topk(spark, emb, query_ids=[0, 1], k=3, n_tables=4))
    # a LocalTableScan per unionAll branch would appear 4+ times
    assert plan.count("LocalTableScan") <= 2


def test_scan_prunes_unused_columns(spark, built, monkeypatch):
    """prune=False never reads the block metadata columns: not in the
    driver route's payload read, and not in the packed plan's scan.
    The pruned driver read adds block_max only."""
    from engine import csearch

    reads = []
    real = csearch._term_rows

    def spy(index, terms, cols):
        reads.append(tuple(cols))
        return real(index, terms, cols)

    monkeypatch.setattr(csearch, "_term_rows", spy)
    for prune in (False, True):
        reads.clear()
        search_index(spark, built, queries_df(spark), k=10,
                     prune=prune).collect()
        payload_reads = [c for c in reads if "doc_bytes" in c]
        assert payload_reads == [csearch.PAYLOAD_COLS
                                 + (("block_max",) if prune else ())]
    monkeypatch.setattr(csearch, "ONE_TASK_MAX_POSTINGS", 0)
    plan = _formatted(search_index(spark, built, queries_df(spark),
                                   k=10, prune=False))
    scan_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_lines
    assert "impacts" not in scan_lines[0]
    assert "block_max" not in scan_lines[0]


def test_decode_stage_is_query_independent(spark, built, packed):
    """The scale invariant of batch serving: byte payloads are decoded
    ONCE per posting row, never replicated per query — below a
    MapInArrow/MapInPandas decode operator, query_id may appear ONLY
    inside a BroadcastExchange subtree (the per-query weights ride the
    kernel, not the plan). A query_id join on the STREAMED (payload)
    side would mean each byte payload is replicated per sharing query —
    the plan shape that OOMs batch serving on zipf query sets."""
    df = search_index(spark, built, queries_df(spark), k=10, prune=True)
    plan = _plan(df)
    lines = plan.splitlines()

    def _indent(s):
        return len(s) - len(s.lstrip(" +-:"))

    decode_idx = [i for i, ln in enumerate(lines)
                  if "MapInArrow" in ln or "MapInPandas" in ln]
    assert decode_idx, "decode kernel missing from the plan"
    for i in decode_idx:
        indent = _indent(lines[i])
        skip_below = None  # indent of an active BroadcastExchange root
        for sub in lines[i + 1:]:
            if not sub.strip():
                continue
            si = _indent(sub)
            if si <= indent:
                break
            if skip_below is not None:
                if si > skip_below:
                    continue  # inside the broadcast (small) side
                skip_below = None
            if "BroadcastExchange" in sub:
                skip_below = si
                continue
            assert "query_id" not in sub, (
                "decode subtree references query_id on the streamed "
                "side — payloads are being replicated per query:\n"
                + sub)


def test_decode_spread_adds_roundrobin_exchange_only_at_scale(spark, built,
                                                            packed):
    """At-scale serving (n_docs >= AUTO_PRUNE_MIN_DOCS) must round-robin
    the payload rows before the packed plan's decode kernel — the
    tid-bucketed layout co-locates every chunk of a hot term in one pb
    partition, so without the spread one scan task runs the whole hot
    term's decode (the measured 400-query-batch straggler). On a small
    index the spread must be absent: it is pure latency there
    (measured +0.5 s on the sf0.1 p50)."""
    from engine.csearch import PAYLOAD_COLS, _matmul_score_topk

    payload = built["postings"].select(*PAYLOAD_COLS)
    qw_rows = [("q0", "spark", 1.0)]

    def packed_plan(spread):
        # a work bound above ONE_TASK_MAX_POSTINGS: the packed plan
        return _plan(_matmul_score_topk(spark, built, ["spark"], None,
                                        10.0, qw_rows, 10, None, None,
                                        10**12, spread, payload))

    spread_plan, flat_plan = packed_plan(True), packed_plan(False)
    assert "RoundRobinPartitioning" in spread_plan
    assert "RoundRobinPartitioning" not in flat_plan
    # the small `built` fixture is below the bar: end-to-end serving on
    # it, packed plan forced, must NOT pay the spread shuffle
    df = search_index(spark, built, queries_df(spark), k=10, prune=True)
    assert "RoundRobinPartitioning" not in _plan(df)
