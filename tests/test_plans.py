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


def _formatted(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_term_filter_reaches_parquet_scan(spark, built):
    plan = _formatted(search_index(spark, built, queries_df(spark),
                                   k=10, prune=False))
    assert "PushedFilters" in plan
    # the IN list over query terms must be pushed into the scan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "In(term" in pushed and "spark" in pushed


def test_query_side_is_broadcast(spark, built):
    plan = _formatted(search_index(spark, built, queries_df(spark),
                                   k=10, prune=False))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # tiny query side must never SMJ


def test_topk_is_bounded_before_exchange(spark, built):
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
    """The merge joins dfs/term_dict on tid — both have one row PER
    DISTINCT TERM (10^8-10^9 rows at north-star scale), so the plan must
    not carry an unconditional broadcast hint. With auto-broadcast
    disabled (simulating a term table too big to broadcast), a hint
    would still force a BroadcastExchange — assert none appears."""
    from engine.postings import merge_plan

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(merge_plan(spark, built["out_dir"], 10.0, 1000, 2))
        assert "BroadcastExchange" not in plan
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


def test_scan_prunes_unused_columns(spark, built):
    """prune=False never reads the block metadata columns."""
    plan = _formatted(search_index(spark, built, queries_df(spark),
                                   k=10, prune=False))
    scan_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_lines
    assert "impacts" not in scan_lines[0]
    assert "block_max" not in scan_lines[0]


def test_decode_stage_is_query_independent(spark, built):
    """The scale invariant of batch serving: byte payloads are decoded
    ONCE per posting row, never replicated per query — below a
    MapInArrow/MapInPandas decode operator, query_id may appear ONLY
    inside a BroadcastExchange subtree (the tiny per-term threshold
    table built from theta is broadcast onto the payload rows; the
    per-query weight join happens ABOVE the decode, on small numeric
    rows). A query_id join on the STREAMED (payload) side would mean
    each byte payload is replicated per sharing query — the plan shape
    that OOMs batch serving on zipf query sets."""
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


def test_decode_spread_adds_roundrobin_exchange_only_at_scale(spark, built):
    """At-scale serving (n_docs >= AUTO_PRUNE_MIN_DOCS) must round-robin
    the payload rows before the decode kernel — the tid-bucketed layout
    co-locates every chunk of a hot term in one pb partition, so
    without the spread one scan task runs the whole hot term's
    decode+join+partial-agg (the measured 400-query-batch straggler).
    On a small index the spread must be absent: it is pure latency
    there (measured +0.5 s on the sf0.1 p50)."""
    from engine.csearch import _decode_tf_parts

    payload = built["postings"].select(
        "term", "doc_bytes", "tf_bytes", "dl_bytes",
        "doc_off", "tf_off", "dl_off")
    spread_plan = _plan(_decode_tf_parts(payload, 10.0, None, spread=True))
    flat_plan = _plan(_decode_tf_parts(payload, 10.0, None, spread=False))
    assert "RoundRobinPartitioning" in spread_plan
    assert "RoundRobinPartitioning" not in flat_plan
    # the small `built` fixture is below the bar: end-to-end serving on
    # it must NOT pay the spread shuffle
    df = search_index(spark, built, queries_df(spark), k=10, prune=True)
    assert "RoundRobinPartitioning" not in _plan(df)
