"""BM25 query engine (SURVEY.md section 3.2).

Reference semantics being reproduced (LuceneQueryBuilder.java:98-117,163):
  * query string -> StandardAnalyzer tokens (same analyzer as indexing)
  * BooleanQuery of SHOULD TermQueries: OR semantics, and duplicate
    query tokens add duplicate clauses => per-term score is multiplied
    by the query-term-frequency (qtf)
  * per-(term,doc) Okapi BM25 with Lucene 7.x parameters k1=1.2 b=0.75:
        idf(t)     = ln(1 + (N - df + 0.5)/(df + 0.5))
        tf_part    = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
        score(q,d) = sum_t qtf * idf * tf_part
  * top-k (k=100) by score DESC, doc_id ASC (Lucene heap tie-break)

Spark-first plan (what Catalyst sees):
  queries (tiny) --tokenize--> qtf aggregate --BROADCAST--> join postings
  ON term (the probe side is pre-filtered with term IN (<query terms>),
  which Catalyst pushes into the parquet scan: only matching row groups
  are read) --> join doc_stats ON doc_id --> column-math score -->
  groupBy(query_id, doc_id) sum --> per-query window top-k.

At 100 TB the only large shuffle is the (query_id, doc_id) sum, whose
input is already restricted to postings of query terms; doc_stats joins
by doc_id (broadcastable if small, shuffle-hash otherwise). All score
math is JVM-side column expressions inside whole-stage codegen — no
Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from . import B, K1, TOP_K
from .analysis import with_tokens
from .indexer import term_df
from .localrel import sql_literal


def query_term_freqs(queries: DataFrame) -> DataFrame:
    """(query_id, term, qtf) — duplicate SHOULD-clause weights (A3)."""
    return (
        with_tokens(queries, "query")
        .select("query_id", F.explode("tokens").alias("term"))
        .groupBy("query_id", "term")
        .agg(F.count(F.lit(1)).alias("qtf"))
    )


def idf_sql(n_docs, df_col="df") -> str:
    """Lucene BM25 idf: ln(1 + (N - df + 0.5)/(df + 0.5)), as SQL text.
    ``ln``, not ``log``: the one-argument SQL ``log`` parses to a
    different expression than the one F.log builds."""
    n = sql_literal(float(n_docs))
    return (f"ln(1.0D + ({n} - `{df_col}` + 0.5D) "
            f"/ (`{df_col}` + 0.5D))")


def idf_expr(n_docs, df_col="df"):
    """idf_sql as one parsed Column: the same expression tree as the
    equivalent chain of F.lit/F.col operators, at one py4j call."""
    return F.expr(idf_sql(n_docs, df_col))


def tf_part_expr(avgdl, tf_col="tf", dl_col="dl", k1: float = K1, b: float = B):
    """Lucene 7.x BM25 tf saturation, (k1+1) numerator kept."""
    tf = F.col(tf_col).cast("double")
    dl = F.col(dl_col).cast("double")
    return (tf * F.lit(k1 + 1.0)) / (
        tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / F.lit(float(avgdl)))
    )


def bm25_scores(
    query_terms: DataFrame,
    postings: DataFrame,
    doc_stats_df: DataFrame,
    n_docs: int,
    avgdl: float,
    dfs: DataFrame | None = None,
    terms: list[str] | None = None,
) -> DataFrame:
    """(query_id, doc_id, score) — the OR-semantics score accumulation.

    ``postings`` is long-form (term, doc_id, tf). ``dfs`` is (term, df);
    derived if not supplied. The query side is tiny and explicitly
    broadcast; the postings side is pre-filtered to the query's terms so
    the parquet scan prunes (predicate pushdown on term).
    """
    if dfs is None:
        dfs = term_df(postings)
    if terms is None:
        terms = [r["term"] for r in query_terms.select("term").distinct().collect()]
    if not terms:
        # all-stopword / empty query set: no scores at all
        return query_terms.select(
            "query_id",
            F.lit(None).cast("long").alias("doc_id"),
            F.lit(None).cast("double").alias("score"),
        ).where(F.lit(False))

    q = F.broadcast(
        query_terms.join(F.broadcast(dfs.where(F.col("term").isin(terms))), "term")
        .withColumn("idf", idf_expr(n_docs))
    )
    hits = postings.where(F.col("term").isin(terms)).join(q, "term")
    scored = hits.join(doc_stats_df.select("doc_id", "dl"), "doc_id").withColumn(
        "term_score",
        F.col("qtf").cast("double") * F.col("idf") * tf_part_expr(avgdl),
    )
    return scored.groupBy("query_id", "doc_id").agg(
        F.sum("term_score").alias("score")
    )


def topk(scored: DataFrame, k: int = TOP_K) -> DataFrame:
    """Top-k per query: score DESC, doc_id ASC (W1) + rank (W2).

    Spark's WindowGroupLimit pushes the rank filter below the full sort
    (bounded per-partition top-k before the shuffle), the distributed
    equivalent of Lucene's TopScoreDocCollector bounded heap.
    """
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


def search_corpus(
    spark: SparkSession,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = TOP_K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """End-to-end: raw corpus + queries -> top-k results.

    Convenience path that builds the uncompressed index inline; real
    deployments build once (indexer/postings) and query many times.
    """
    from .csearch import local_query_terms

    # Two tokenize passes instead of four (round 6): the old plan
    # re-tokenized the corpus in every consumer — the stats pass, then
    # df/hits/dl separately inside the final job. Now pass 1 observes
    # collection stats WHILE collecting the query terms' df, and pass 2
    # is the scoring job itself (dl rides the postings aggregate, the
    # weight table is local — nothing else touches the corpus).
    # Persisting the tokens instead measured a wash-to-loss: the cache
    # write of the token arrays costs more than one extra JVM regex
    # pass (and caching the SHUFFLED aggregate pinned its 256 initial
    # partitions and defeated AQE coalescing — 3x slower).
    from pyspark.sql import Observation

    qt, terms, _nq = local_query_terms(spark, queries)
    empty = spark.createDataFrame(
        [], "query_id string, doc_id long, score double, rank int"
    )
    if not terms:
        return empty
    toks = with_tokens(corpus, text_col).select(
        F.col(id_col).alias("doc_id"), "tokens")
    # one job does double duty: observes collection stats (count/avg —
    # the same expressions the old dedicated aggregation ran) and
    # collects df for the QUERY terms only (bounded by the query
    # vocabulary). The collected dfs become a local relation, so the
    # weight broadcast below builds driver-side with no further
    # metadata scan.
    obs = Observation("collection_stats")
    dfs_rows = (
        toks.observe(obs,
                     F.count(F.lit(1)).alias("n_docs"),
                     F.avg(F.size("tokens")).alias("avgdl"))
        .select("doc_id", F.explode("tokens").alias("term"))
        .where(F.col("term").isin(terms))
        .groupBy("term", "doc_id").agg(F.count(F.lit(1)))
        .groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        .collect()
    )
    n_docs = int(obs.get["n_docs"] or 0)
    avgdl = obs.get["avgdl"]
    if avgdl is None or n_docs == 0:
        return empty
    from .localrel import local_df

    dfs = local_df(
        spark, [(r["term"], int(r["df"])) for r in dfs_rows],
        "term string, df long")
    # Scoring plan (same expressions as bm25_scores, one stage fewer):
    # dl rides the postings aggregate as a grouping column (constant
    # per doc), so the per-doc-length join that bm25_scores does
    # against doc_stats disappears; the weight table q is a join of
    # two LOCAL relations, so its broadcast needs no Spark job.
    pldl = (
        toks.select("doc_id", F.size("tokens").cast("long").alias("dl"),
                    F.explode("tokens").alias("term"))
        .where(F.col("term").isin(terms))
        .groupBy("term", "doc_id", "dl")
        .agg(F.count(F.lit(1)).cast("int").alias("tf"))
    )
    q = F.broadcast(
        qt.join(F.broadcast(dfs), "term").withColumn("idf", idf_expr(n_docs))
    )
    scored = (
        pldl.join(q, "term")
        .withColumn(
            "term_score",
            F.col("qtf").cast("double") * F.col("idf") * tf_part_expr(avgdl),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("term_score").alias("score"))
    )
    return topk(scored, k)
