"""Incremental index maintenance via Structured Streaming.

The reference is wholly batch (SURVEY.md section 2.8); its only
incremental behavior is the IndexWriter commit every 10,000 docs
(LuceneIndexBuilder.java:42-45). The Spark-native generalization of
that commit cadence is a Structured Streaming file source +
foreachBatch: every micro-batch of newly-arrived corpus files is
tokenized and encoded into a partial postings shard (the same blocked
delta+varbyte layout as the batch build) under
partials/shard=stream<batchId>_g<N>, with its doc-stats and dictionary
rows in dirs of their own, and all three are listed in the manifest by
one commit (postings._commit) — so the streaming ingest and the batch
build share one on-disk format, one merge path, and one query engine.

Trigger.AvailableNow processes the backlog exactly once and stops
(batch-incremental); a real deployment leaves the query running with a
processing-time trigger. The checkpointLocation gives exactly-once
per-batch semantics: on restart, a batch that already committed is not
reprocessed (Spark's streaming commit log), complementing the
manifest's shard-level idempotence.

Event-time analytics over the `events` table (watermark + windowed
aggregation) is in windowed_event_counts — the canonical late-data
pattern, included because a training-data pipeline monitors its ingest.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .analysis import with_tokens
from .postings import (
    STREAM_ENC_SCHEMA, _encode_partition_arrow_fn, commit_stream_batch,
    load_manifest, stream_batch_dirs,
)


def start_incremental_index(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    avgdl_hint: float,
    schema: str = "doc_id long, text string, lang string, source string, n_chars long",
    available_now: bool = True,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Stream corpus parquet files from input_dir into partial posting
    shards under out_dir. Returns the StreamingQuery. Each micro-batch
    is encoded by the batch build's mapInArrow kernel, keyed by tid
    alone (one varbyte pass per partition).

    avgdl_hint: block-max bounds need an avgdl; streaming uses the
    last-known collection value. tf_part is INCREASING in avgdl, so a
    stored bound computed at the hint upper-bounds the true query-time
    score only while hint >= the serving avgdl. This is guaranteed
    because merge_partials refreshes collection stats from batch +
    streamed doc stats (written below) and RE-ENCODES every block with
    the refreshed avgdl — streamed partials' hint-based bounds never
    survive to serving."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        m = load_manifest(out_dir)
        dirs = stream_batch_dirs(m, batch_id)
        # a doc duplicated WITHIN one micro-batch would have its
        # occurrences summed into a single doubled-tf posting by the
        # np.unique encode kernel — a row the merge-time per-(tid, doc)
        # dedup cannot repair (ADVICE r2). Collapse to one row per doc
        # BEFORE tokenizing; across micro-batches the latest-batch-wins
        # dedup in postings.dedup_stream_partials handles the rest.
        batch_df = batch_df.dropDuplicates([id_col])
        # three sinks consume this lineage (doc_stats, term_dict, encode);
        # persist so the batch is tokenized once, not three times
        tokenized = with_tokens(batch_df, text_col).persist()
        try:
            # streamed docs must enter collection stats: merge_partials
            # folds these doc_id/dl/sha rows in
            (
                tokenized.select(
                    F.col(id_col).alias("doc_id"),
                    F.size("tokens").cast("long").alias("dl"),
                    F.unhex(F.sha2(F.col(text_col), 256))
                    .alias("content_sha"),
                    # ingest-order precedence key: a doc re-dropped in a
                    # LATER micro-batch supersedes earlier stream
                    # versions at merge-dedup time
                    F.lit(batch_id).cast("long").alias("batch_id"))
                .write.mode("overwrite")
                .parquet(os.path.join(out_dir, dirs["doc_stats_stream"]))
            )
            raw = (
                tokenized
                .select(F.col(id_col).alias("doc_id"),
                        F.size("tokens").cast("long").alias("dl"),
                        F.explode("tokens").alias("term"))
            )
            # newly-seen terms extend the dictionary (dedup at merge)
            (
                raw.select(F.xxhash64("term").alias("tid"), "term")
                .distinct()
                .write.mode("overwrite")
                .parquet(os.path.join(out_dir, dirs["term_dict"]))
            )
            occ = raw.select(F.xxhash64("term").alias("tid"), "doc_id", "dl")
            # the batched kernel needs each tid partition-local
            enc = occ.repartition("tid").mapInArrow(
                _encode_partition_arrow_fn(avgdl_hint, ("tid",)),
                STREAM_ENC_SCHEMA)
            enc.write.mode("overwrite").parquet(
                os.path.join(out_dir, "partials", dirs["partials"]))
        finally:
            # release even when a sink write fails — a retried batch
            # must not leak a cached copy per attempt
            tokenized.unpersist()
        commit_stream_batch(out_dir, m, batch_id, dirs)

    reader = (
        spark.readStream.schema(schema).parquet(input_dir)
    )
    writer = (
        reader.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(out_dir, "_stream_checkpoint"))
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time windowed counts with late-data watermark — works on a
    streaming OR batch events DataFrame (same code path, the Spark
    unified-API property)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 6).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n",
                "total_value")
    )
