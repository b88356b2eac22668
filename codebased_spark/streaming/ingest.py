"""Streaming ingest: continuous pages -> triples, windowed event metrics.

Two entry points:

- stream_pages_to_graph: readStream over a pages directory (parquet files
  landing continuously, the streaming face of the Iceberg pages table)
  -> the SAME extract_triples pipeline per micro-batch via foreachBatch
  -> append to the manifest-style output. foreachBatch is the right tool
  because the pipeline needs multi-stage joins + CC, which aren't
  expressible as a single incremental streaming query; each micro-batch
  is a bounded batch job with exactly-once sink semantics from the
  checkpoint + idempotent content-hash ids (E11).

- stream_event_window_counts: classic watermark + tumbling-window
  aggregation over the events table schema (event_time, event_type,
  value) — late rows beyond the watermark are dropped deterministically.

Tests drive both with Trigger.AvailableNow against static parquet, so the
streaming plans execute real micro-batches deterministically in CI.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from codebased_spark.util import round_stable
from pyspark.sql.streaming import StreamingQuery


def stream_event_window_counts(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    time_col: str = "event_time",
) -> DataFrame:
    """Streaming DataFrame: per-(window, event_type) counts + value sums.

    Watermark bounds state: windows older than max(event_time) - watermark
    finalize and evict; later-arriving rows for them are dropped. At
    cluster scale state lives in the checkpointed state store per
    shuffle partition.
    """
    events = (
        spark.readStream.schema(schema)
        .parquet(source_dir)
        .withWatermark(time_col, watermark)
    )
    return (
        events.groupBy(F.window(F.col(time_col), window), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            round_stable(F.sum("value")).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_pages_to_graph(
    spark: SparkSession,
    pages_dir: str,
    pages_schema: str,
    gazetteer: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Continuous KG construction: each micro-batch of pages runs the full
    extraction pipeline and appends triples to `out_dir`.

    Restart-safety: the streaming checkpoint replays unprocessed files;
    content-hash ids make replayed appends deduplicable downstream (same
    contract as the batch manifest runner).
    """
    from codebased_spark.graph.pipeline import extract_triples

    pages_stream = spark.readStream.schema(pages_schema).parquet(pages_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        res = extract_triples(spark, batch_df, gazetteer)
        try:
            (
                res.triples.withColumn("batch_id", F.lit(batch_id))
                .write.mode("append")
                .parquet(out_dir)
            )
        finally:
            # the pipeline's cache entries of a micro-batch must not outlive
            # the batch in a query that runs for the life of the session
            res.release()

    writer = (
        pages_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
