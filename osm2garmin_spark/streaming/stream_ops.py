"""Structured Streaming operators (streams leg of the engine).

The reference is batch-with-incremental-updates; these give the same
aggregations streaming semantics: watermarked tumbling-window counts and
gap-based sessionization (session_window), so an events stream can feed the
lineage/metrics tables continuously.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def stream_hourly_counts(events: DataFrame, ts_col: str = "ts",
                         key_col: str = "event_type",
                         watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour windowed counts with late-data watermark.
    ``events`` may be a readStream DataFrame; works identically in batch."""
    src = events
    if events.isStreaming:
        # watermarks need TIMESTAMP (not NTZ); session TZ is UTC so the cast
        # is value-preserving
        src = src.withColumn(ts_col, F.col(ts_col).cast("timestamp")) \
                 .withWatermark(ts_col, watermark)
    return (src.groupBy(F.window(ts_col, "1 hour").alias("win"), key_col)
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("win.start").alias("window_start"), key_col, "n_events"))


def stream_sessionize(events: DataFrame, ts_col: str = "ts",
                      user_col: str = "user_id",
                      gap: str = "30 minutes",
                      watermark: str = "2 hours") -> DataFrame:
    """Gap-based session windows per user (session_window — the streaming
    twin of queries.sessionize_events)."""
    src = events
    if events.isStreaming:
        src = src.withColumn(ts_col, F.col(ts_col).cast("timestamp")) \
                 .withWatermark(ts_col, watermark)
    return (src.groupBy(F.session_window(ts_col, gap).alias("sess"), user_col)
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(user_col, F.col("sess.start").alias("session_start"),
                    F.col("sess.end").alias("session_end"), "n_events"))


def stream_first_seen_native(events: DataFrame, key_col: str = "key",
                             bucket_col: str = "bucket") -> DataFrame:
    """Streaming first-seen dedup (the streaming twin of
    functions.dedup.exact_dedup): one output row per novel (bucket, key)
    across micro-batches. Streaming dropDuplicates keeps one state row per
    distinct key inside the JVM state store, so per-batch work follows the
    keys present in the batch, with no Python in the loop."""
    src = events.selectExpr(f"{bucket_col} as bucket", f"{key_col} as key")
    return src.dropDuplicates(["bucket", "key"])


def run_stream_to_memory(stream_df: DataFrame, name: str, timeout_s: float = 30.0):
    """Test helper: drive a streaming query into an in-memory sink until all
    available data is processed; returns the sink table name."""
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(timeout_s)
    return name
