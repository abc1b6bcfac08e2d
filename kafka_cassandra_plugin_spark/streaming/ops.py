"""Streaming operators S1-S11 (SURVEY.md §2.3) + test harness helpers.

Every operator here has a batch formulation the equivalence tests compare
against (tests/test_streaming.py): run the same rows through a bounded
stream with ``trigger(availableNow=True)`` and hash-compare final output
against the batch query.  That harness is exactly SURVEY §2.3's
"batch-equivalence" protocol.

Scale posture: all aggregations are keyed by (window x group) so state
partitions across executors; watermarks bound state size (late data
beyond the watermark is dropped - the reference's own contract is weaker:
"no guarantee listener will be fired on ALL events", README.md:79).
"""

from __future__ import annotations

import shutil
import tempfile
import uuid
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The reference's poll / renew cadence (plugin.properties:26,31).
DEFAULT_TRIGGER_MS = 500


def _with_event_time(df: DataFrame, ts_col: str) -> DataFrame:
    """Watermarks demand TIMESTAMP (not NTZ); with the session pinned to
    UTC the cast is an identity relabeling, applied to batch and stream
    alike so equivalence compares like types."""
    if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def replay_stream(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Bounded replay source: materialize ``df`` to a parquet dir and open
    it as a file-source stream (one file = one micro-batch with
    availableNow).  The no-infra substrate for every streaming test."""
    df.write.mode("overwrite").parquet(path)
    return spark.readStream.schema(df.schema).parquet(path)


def run_to_memory(stream_df: DataFrame, name: str | None = None,
                  output_mode: str = "append", timeout: int = 120) -> DataFrame:
    """Drain a bounded stream into an in-memory table (availableNow) and
    return the result as a batch DataFrame.

    Each call checkpoints to a fresh temporary directory, removed once the
    query has ended, so a reused ``name`` starts from the first offset.
    A query still running after ``timeout`` seconds is stopped and
    ``TimeoutError`` raised: its table would hold a partial result."""
    name = name or f"mem_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="kcp_mem_ckpt_")
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(timeout):
            q.stop()
            raise TimeoutError(
                f"stream {name!r} did not drain within {timeout} s")
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return stream_df.sparkSession.table(name)


# --------------------------------------------------------------------------
# S4/S5/S6: windowed aggregations.
# --------------------------------------------------------------------------

def tumbling_window_agg(events: DataFrame, window: str = "1 hour",
                        ts_col: str = "ts", group_cols: Sequence[str] = (),
                        watermark: str = "10 minutes") -> DataFrame:
    """Tumbling-window count/sum per group.  Works identically on batch
    and stream inputs (the equivalence tests rely on that)."""
    df = _with_event_time(events, ts_col)
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.window(ts_col, window).alias("w"), *group_cols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            *group_cols,
            "n",
            "total_value",
        )
    )


def sliding_window_agg(events: DataFrame, window: str = "1 hour",
                       slide: str = "15 minutes", ts_col: str = "ts",
                       watermark: str = "10 minutes") -> DataFrame:
    df = _with_event_time(events, ts_col)
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.window(ts_col, window, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("w_start"), F.col("w.end").alias("w_end"), "n"
        )
    )


def session_window_agg(events: DataFrame, gap: str = "30 minutes",
                       key_col: str = "user_id", ts_col: str = "ts",
                       watermark: str = "10 minutes") -> DataFrame:
    """Session windows keyed by user: the TTL-gap semantics of the lease
    (R12) applied to activity grouping - a session *is* a lease on user
    activity that expires after ``gap`` of silence."""
    df = _with_event_time(events, ts_col)
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.session_window(ts_col, gap).alias("w"), key_col)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key_col,
            F.col("w.start").alias("s_start"),
            F.col("w.end").alias("s_end"),
            "n_events",
        )
    )


# --------------------------------------------------------------------------
# S7: streaming dedup (keyed state).
# --------------------------------------------------------------------------

def streaming_dedup(events: DataFrame, key_cols: Sequence[str],
                    ts_col: str = "ts",
                    watermark: str | None = "1 hour") -> DataFrame:
    """First-seen-wins dedup on key columns; with a watermark the keyed
    state is bounded (keys older than the watermark are evicted) - the
    scale-critical difference from an unbounded distinct."""
    df = _with_event_time(events, ts_col)
    if df.isStreaming and watermark is not None:
        df = df.withWatermark(ts_col, watermark)
        return df.dropDuplicatesWithinWatermark(list(key_cols))
    return df.dropDuplicates(list(key_cols))


# --------------------------------------------------------------------------
# S9: stream-static join.
# --------------------------------------------------------------------------

def stream_static_join(stream: DataFrame, dim: DataFrame, on: str,
                       how: str = "inner") -> DataFrame:
    """Enrich a stream with a static dimension table; Spark re-plans the
    static side per micro-batch, and a broadcast hint keeps it shuffle-
    free - the streaming twin of the G12 broadcast join."""
    return stream.join(F.broadcast(dim), on, how)
