"""Structured-Streaming incremental ingestion (SURVEY.md §2.1 S8, §2.12,
§4 custom-work item 3).

The reference's incremental surface is a directory consumed one file per
run with an append-only processed-files ledger for exactly-once
(scripts2/load_fact_sales_dw.py:26-35,65-77). The Spark-native equivalent
is the streaming file source: the checkpoint's file log IS the ledger —
files are recorded atomically with the committed batch, so a crashed run
reprocesses nothing and a re-run picks up exactly the unseen files.
``Trigger.AvailableNow`` gives the reference's batch cadence (drain
everything pending, then stop) while keeping streaming's bookkeeping.

At scale the same topology runs continuously: swap AvailableNow for a
processing-time trigger, add a watermark for late events, and the
aggregation state is managed by the state store instead of a full rescan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery


def file_stream(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """S8 source half: an exactly-once incremental parquet file scan."""
    return spark.readStream.format("parquet").schema(schema).load(path)


def windowed_aggregate(df: DataFrame, ts_col: str) -> DataFrame:
    """Watermarked one-hour tumbling-window aggregation — the streaming
    twin of registry/events.events_tumbling_window. The 10-minute
    watermark bounds state: windows older than max(event time) - 10
    minutes are finalized and evicted, so state size is O(active
    windows), not O(history)."""
    return (
        df.withWatermark(ts_col, "10 minutes")
        .groupBy(F.window(ts_col, "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


def dedup_within_watermark(df: DataFrame, keys: tuple[str, ...] | list[str]) -> DataFrame:
    """Row-level exactly-once on top of the file queue's file-level
    exactly-once: drops re-deliveries of the same key (retried producer
    batches, overlapping extracts) whose ``ts`` lies within one hour of
    each other — the streaming twin of D1 dedup-keep-first.

    State is keyed by ``keys`` and EVICTED once the watermark passes a
    row's event time (unlike plain ``dropDuplicates``, whose state grows
    without bound on an endless stream). The contract at 100 TB: state is
    O(keys arriving within one hour); a duplicate older than that slips
    through, which is the documented at-least-once
    residue an idempotent sink absorbs.
    """
    return df.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(list(keys))


def interval_stream_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
) -> DataFrame:
    """Watermarked stream-stream interval join: pair each left row with
    the right rows for the same key whose event time falls in
    ``[left_ts, left_ts + 30 minutes]`` — click-to-purchase attribution,
    request/response correlation.

    Both sides carry a 30-minute watermark and the join
    condition bounds right's time against left's, which is exactly what
    Structured Streaming needs to EVICT state: each side buffers only
    rows younger than the watermark, so state is O(rate x 30 min), not
    O(stream). Without the time bound the state store grows forever —
    the unbounded join is rejected for append output. Key/ts columns are
    named per side; any remaining name collisions are the caller's to
    pre-alias, as with any Spark join.
    """
    l_wm = left.withWatermark(left_ts, "30 minutes")
    r_wm = right.withWatermark(right_ts, "30 minutes")
    cond = (
        (l_wm[left_key] == r_wm[right_key])
        & (r_wm[right_ts] >= l_wm[left_ts])
        & (r_wm[right_ts] <= l_wm[left_ts] + F.expr("INTERVAL 30 minutes"))
    )
    return l_wm.join(r_wm, cond, "inner")


def run_available_now(df: DataFrame, checkpoint_dir: str, query_name: str) -> StreamingQuery:
    """Drain everything currently pending into the in-memory table
    ``query_name`` (complete output mode), then stop — the reference's
    daily-batch cadence with streaming exactly-once bookkeeping. Blocks
    until the drain completes (:func:`await_drain`, 120 s)."""
    query = (
        df.writeStream.format("memory")
        .outputMode("complete")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    return await_drain(query, 120, f"query {query_name!r}")


def await_drain(query: StreamingQuery, timeout_sec: float, name: str) -> StreamingQuery:
    """Block until ``query`` terminates and return it; past
    ``timeout_sec`` raise ``TimeoutError`` naming it, never hand back a
    still-running query whose results are partial."""
    if not query.awaitTermination(timeout_sec):
        raise TimeoutError(
            f"streaming {name} did not drain within {timeout_sec}s; the "
            f"query is still running — raise timeout_sec or stop() it"
        )
    return query
