"""Watermarked event-time windows (X8) — streaming twins of the batch
operators in plans/temporal.py.

Batch/stream parity is by construction: the same ``window()`` /
``session_window()`` expressions run in both modes; streaming adds
``withWatermark`` (bounded state + late-data policy).  Tests assert a
drained (availableNow) stream emits exactly the batch results.

Scale: watermarks bound the keyed state store; sliding windows
multiply state by size/slide; session state is per active key.  At
1000 executors use RocksDB state store + state rebalancing — config,
not code changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts(events: DataFrame, ts_col: str = "ts",
                    duration: str = "1 hour",
                    watermark: str = "2 hours") -> DataFrame:
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), duration).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"),
                "event_type", "n_events")
    )


def session_stats(events: DataFrame, ts_col: str = "ts",
                  gap: str = "10 minutes",
                  watermark: str = "30 minutes") -> DataFrame:
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("sw.start").alias("session_start"),
                F.col("sw.end").alias("session_end"), "n_events")
    )


def cancel_stream_join(messages: DataFrame, cancels: DataFrame,
                       msg_ts: str = "enqueued_ts",
                       cancel_ts: str = "sent_ts",
                       url_col: str = "blob_url",
                       watermark: str = "1 hour",
                       horizon: str = "30 minutes") -> DataFrame:
    """X6 as a real stream-stream join: match in-flight uploads to
    cancel requests arriving within ``horizon`` after enqueue.

    Both sides carry watermarks so the join state is bounded: a
    message's state is evicted once the cancel-side watermark passes
    enqueue + horizon.  (The batch service path uses a static cancel
    lookup; this is the unbounded-streams form.)
    """
    m = messages.withWatermark(msg_ts, watermark)
    c = (cancels.filter(F.col("cancel"))
         .withColumnRenamed("url", url_col)
         .withWatermark(cancel_ts, watermark))
    return m.join(
        c,
        (m[url_col] == c[url_col])
        & (c[cancel_ts] >= m[msg_ts])
        & (c[cancel_ts] <= m[msg_ts] + F.expr(f"INTERVAL {horizon}")),
        "inner",
    ).select(m["*"], c[cancel_ts].alias("cancelled_at"))


def interval_join_outer(left: DataFrame, right: DataFrame,
                        key: str = "event_id",
                        left_ts: str = "ts", right_ts: str = "ack_ts",
                        watermark: str = "10 minutes",
                        horizon: str = "10 minutes") -> DataFrame:
    """Stream-stream LEFT OUTER interval join (round 10 — the r9
    surface had only the inner cancel join): every left event emits,
    matched rows as soon as both sides arrive, UNMATCHED rows only
    once the right-side watermark passes ``left_ts + horizon`` and
    Spark can prove no match can still arrive — the late-emission
    semantics that make outer stream joins correct without unbounded
    state.

    Scale: state per side is bounded by watermark + horizon (eviction
    is exactly the provable-no-match point); the join itself is the
    standard keyed symmetric hash join over in-watermark state.
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    return lw.join(
        rw,
        (lw[key] == rw[key])
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {horizon}")),
        "leftOuter",
    ).select(lw["*"], rw[right_ts].alias("matched_ack_ts"))


def enrich_stream_static(stream: DataFrame, dim: DataFrame,
                         key: str) -> DataFrame:
    """Stream-static enrichment join: the static dimension is
    broadcast to every micro-batch task — no shuffle of the stream,
    no state (the dim is re-resolvable per batch, so a dim UPDATE is
    picked up at the next trigger; that freshness-per-batch contract
    is the difference from a stream-stream join)."""
    return stream.join(F.broadcast(dim), key, "left")
