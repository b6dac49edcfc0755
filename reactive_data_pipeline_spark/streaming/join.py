"""Stream-stream interval join: purchases matched to the same user's
clicks within a bounded look-back window, as live streams on BOTH sides.

The reference's reactive layer joins a stream against static state
(sensors fire, assets re-materialize - ``sensors.py:6-16``); this module
adds the case where both inputs move: conversion attribution, where a
purchase event must pair with the click events that preceded it by at
most ``window_s`` seconds.

Spark-first shape: Structured Streaming's watermarked stream-stream
inner join. Both sides carry an event-time watermark and the join
condition time-bounds the purchase against the click
(``click.ts <= purchase.ts <= click.ts + window``), which is exactly
what lets the engine EXPIRE buffered state: a click older than
(watermark - window) can never match a future purchase and is dropped
from the state store. Without the time bound the state grows without
limit - the reason this operator exists as a distinct family and not as
"join, but streaming".

Scale: state is hash-partitioned by ``user_id`` (the equi-key), per-key
state is bounded by the window times the per-user event rate, and each
micro-batch shuffles only its new rows. Inner-join matches emit as soon
as both sides have arrived - no watermark wait (only outer joins hold
rows back).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.registry import read_stream
from .merge_util import start_stream


def click_purchase_pairs(clicks: DataFrame, purchases: DataFrame, window_s: int) -> DataFrame:
    """The join itself, shared verbatim by the streaming run and its
    batch-equivalence oracle (same-plan twin pattern as
    streaming/reactive.py)."""
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    joined = c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr(f"INTERVAL {window_s} SECONDS")),
    )
    return joined.select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("lag_us"),
    )


def _split(events: DataFrame, watermark: str) -> tuple[DataFrame, DataFrame]:
    ev = events.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark("ts", watermark)
    return (
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
    )


def stream_join_run(
    spark: SparkSession,
    src_dir: str,
    out_path: str,
    checkpoint: str,
    window_s: int = 3600,
    watermark: str = "35 days",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Run the attribution join as a streaming query writing parquet.

    ``watermark`` defaults far past the fixture's 30-day span so a
    backfill (availableNow) run is exactly the batch join - late-drop
    behavior is a deployment knob, not baked in. Both join branches
    derive from ONE file-stream source; Spark plans a watermarked
    self-join with a single state store pair keyed by user.
    """
    events = read_stream(spark, src_dir, "events", max_files_per_trigger=max_files_per_trigger)
    clicks, purchases = _split(events, watermark)
    pairs = click_purchase_pairs(clicks, purchases, window_s)
    writer = pairs.writeStream.format("parquet").option("path", out_path).outputMode("append")
    return start_stream(writer, checkpoint, available_now)


def purchase_click_pairs_outer(
    clicks: DataFrame, purchases: DataFrame, window_s: int
) -> DataFrame:
    """LEFT OUTER interval join: every purchase, with its in-window
    clicks where they exist and NULL click columns where none do.
    Shared by the streaming run and the batch oracle (same-plan twin).

    The outer side is what makes this a distinct streaming family: an
    unmatched purchase can only be emitted once the click-side
    watermark proves no in-window click can still arrive, so the
    null-padded rows surface on watermark PASSAGE, not on data arrival
    - the held-back-result semantics the inner join never exercises.
    """
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr(f"INTERVAL {window_s} SECONDS")),
        "leftOuter",
    )
    return joined.select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "click_id",
        "p_ts",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("lag_us"),
    )


def stream_join_outer_run(
    spark: SparkSession,
    src_dir: str,
    out_path: str,
    checkpoint: str,
    window_s: int = 3600,
    watermark: str = "1 hour",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Run the left-outer attribution join as a streaming query.

    Unlike the inner runner, the WATERMARK IS LOAD-BEARING here: outer
    results only flush when the watermark passes (purchase_ts +
    window), so a finite backfill must push the watermark past its own
    data to drain the unmatched rows - callers stage sentinel arrival
    waves after the real data (two waves: the first advances the
    watermark, the second triggers the eviction pass that emits the
    null-padded rows). At steady state in production the ordinary
    arrival flow does this for free; the sentinel dance is purely the
    finite-input harness's problem.
    """
    events = read_stream(
        spark, src_dir, "events", max_files_per_trigger=max_files_per_trigger
    )
    clicks, purchases = _split(events, watermark)
    pairs = purchase_click_pairs_outer(clicks, purchases, window_s)
    writer = pairs.writeStream.format("parquet").option("path", out_path).outputMode("append")
    return start_stream(writer, checkpoint, available_now)
