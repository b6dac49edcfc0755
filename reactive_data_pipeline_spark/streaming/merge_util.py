"""The reactive layer's one idempotent-sink contract and one query
launcher.

Sinks. Every partition-rewriting merge goes through
:func:`rewrite_partitions`: persist the tagged batch, collect the
partition values it touches, read ONLY those partitions of the existing
table, merge, materialize (``localCheckpoint``), dynamic-overwrite the
touched partitions, unpersist the batch - also when a step fails. Its
callers: ``reactive.merge_ticker_meta_batch`` (min/max ticker_meta by
day), ``dedup.merge_dedup_registry_batch`` (min keeper / max count by
fingerprint bucket), ``scd2.merge_scd2_batch`` (change-point rebuild by
user bucket), ``operators.upsert.upsert_partitioned`` (last writer wins
by key bucket) and ``operators.upsert.delete_keys`` (anti-join by key
bucket). ``jobs`` writes its day partitions through the same
:func:`overwrite_partitions` step. The append-only sinks
(``corpus.ingest_batch``, ``neardup.neardup_registry_batch``) share the
existing-table read.

The existing-table read has exactly one benign failure mode - the table
does not exist yet (first batch) - and every other failure (IO error,
permissions, corrupt footer) MUST propagate: treating a transient read
error as "empty table" would make the subsequent partition overwrite
rewrite the touched partitions from the batch alone, silently deleting
the existing rows for untouched keys that live in those partitions.
Failing the micro-batch instead lets the checkpoint retry it.

Runners. Every streaming query starts through :func:`start_stream`: the
backfill mode (``availableNow``: drain what is there, then stop - the
cron schedule) or the continuous mode (a ``processingTime`` trigger -
the sensor). Its callers: the runners of the ``reactive``, ``dedup``,
``corpus``, ``neardup``, ``join``, ``scd2`` and ``totals`` modules here,
``operators.upsert.upsert_stream_run`` and the
``statestore_inspect_counts`` catalog query.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

#: Continuous-mode micro-batch trigger, the reference sensor's
#: ``minimum_interval_seconds=10`` (``sensors.py:9``).
CONTINUOUS_TRIGGER = "10 seconds"


def start_stream(
    writer: DataStreamWriter,
    checkpoint: str,
    available_now: bool,
    processing_time: str = CONTINUOUS_TRIGGER,
) -> StreamingQuery:
    """Start ``writer`` checkpointed at ``checkpoint``: drain the
    pending input and stop (``available_now``), or run continuously on
    a ``processing_time`` trigger."""
    writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        return writer.trigger(availableNow=True).start()
    return writer.trigger(processingTime=processing_time).start()


def await_finished(q: StreamingQuery, timeout: int = 300) -> None:
    """Block until the availableNow query terminates; on timeout, stop
    it and raise a DESCRIPTIVE error instead of letting the caller read
    a partially-built output table (which would surface downstream as
    an opaque hash mismatch in the correctness gate)."""
    if q.awaitTermination(timeout):
        return
    try:
        q.stop()
    finally:
        raise TimeoutError(
            f"streaming query {q.name or q.id} still running after "
            f"{timeout}s - output table is incomplete; not reading it"
        )


def existing_or_empty(
    spark: SparkSession,
    path: str,
    like: DataFrame | None = None,
    prune: Column | None = None,
    schema: str | None = None,
) -> DataFrame:
    """The existing derived table at ``path`` (partition-pruned by
    ``prune``), or an empty frame with ``like``'s schema (or the
    explicit ``schema`` DDL) IFF the table genuinely does not exist yet
    (``PATH_NOT_FOUND``). Any other read error propagates so the
    micro-batch fails and retries."""
    reader = spark.read.schema(schema) if schema is not None else spark.read
    try:
        existing = reader.parquet(path)
    except AnalysisException as e:
        cond = e.getCondition() if hasattr(e, "getCondition") else e.getErrorClass()
        if cond != "PATH_NOT_FOUND":
            raise
        empty_schema = schema if schema is not None else like.schema
        return spark.createDataFrame([], empty_schema)
    return existing.filter(prune) if prune is not None else existing


def overwrite_partitions(df: DataFrame, path: str, part_col: str) -> None:
    """Replace the ``part_col`` partitions present in ``df`` and leave
    every other partition of the table at ``path`` as it is."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(part_col)
        .parquet(path)
    )


def rewrite_partitions(
    tagged: DataFrame,
    path: str,
    part_col: str,
    merge: Callable[[DataFrame], DataFrame],
    schema: str | None = None,
) -> tuple[list, DataFrame] | None:
    """Fold ``tagged`` (a batch carrying the table's ``part_col``) into
    the table at ``path``, rewriting only the partitions it touches.

    ``merge(existing)`` gets those partitions of the stored table (an
    empty frame of ``schema``, or of ``tagged``'s schema, before the
    first write) and returns their new content; it reads the batch
    through ``tagged``, which is cached for the call. The result is
    materialized before the write, because the overwrite deletes the
    very files the merge plan reads. Returns the touched partition
    values and the written frame, or None for an empty batch.
    """
    tagged.persist()
    try:
        parts = [r[part_col] for r in tagged.select(part_col).distinct().collect()]
        if not parts:
            return None
        existing = existing_or_empty(
            tagged.sparkSession,
            path,
            tagged,
            prune=F.col(part_col).isin(parts),
            schema=schema,
        )
        merged = merge(existing).localCheckpoint(eager=True)
        overwrite_partitions(merged, path, part_col)
        return parts, merged
    finally:
        tagged.unpersist()
