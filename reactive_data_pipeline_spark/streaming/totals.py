"""Custom stateful streaming operator on the MODERN state API:
per-user running activity totals via ``transformWithStateInPandas``
(Spark 4.x ``StatefulProcessor``), the successor to
``applyInPandasWithState`` (which streaming/sessions.py demonstrates).

The operator keeps one ValueState row per user - (event count,
fixed-point value sum) - and emits the user's CURRENT cumulative totals
every micro-batch that touches them (the Update-mode contract). Values
are accumulated as int64 micro-units rounded JVM-side before the
processor (``round(value * 1e6)``), so totals are bit-identical to the
batch aggregate regardless of batch boundaries, arrival order, or
summation order - which is what makes the stream==batch oracle exact.

Scale notes: state is one 16-byte row per user, hash-partitioned across
the state store (RocksDB at cluster scale); each micro-batch shuffles
only its own rows to their key partitions. Emissions are O(touched
users) per trigger. A TTL (handle.getValueState supports one) would
bound state for inactive users; totals here are lifetime by design.

Environment gate: the transformWithState Python state-server protocol
requires the ``protobuf`` package, which this sandbox lacks (no
installs) - tests/test_totals_stream.py skips cleanly there and runs
the full stream==batch equivalence wherever protobuf exists (any
standard Spark deployment). applyInPandasWithState (sessions.py)
remains the sandbox-executable custom-stateful representative.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)
from pyspark.sql.types import LongType, StructField, StructType

from .merge_util import start_stream

TOTALS_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("value_sum_micro", LongType()),
    ]
)

_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("v", LongType())]
)


class UserTotalsProcessor(StatefulProcessor):
    """ValueState fold: (n, v) += (batch count, batch micro-sum)."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState("totals", _STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        n, v = (self._state.get() or (0, 0)) if self._state.exists() else (0, 0)
        for pdf in rows:
            n += int(len(pdf))
            v += int(pdf["value_micro"].sum())
        self._state.update((n, v))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "value_sum_micro": [v]}
        )

    def close(self) -> None:
        pass


def user_totals_stream(events: DataFrame) -> DataFrame:
    """events (streaming) -> per-user cumulative totals, one emission
    per touched user per micro-batch. The fixed-point conversion happens
    in a JVM expression so the Python processor only ever adds int64."""
    src = events.select(
        "user_id",
        F.round(F.col("value") * 1_000_000).cast("long").alias("value_micro"),
    )
    return src.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserTotalsProcessor(),
        outputStructType=TOTALS_OUT,
        outputMode="Update",
        timeMode="None",
    )


def latest_totals(emissions: DataFrame) -> DataFrame:
    """Collapse the emission log to the final (largest-count) row per
    user - cumulative totals are monotone, so max n_events is the last
    state regardless of how many batches emitted."""
    w = F.row_number().over(
        Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    )
    return (
        emissions.withColumn("__rn", w).filter(F.col("__rn") == 1).drop("__rn")
    )


def user_totals_run(
    spark,
    src_dir: str,
    out_path: str,
    checkpoint: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Run the totals operator over an events file stream, appending
    each batch's emissions (the update log) to ``out_path``. Read back
    through :func:`latest_totals` for the materialized table."""
    from ..sources.registry import read_stream

    # transformWithStateInPandas requires the RocksDB state store (the
    # default HDFS-backed provider does not implement the new state v2
    # API) - which is also the provider a real deployment runs. The
    # override is scoped to query START (the provider is captured when
    # the query launches) and restored afterwards so other streaming
    # queries in the same session keep resuming their checkpoints under
    # the provider they were created with - state-store formats are not
    # interchangeable across providers mid-checkpoint.
    _PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
    ev = read_stream(
        spark, src_dir, "events", max_files_per_trigger=max_files_per_trigger
    )
    totals = user_totals_stream(ev)

    # The file sink rejects update mode; the emission log is an append
    # by nature (latest_totals collapses it), so foreachBatch appends.
    def _sink(batch: DataFrame, _batch_id: int) -> None:
        batch.write.mode("append").parquet(out_path)

    writer = totals.writeStream.outputMode("update").foreachBatch(_sink)
    try:
        prior = spark.conf.get(_PROVIDER_KEY)
    except Exception:
        prior = None
    spark.conf.set(
        _PROVIDER_KEY,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        return start_stream(writer, checkpoint, available_now)
    finally:
        if prior is None:
            spark.conf.unset(_PROVIDER_KEY)
        else:
            spark.conf.set(_PROVIDER_KEY, prior)
