"""Idempotent per-partition job entry points - the reference's job
surface (``dagster_repository/jobs.py:41-79``, ``schedules.py:31-80``)
re-expressed the way SURVEY.md section 2.9/R4-R5 prescribes: cron/
orchestration stays OUTSIDE the engine; the engine exposes pure,
re-runnable functions of (day, config). A user of the reference maps:

* ``sync_etf_pipeline`` / ``materialize_ticker_job``  -> :func:`materialize_ticker`
* ``analysis_pipeline`` / ``materialize_ticker_meta_job`` -> :func:`analyze_day`
* daily schedules + backfill over the partition range  -> :func:`backfill`
  (or the streaming form, ``streaming.reactive_ticker_meta_run`` with
  ``availableNow`` - same derived table, exactly-once via checkpoint)

Idempotency: every writer uses dynamic partition overwrite keyed by the
day partition, so re-running a day (the reference's ``run_key`` dedup,
``sensors.py:15``) replaces rather than duplicates - at any cluster
size, a job retry is safe.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.datetime_ops import bangkok_day, partition_key
from .operators.ticker import SYMBOLS, build_ticker_meta, derive_ticker
from .sources import read_table
from .streaming.merge_util import overwrite_partitions


def materialize_ticker(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    day: str,
    symbols: Iterable[str] = SYMBOLS,
) -> DataFrame:
    """The sync/materialize job for ONE day partition (``yyyyMMdd``):
    project events -> ticker rows for that Bangkok day + symbol list,
    overwrite exactly that day's partition. Returns what was written."""
    ticker = derive_ticker(read_table(spark, sf_dir, "events")).filter(
        F.col("symbol").isin(list(symbols))
    )
    one_day = ticker.filter(
        partition_key(bangkok_day("created_at")) == day
    ).withColumn("partition", F.lit(day))
    overwrite_partitions(one_day, out_path, "partition")
    return one_day.drop("partition")


def analyze_day(
    spark: SparkSession, ticker_path: str, out_path: str, day: str
) -> DataFrame:
    """The analysis job for ONE day partition: read only that day of the
    ticker table (partition pruning), build the min/max ticker_meta rows,
    overwrite that day's partition of the derived table."""
    ticker = spark.read.parquet(ticker_path).filter(F.col("partition") == day)
    meta = build_ticker_meta(ticker.drop("partition"))
    overwrite_partitions(meta, out_path, "partition")
    return meta


def backfill(
    spark: SparkSession,
    sf_dir: str,
    ticker_path: str,
    meta_path: str,
    days: Iterable[str],
    symbols: Iterable[str] = SYMBOLS,
) -> None:
    """The reference's backfill-over-partition-range: run both jobs for
    each day. Each day is independent and idempotent, so an orchestrator
    can parallelize or retry arbitrarily."""
    for day in days:
        materialize_ticker(spark, sf_dir, ticker_path, day, symbols)
        analyze_day(spark, ticker_path, meta_path, day)


def list_days(spark: SparkSession, sf_dir: str) -> list[str]:
    """Distinct Bangkok-day partition keys present in the events table
    (the partition range a backfill would cover)."""
    ev = derive_ticker(read_table(spark, sf_dir, "events"))
    rows = (
        ev.select(partition_key(bangkok_day("created_at")).alias("day"))
        .distinct()
        .orderBy("day")
        .collect()
    )
    return [r.day for r in rows]
