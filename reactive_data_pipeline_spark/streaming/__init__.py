"""Reactive layer on Structured Streaming (SURVEY.md section 2.9).

Maps the reference's Dagster sensor/partition machinery onto streaming
primitives:

* R1 asset sensor        -> micro-batch trigger over a file stream
* R2 run dedup           -> watermark + dropDuplicatesWithinWatermark
* R3 daily partitions    -> Bangkok-day tumbling windows, partitionBy day
* R4 cron backfill       -> ``Trigger.AvailableNow`` batch of the same query
* R6 upstream->downstream-> the derived table maintained by foreachBatch
* R7 run metadata        -> ``observe`` metrics + StreamingQueryListener
"""

from .reactive import (
    events_stream,
    reactive_ticker_meta_run,
    stream_to_jdbc,
    merge_ticker_meta_batch,
    read_ticker_meta,
    ObservedMetrics,
)
from .corpus import corpus_ingest_run, ingest_batch
from .dedup import (
    dedup_registry_stream,
    merge_dedup_registry_batch,
    streaming_dedup_run,
    streaming_dedup_update_run,
)
from .sessions import sessionize_stream, latest_sessions
from .totals import user_totals_stream, user_totals_run, latest_totals
from .join import (
    click_purchase_pairs,
    purchase_click_pairs_outer,
    stream_join_outer_run,
    stream_join_run,
)
from .merge_util import await_finished, existing_or_empty, start_stream
from .neardup import (
    neardup_registry_batch,
    read_neardup_pairs,
    streaming_neardup_run,
)

__all__ = [
    "await_finished",
    "existing_or_empty",
    "start_stream",
    "neardup_registry_batch",
    "read_neardup_pairs",
    "streaming_neardup_run",
    "click_purchase_pairs",
    "purchase_click_pairs_outer",
    "stream_join_outer_run",
    "stream_join_run",
    "sessionize_stream",
    "latest_sessions",
    "user_totals_stream",
    "user_totals_run",
    "latest_totals",
    "dedup_registry_stream",
    "corpus_ingest_run",
    "ingest_batch",
    "streaming_dedup_run",
    "streaming_dedup_update_run",
    "merge_dedup_registry_batch",
    "events_stream",
    "reactive_ticker_meta_run",
    "stream_to_jdbc",
    "merge_ticker_meta_batch",
    "read_ticker_meta",
    "ObservedMetrics",
]
