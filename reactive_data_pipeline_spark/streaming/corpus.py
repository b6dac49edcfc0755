"""Reactive corpus ingest: the LLM-pipeline counterpart of the
namesake reactive ticker flow (reference sensors.py:6-16 semantics -
new upstream data arrives, downstream derived artifacts update
incrementally).

Per micro-batch of arriving documents:

1. **dedup against history** - anti-join the batch's content
   fingerprints against the persistent registry (only NEW content
   survives; re-delivered files are no-ops);
2. **registry update** - append the new fingerprints (append-only:
   each fingerprint is written by exactly the batch that first saw it,
   so replays after a checkpoint recovery cannot double-write *new*
   work, and duplicated appends of the same batch are filtered by the
   anti-join on the next read);
3. **export** - quality-filter, chunk, pack, and write the batch's
   training shards under ``out_root/ingest_batch=<id>/`` - batch-id
   naming makes the export idempotent under foreachBatch's replay
   contract (a re-run of batch k overwrites batch k's directory, never
   duplicates it).

At scale each step is the batch-sized version of its batch twin: the
anti-join shuffles only the new batch against a fingerprint-bucketed
registry, and the shard write touches only this batch's directory -
O(new data), never O(corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.text import fingerprint_md5, lang_id, quality_score
from ..functions.chunking import chunk_documents, pack_bins
from ..operators.relational import evaluate_once
from ..sources.registry import read_stream
from .merge_util import existing_or_empty, start_stream

REGISTRY_SCHEMA = "fingerprint string, doc_id long"


def ingest_batch(
    batch: DataFrame,
    batch_id: int,
    registry_path: str,
    shards_root: str,
    min_quality: float = 0.5,
    lang: str = "en",
) -> None:
    """Process one arriving micro-batch (the foreachBatch body)."""
    spark = batch.sparkSession
    # in-batch dedup first (min-id keeper), then against history
    from ..dedup.exact import dedup_documents

    fresh = dedup_documents(batch).withColumn(
        "fingerprint", fingerprint_md5("text")
    )
    # No forced broadcast: the registry grows without bound, so the
    # join strategy is AQE's call (broadcast while small, shuffled
    # against a fingerprint-bucketed layout at scale). Only a genuinely
    # missing registry (first batch) yields the empty frame - any other
    # read error fails the batch so the checkpoint retries, instead of
    # skipping the anti-join and re-exporting already-seen content.
    seen = existing_or_empty(spark, registry_path, schema=REGISTRY_SCHEMA)
    fresh = fresh.join(seen.select("fingerprint"), "fingerprint", "left_anti")
    fresh = fresh.persist()
    try:
        if fresh.isEmpty():
            return
        # Order matters for crash recovery: shards FIRST (their write is
        # idempotent - batch-id directory overwrite), registry LAST. A
        # crash between the two replays the batch, the anti-join still
        # passes (fingerprints not yet registered), and the shard dir is
        # simply rewritten. Registry-first would make that replay a
        # silent no-op with the shards never written.
        # evaluate_once barrier: one scoring pass per doc (Filter
        # predicates get no subexpression elimination); Generate is
        # foreachBatch/streaming-safe.
        scored = evaluate_once(
            fresh, {"__q": quality_score("text"), "__l": lang_id("text")}
        )
        kept = scored.filter(
            (F.col("__q") >= min_quality) & (F.col("__l") == lang)
        ).select(*fresh.columns)
        chunks = chunk_documents(kept, chunk_tokens=32, overlap=8).drop("chunk_text")
        packed = pack_bins(chunks, bin_tokens=128)
        packed.write.mode("overwrite").parquet(
            f"{shards_root}/ingest_batch={int(batch_id)}"
        )
        fresh.select("fingerprint", "doc_id").write.mode("append").parquet(
            registry_path
        )
    finally:
        fresh.unpersist()


def corpus_ingest_run(
    spark: SparkSession,
    src_dir: str,
    registry_path: str,
    shards_root: str,
    checkpoint: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """File-stream ``src_dir`` documents through ``ingest_batch``.
    ``max_files_per_trigger=1`` makes each arriving file its own
    micro-batch (deterministic batch boundaries for the incremental
    contract query; availableNow still drains everything)."""
    docs = read_stream(
        spark, src_dir, "documents", max_files_per_trigger=max_files_per_trigger
    )
    writer = docs.writeStream.foreachBatch(
        lambda b, i: ingest_batch(b, i, registry_path, shards_root)
    )
    return start_stream(writer, checkpoint, available_now)
