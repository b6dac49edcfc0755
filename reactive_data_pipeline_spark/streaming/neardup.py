"""Streaming NEAR-duplicate registry: the simhash-banded counterpart
of the exact-fingerprint registry (`streaming/dedup.py`).

The exact registry only catches byte-identical (normalized) content; a
production ingest also needs "this arriving document is a near-copy of
something we already hold". Per micro-batch:

1. **fingerprint** the batch (63-bit frequency-weighted SimHash,
   `dedup/simhash.py`) and explode its four 16-bit band keys;
2. **candidates** = batch-vs-registry equi join on (band, band_value)
   UNION batch-internal banded self-join - the same pigeonhole
   argument as the batch operator (Hamming <= 3 shares a band), so the
   union over batches reproduces the batch operator's candidate set
   exactly: an in-batch pair meets in the self-join, a cross-batch
   pair meets when the LATER doc arrives and probes the registry;
3. **verify** candidates with ``bit_count(xor) <= max_hamming`` (both
   sides carry the 64-bit fingerprint - no text is ever re-read);
4. **emit** the verified pairs under ``pairs_root/ingest_batch=K``
   (batch-id directory overwrite -> replay rewrites, never duplicates)
   and append the batch's fingerprint/band rows to the registry behind
   a doc_id anti-join (a replayed batch re-registers nothing, and its
   registry-probe then finding its own docs only re-derives the same
   normalized pairs into the same overwritten directory).

Scale: the registry holds 4 band rows of ~32 bytes per document -
O(corpus) metadata around 1e-4 of the text size - PARTITIONED by a
band-value hash bucket, and every trigger reads ONLY the buckets the
batch's own band keys hash into (a trickle batch touches a few
buckets, not the corpus; the two registry consumers - candidate probe
and doc_id replay guard - both only need rows co-bucketed with the
batch, see ``neardup_registry_batch``). AQE picks broadcast while the
pruned slice is small, shuffled-hash later. Stream==batch equivalence
is BY CONSTRUCTION (same candidate generation, same verification),
pinned in tests/test_streaming_neardup.py and hash-checked by the
``streaming_neardup_contract`` catalog query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..dedup.simhash import _BAND_BITS, _BANDS, simhash_docs
from ..sources.registry import read_stream
from .merge_util import existing_or_empty, start_stream

NEARDUP_REGISTRY_SCHEMA = (
    "doc_id long, simhash long, band int, bv long, rbucket long"
)
REGISTRY_BUCKETS = 64


def _band_rows(sh: DataFrame) -> DataFrame:
    """(doc_id, simhash) -> one row per 16-bit band key."""
    return sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned("simhash", i * _BAND_BITS)
                        .bitwiseAND(F.lit((1 << _BAND_BITS) - 1))
                        .alias("bv"),
                    )
                    for i in range(_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", F.col("bk.band").alias("band"), F.col("bk.bv").alias("bv"))


def _verified_pairs(
    probe: DataFrame, target: DataFrame, max_hamming: int
) -> DataFrame:
    """Band-key equi join -> normalized (doc_a < doc_b) -> Hamming
    verification. ``probe``/``target`` are band-row frames."""
    a, b = probe.alias("a"), target.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
            F.least("a.simhash", "b.simhash").alias("sh_lo"),
            F.greatest("a.simhash", "b.simhash").alias("sh_hi"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sh_lo").bitwiseXOR(F.col("sh_hi")))
    return cand.filter(ham <= max_hamming).select("doc_a", "doc_b", ham.alias("hamming"))


def neardup_registry_batch(
    batch: DataFrame,
    batch_id: int,
    registry_path: str,
    pairs_root: str,
    max_hamming: int = 3,
) -> None:
    """Process one arriving micro-batch (the foreachBatch body)."""
    spark = batch.sparkSession
    bands = _band_rows(simhash_docs(batch)).withColumn(
        "rbucket", F.pmod("bv", F.lit(REGISTRY_BUCKETS))
    ).persist()
    try:
        # Partition-pruned registry read: the candidate probe only
        # needs rows whose (band, bv) the batch can match, and the
        # replay guard only needs to recognize this batch's own docs -
        # a replayed doc's band rows live in exactly the buckets the
        # replay recomputes. Both live in the batch's bucket set
        # (bounded collect: <= REGISTRY_BUCKETS values).
        touched = [r["rbucket"] for r in bands.select("rbucket").distinct().collect()]
        seen = existing_or_empty(
            spark,
            registry_path,
            schema=NEARDUP_REGISTRY_SCHEMA,
            prune=F.col("rbucket").isin(touched),
        )
        fresh = bands.join(seen.select("doc_id").distinct(), "doc_id", "left_anti")
        internal = _verified_pairs(bands, bands, max_hamming)
        cross = _verified_pairs(bands, seen, max_hamming)
        pairs = internal.unionByName(cross).distinct()
        # pairs FIRST (idempotent batch-dir overwrite), registry LAST -
        # same crash-recovery ordering as the corpus ingest.
        pairs.write.mode("overwrite").parquet(
            f"{pairs_root}/ingest_batch={int(batch_id)}"
        )
        fresh.write.partitionBy("rbucket").mode("append").parquet(registry_path)
    finally:
        bands.unpersist()


def streaming_neardup_run(
    spark: SparkSession,
    src_dir: str,
    registry_path: str,
    pairs_root: str,
    checkpoint: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    max_hamming: int = 3,
) -> StreamingQuery:
    """File-stream ``src_dir`` documents through the near-dup registry."""
    docs = read_stream(
        spark, src_dir, "documents", max_files_per_trigger=max_files_per_trigger
    )
    writer = docs.writeStream.foreachBatch(
        lambda b, i: neardup_registry_batch(
            b, i, registry_path, pairs_root, max_hamming
        )
    )
    return start_stream(writer, checkpoint, available_now)


def read_neardup_pairs(spark: SparkSession, pairs_root: str) -> DataFrame:
    """All verified near-dup pairs across ingest batches. Unique by
    construction (a pair is emitted exactly once: in its in-batch
    self-join or when its later member arrives), so no global dedup."""
    return spark.read.parquet(pairs_root).select("doc_a", "doc_b", "hamming")
