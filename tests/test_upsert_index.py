"""General upsert sink + file-level min/max index pruning."""

from __future__ import annotations

import pyspark.sql.functions as F

from reactive_data_pipeline_spark.operators.upsert import (
    read_upserted,
    upsert_partitioned,
)
from reactive_data_pipeline_spark.sources import read_table
from reactive_data_pipeline_spark.sources.file_index import (
    build_file_index,
    pruned_read,
)

from .conftest import SF_DIR


def _rows(spark, path):
    return sorted(tuple(r) for r in read_upserted(spark, path).collect())


def test_upsert_insert_update_and_version_rules(spark, tmp_path):
    p = f"{tmp_path}/dim"
    base = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1), (3, "c", 1)], "id long, val string, ver long"
    )
    upsert_partitioned(spark, p, base, ["id"], "ver")
    assert _rows(spark, p) == [(1, "a", 1), (2, "b", 1), (3, "c", 1)]

    # update id=2 with a newer version, insert id=4, and carry a STALE
    # id=3 (ver 0) that must NOT clobber the stored ver-1 row.
    batch = spark.createDataFrame(
        [(2, "B", 2), (4, "d", 1), (3, "stale", 0)], "id long, val string, ver long"
    )
    upsert_partitioned(spark, p, batch, ["id"], "ver")
    assert _rows(spark, p) == [(1, "a", 1), (2, "B", 2), (3, "c", 1), (4, "d", 1)]


def test_upsert_replay_is_noop(spark, tmp_path):
    p = f"{tmp_path}/dim"
    base = spark.createDataFrame(
        [(i, f"v{i}", 1) for i in range(50)], "id long, val string, ver long"
    )
    upsert_partitioned(spark, p, base, ["id"], "ver")
    before = _rows(spark, p)
    upsert_partitioned(spark, p, base, ["id"], "ver")  # redelivery
    assert _rows(spark, p) == before


def test_upsert_equal_version_incoming_wins(spark, tmp_path):
    p = f"{tmp_path}/dim"
    upsert_partitioned(
        spark,
        p,
        spark.createDataFrame([(1, "old", 5)], "id long, val string, ver long"),
        ["id"],
        "ver",
    )
    upsert_partitioned(
        spark,
        p,
        spark.createDataFrame([(1, "new", 5)], "id long, val string, ver long"),
        ["id"],
        "ver",
    )
    assert _rows(spark, p) == [(1, "new", 5)]


def test_file_index_prunes_file_list(spark, tmp_path):
    """A time-range read over a ts-clustered dataset must open only the
    files whose manifest range intersects - and return exactly the rows
    a full-scan filter returns."""
    ev = read_table(spark, SF_DIR, "events").select("event_id", "ts", "user_id")
    p = f"{tmp_path}/events_sorted"
    ev.repartitionByRange(8, "ts").sortWithinPartitions("ts").write.parquet(p)

    idx = build_file_index(spark, p, ["ts"])
    n_total = idx.count()
    lo, hi = "2024-01-10", "2024-01-12"
    pruned, n_read = pruned_read(spark, idx, "ts", lo, hi)
    assert 0 < n_read < n_total  # the manifest actually pruned files

    got = sorted(
        tuple(r)
        for r in pruned.filter(F.col("ts").between(lo, hi)).collect()
    )
    want = sorted(
        tuple(r)
        for r in spark.read.parquet(p).filter(F.col("ts").between(lo, hi)).collect()
    )
    assert got == want and len(got) > 0


def test_streaming_upsert_two_waves_equals_batch(spark, tmp_path):
    """The foreachBatch upsert runner over two event-file waves must
    converge to the same table as batch upserts of the same waves
    (latest event per user wins, versioned by epoch micros)."""
    import glob
    import os
    import shutil

    from reactive_data_pipeline_spark.operators.upsert import upsert_stream_run
    from reactive_data_pipeline_spark.streaming import await_finished

    raw = read_table(spark, SF_DIR, "events")
    src = f"{tmp_path}/in"
    os.mkdir(src)
    for tag, pred, mtime in (
        ("a", F.col("ts") < "2024-01-16", 1_000_000_000),
        ("b", F.col("ts") >= "2024-01-16", 2_000_000_000),
    ):
        half = f"{tmp_path}/h{tag}"
        raw.filter(pred).coalesce(1).write.parquet(half)
        part = glob.glob(f"{half}/part-*.parquet")[0]
        shutil.move(part, f"{src}/{tag}.parquet")
        os.utime(f"{src}/{tag}.parquet", (mtime, mtime))

    out, ckpt = f"{tmp_path}/t", f"{tmp_path}/ck"
    q = upsert_stream_run(
        spark, src, out, ckpt, key_cols=["user_id"], version_col="ts",
        available_now=True, max_files_per_trigger=1,
    )
    await_finished(q)
    streamed = sorted(
        (r["user_id"], r["event_id"])
        for r in read_upserted(spark, out).collect()
    )
    # batch ground truth: latest event per user (ties impossible: event
    # ids are unique and ts has microsecond resolution).
    latest = (
        raw.groupBy("user_id")
        .agg(F.max_by("event_id", "ts").alias("event_id"))
        .collect()
    )
    assert streamed == sorted((r["user_id"], r["event_id"]) for r in latest)


def test_delete_keys_removes_only_targets(spark, tmp_path):
    from reactive_data_pipeline_spark.operators.upsert import delete_keys

    p = f"{tmp_path}/dim"
    base = spark.createDataFrame(
        [(i, f"v{i}", 1) for i in range(100)], "id long, val string, ver long"
    )
    upsert_partitioned(spark, p, base, ["id"], "ver")
    to_del = spark.createDataFrame([(7,), (42,), (99999,)], "id long")
    delete_keys(spark, p, to_del, ["id"])  # 99999 absent: no-op
    rows = _rows(spark, p)
    assert len(rows) == 98
    assert all(r[0] not in (7, 42) for r in rows)
    # idempotent replay
    delete_keys(spark, p, to_del, ["id"])
    assert _rows(spark, p) == rows
    # an upsert after deletion reinstates cleanly
    upsert_partitioned(
        spark,
        p,
        spark.createDataFrame([(7, "back", 2)], "id long, val string, ver long"),
        ["id"],
        "ver",
    )
    assert (7, "back", 2) in _rows(spark, p)


def test_delete_keys_erases_fully_emptied_bucket(spark, tmp_path):
    """When every key of a bucket is deleted, the bucket's FILES must
    go too - dynamic overwrite alone cannot erase a partition absent
    from the write (the latent resurrection bug this pins)."""
    import glob

    from reactive_data_pipeline_spark.operators.upsert import delete_keys

    p = f"{tmp_path}/dim"
    base = spark.createDataFrame(
        [(i, f"v{i}", 1) for i in range(10)], "id long, val string, ver long"
    )
    upsert_partitioned(spark, p, base, ["id"], "ver")
    # delete EVERY key: all touched buckets empty out entirely
    delete_keys(spark, p, base.select("id"), ["id"])
    assert glob.glob(f"{p}/bucket=*/part-*") == []
    # and an upsert into the emptied table works
    upsert_partitioned(
        spark,
        p,
        spark.createDataFrame([(1, "fresh", 1)], "id long, val string, ver long"),
        ["id"],
        "ver",
    )
    assert _rows(spark, p) == [(1, "fresh", 1)]


def test_delete_keys_on_unwritten_table_is_noop(spark, tmp_path):
    """Deleting from a table that was never written deletes nothing,
    and the table can still be created by a later upsert."""
    from reactive_data_pipeline_spark.operators.upsert import delete_keys

    p = f"{tmp_path}/dim"
    delete_keys(spark, p, spark.createDataFrame([(1,)], "id long"), ["id"])
    upsert_partitioned(
        spark,
        p,
        spark.createDataFrame([(1, "a", 1)], "id long, val string, ver long"),
        ["id"],
        "ver",
    )
    assert _rows(spark, p) == [(1, "a", 1)]
