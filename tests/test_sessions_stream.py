"""Stream-batch equivalence for the applyInPandasWithState sessionizer:
replaying time-ordered event splits through sessionize_stream and keeping
the last emission per session must reproduce the batch lag+running-sum
sessionization exactly (counts, durations; values to float tolerance),
and the batch query must match its DuckDB oracle on the same input."""

from __future__ import annotations

from datetime import datetime, timedelta

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from reactive_data_pipeline_spark.queries import QUERIES
from reactive_data_pipeline_spark.sources import read_table, read_stream
from reactive_data_pipeline_spark.streaming import latest_sessions, sessionize_stream

from .conftest import SF_DIR
from .helpers import canon

#: A user of its own whose second event lands 1800.07 s after the first:
#: a new session under the microsecond gap rule, although the two events'
#: whole epoch seconds differ by exactly the 30 min gap. The third event
#: follows the second by exactly 1800 s, which stays in its session.
GAP_USER = 10_000
_T0 = datetime(2024, 1, 15, 12, 0, 0, 500_000)
GAP_EVENTS = [
    (_T0, 1.25),
    (_T0 + timedelta(seconds=1800, microseconds=70_000), 2.5),
    (_T0 + timedelta(seconds=3600, microseconds=70_000), 4.0),
]


@pytest.fixture()
def session_dirs(tmp_path):
    src = tmp_path / "events_in"
    src.mkdir()
    sf = tmp_path / "sf"
    sf.mkdir()
    events = pq.read_table(f"{SF_DIR}/events.parquet")
    first_id = pc.max(events["event_id"]).as_py() + 1
    extra = pa.table(
        {
            "event_id": [first_id + i for i in range(len(GAP_EVENTS))],
            "ts": [t for t, _ in GAP_EVENTS],
            "user_id": [GAP_USER] * len(GAP_EVENTS),
            "event_type": ["click"] * len(GAP_EVENTS),
            "value": [v for _, v in GAP_EVENTS],
            "props": ['{"k": 1}'] * len(GAP_EVENTS),
        }
    ).cast(events.schema)
    pq.write_table(pa.concat_tables([events, extra]), str(sf / "events.parquet"))
    return str(sf), src, str(tmp_path / "out"), str(tmp_path / "ckpt")


def test_stream_sessionize_matches_batch(spark, session_dirs):
    sf_dir, src, out, ckpt = session_dirs
    events = read_table(spark, sf_dir, "events")
    # Three splits partitioned ON TIME (the operator's ordering contract):
    # file order is arrival order for the file source.
    ts = events.select(F.col("ts").cast("timestamp").cast("long").alias("e")).agg(
        F.min("e"), F.max("e")
    ).first()
    lo, hi = ts[0], ts[1] + 1
    cut1, cut2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    epoch = F.col("ts").cast("timestamp").cast("long")
    for pred in (epoch < cut1, (epoch >= cut1) & (epoch < cut2), epoch >= cut2):
        events.filter(pred).coalesce(1).write.mode("append").parquet(str(src))

    stream = sessionize_stream(
        read_stream(spark, str(src), "events", max_files_per_trigger=1)
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert not q.isActive

    got = {
        (r.user_id, r.session_no): (r.n_events, r.duration_s, round(r.session_value, 6))
        for r in latest_sessions(spark.read.parquet(out)).collect()
    }
    query = QUERIES["sessionize_events"]
    batch = query.build(spark, sf_dir)
    expected = {
        (r.user_id, r.session_no): (r.n_events, r.duration_s, round(r.session_value, 6))
        for r in batch.collect()
    }
    assert got == expected
    assert {k: v for k, v in got.items() if k[0] == GAP_USER} == {
        (GAP_USER, 1): (1, 0, 1.25),
        (GAP_USER, 2): (2, 1800, 6.5),
    }

    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
    res = con.sql(query.oracle)
    assert canon([tuple(r) for r in batch.collect()], batch.columns) == canon(
        res.fetchall(), list(res.columns)
    )
