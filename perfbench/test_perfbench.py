"""Tests of the benchmark's own code (no Spark session needed).

Run with ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import statistics

import pyarrow.parquet as pq

from perfbench import inputs, reactive
from perfbench.mixes import CATALOG_MIX, EXEC_LAYERS
from perfbench.stats import (
    FAILED,
    geomean,
    median,
    percentile,
    supported_tail,
    timing_summary,
)
from perfbench.tracing import Spans


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    assert supported_tail([1.0] * 100) == 90.0
    assert supported_tail([1.0] * 99) == 80.0  # p90 would leave only 9 beyond
    assert supported_tail([1.0] * 1000) == 99.0
    assert supported_tail([1.0] * 10_000) == 99.9
    assert supported_tail([1.0] * 20) == 50.0
    assert supported_tail([1.0] * 19) is None


def test_percentile_is_nearest_rank():
    xs = [float(i) for i in range(1, 101)]
    assert percentile(xs, 90.0) == 90.0
    assert percentile(xs, 50.0) == 50.0
    assert percentile([3.0, 1.0, 2.0], 100.0) == 3.0


def test_failed_operation_misses_every_latency_limit():
    assert FAILED > 1e12
    samples = [0.1] * 89 + [FAILED] * 11
    s = timing_summary(samples)
    assert s["failed"] == 11
    assert s["p90"] == FAILED  # the failures sit above every success
    assert s["p50"] == 0.1
    # catalog_mix's latency_s: one failed query makes the mix's latency infinite.
    assert abs(geomean([0.5, 2.0]) - 1.0) < 1e-12
    assert geomean([0.5, median([1.0, FAILED, FAILED])]) == FAILED


def test_no_min_of_medians_discount():
    # A contended tail must move the reported median: every sample counts,
    # no "lower of two medians" rule hides the slow ones.
    base = [1.0, 1.0, 1.0]
    contended = base + [5.0, 5.0, 5.0, 5.0]
    assert median(contended) == 5.0
    assert timing_summary(contended)["p50"] == statistics.median(contended)
    assert median([1.0, 2.0, 3.0, 10.0]) == 2.5


def test_layer_table_covers_every_query_in_the_mix():
    from reactive_data_pipeline_spark.queries import QUERIES

    assert set(CATALOG_MIX) <= set(QUERIES)
    assert set(CATALOG_MIX.values()) == set(EXEC_LAYERS)
    for name in CATALOG_MIX:
        assert QUERIES[name].oracle is not None, name


def test_one_seed_gives_byte_identical_files():
    shape = inputs.FeedShape(rows_per_file=200)
    a, b, c = (inputs.EventFeed(s, shape) for s in (5, 5, 6))
    for _ in range(8):
        fa, fb, fc = a.next_file(), b.next_file(), c.next_file()
        assert inputs.parquet_bytes(fa) == inputs.parquet_bytes(fb)
        assert inputs.parquet_bytes(fa) != inputs.parquet_bytes(fc)
    small = inputs.Scale(30, 5, 40, 100, 400, 200, 20, 30, 20)
    ta, tb = inputs.tables(9, small), inputs.tables(9, small)
    for name in ta:
        assert inputs.parquet_bytes(ta[name]) == inputs.parquet_bytes(tb[name])


def test_event_feed_shape():
    shape = inputs.FeedShape(rows_per_file=1000)
    feed = inputs.EventFeed(3, shape)
    files = [feed.next_file() for _ in range(12)]
    ids = [i for f in files for i in f.column("event_id").to_pylist()]
    assert len(ids) == 12 * 1000
    # Re-delivered rows are byte-for-byte copies of earlier rows.
    seen: dict[int, dict] = {}
    dups = 0
    for f in files:
        for row in f.to_pylist():
            if row["event_id"] in seen:
                dups += 1
                assert seen[row["event_id"]] == row
            else:
                seen[row["event_id"]] = row
    assert dups == feed.injected_dups > 0
    # Late rows stay within the late bound (inside the 2 hour watermark).
    for i, f in enumerate(files):
        base = inputs.EPOCH_2024 + i * shape.file_span_s * 1_000_000
        fresh = f.slice(0, 1000 - (30 if i else 0))
        ns = fresh.column("ts").cast("int64").to_pylist()
        assert min(ns) // 1000 > base - shape.late_max_s * 1_000_000
    # Users skew toward the first symbol bucket (user_id % 4 == 0).
    users = [u for f in files for u in f.column("user_id").to_pylist()]
    assert 0.5 < sum(1 for u in users if u % 4 == 0) / len(users) < 0.7


def test_spans_self_time_subtracts_covered_child_time():
    sp = Spans()
    root = sp.add("op", 0.0, 10.0, op="x")
    sp.add("a", 1.0, 3.0, op="x", parent=root)
    sp.add("b", 2.0, 5.0, op="x", parent=root)  # overlaps a
    sp.add("c", 8.0, 12.0, op="x", parent=root)  # runs past the parent
    assert abs(sp.self_time(root) - 4.0) < 1e-9


def _write_log(path: str, records: list[dict]) -> None:
    with open(path, "w") as f:
        f.write("v1\n")
        for r in records:
            f.write(json.dumps(r) + "\n")


def test_source_log_maps_files_to_micro_batches(tmp_path):
    ckpt = tmp_path / "ckpt"
    (ckpt / "sources" / "0").mkdir(parents=True)
    (ckpt / "offsets").mkdir()
    # Source log offsets 0..2; micro-batches 0 and 1 are no-data batches
    # that re-read offset 0, batch 2 reads up to offset 2.
    _write_log(str(ckpt / "sources" / "0" / "0"),
               [{"path": "file:///l/a.parquet", "timestamp": 1, "batchId": 0}])
    _write_log(str(ckpt / "sources" / "0" / "2.compact"),
               [{"path": "file:///l/b.parquet", "timestamp": 1, "batchId": 1},
                {"path": "file:///l/c.parquet", "timestamp": 1, "batchId": 2}])
    for batch, end in ((0, 0), (1, 0), (2, 2)):
        _write_log(str(ckpt / "offsets" / str(batch)),
                   [{"batchWatermarkMs": 0}, {"logOffset": end}])
    assert reactive.source_log(str(ckpt)) == {"a.parquet": 0, "b.parquet": 2, "c.parquet": 2}


def _fixture_types() -> dict[str, dict[str, str]]:
    """Column -> declared type of each table in FIXTURES.md sections 1-2."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "FIXTURES.md")) as f:
        text = f.read().split("## 3.")[0]
    out: dict[str, dict[str, str]] = {}
    table = None
    for line in text.splitlines():
        if line.startswith("### "):
            table = line.split()[1]
            out[table] = {}
        elif table and line.startswith("| ") and not line.startswith("| column"):
            cells = [c.strip() for c in line.strip("|").split("|")]
            out[table][cells[0]] = cells[1].replace("&lt;", "<").replace("&gt;", ">")
    return out


def test_generated_tables_match_fixture_schemas(tmp_path):
    small = inputs.Scale(30, 5, 40, 100, 400, 200, 20, 30, 20)
    counts = inputs.write_tables(1, small, str(tmp_path))
    assert counts["lineitem"] == 400
    declared = _fixture_types()
    assert set(declared) == set(counts)
    for name, columns in declared.items():
        schema = pq.read_schema(os.path.join(tmp_path, f"{name}.parquet"))
        got = {f.name: str(f.type).replace("list<element: ", "list<") for f in schema}
        assert got == columns, name
    # The reactive feed writes the events schema too.
    feed = inputs.EventFeed(1, inputs.FeedShape(rows_per_file=50)).next_file()
    assert {f.name: str(f.type) for f in feed.schema} == declared["events"]
