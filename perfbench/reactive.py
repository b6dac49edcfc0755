"""Reactive workload: the derived ``ticker_meta`` table maintained by
``streaming.reactive_ticker_meta_run`` while event files land.

Per run:

1. generate every event file of the run from the seed and the oracle
   hash of the final derived table, in a child process
   (``prepare.events``);
2. set up the session (repeated, see ``sparkenv.set_up``);
3. backfill: stage a backlog of ``BACKFILL_FILES`` files and drain it
   with an ``availableNow`` run, ``WARM_DRAINS`` times untimed (warm-up),
   then ``BACKFILL_PASSES`` timed times;
4. live: the continuous query runs on the same checkpoint while a
   generator thread lands ``LIVE_RATE`` files per second, open loop, for
   ``--seconds``; then the run waits until every landed file is
   committed;
5. checks: every landed file committed, the derived table equal to the
   oracle.

A file's freshness is the time from when it was due to land until the
listener received the progress event of the committed micro-batch that
read it (the file -> batch map comes from the checkpoint's source log).
"""

from __future__ import annotations

import bisect
import json
import os
import shutil
import threading
import time

from . import oracle, prepare, sparkenv
from .stats import FAILED, median
from .tracing import MB, ProgressLog, epoch_s

#: Untimed warm-up drains, then timed drains (``pass_s`` is their
#: median). The drain path keeps warming for several drains: after one
#: warm-up drain, three timed drains of one run measured 2.8, 2.2, 2.0 s,
#: and the ten-seed spread of ``pass_s`` was twice that with two.
WARM_DRAINS = 2
BACKFILL_PASSES = 3
BACKFILL_FILES = 30
ROWS_PER_FILE = 1000
#: Open-loop arrival rate of the live phase, files per second: one file
#: every 4 s. A data batch plus the no-data batch that advances the
#: watermark take ~1.7 s on a quiet 4-vCPU host and 3-3.5 s when the
#: hypervisor steals 15-22% of the CPU; at one file every 2, 2.5 or 3 s
#: such runs queued files behind each other and freshness doubled.
LIVE_RATE = 1 / 4
#: Micro-batch trigger of the live query: start the next batch as soon as
#: the previous one ends and new files are listed.
TRIGGER = "0 seconds"
#: How long the run waits after the last landing for the stream to
#: commit everything before it counts the rest as failed, and how long one
#: backfill drain may take; both keep a failing run well inside the
#: benchmark's 180 s limit.
COMMIT_WAIT_S = 15.0
DRAIN_TIMEOUT_S = 20


class Landing:
    """Lands pre-generated files in the watched directory: write to a
    hidden temp name, then rename (the file source skips dot-files)."""

    def __init__(self, path: str, files: list[str]) -> None:
        self.path = path
        self.files = files
        self.names = [f"events-{i:06d}.parquet" for i in range(len(files))]
        self.due: dict[int, float] = {}
        self.landed: dict[int, float] = {}
        os.makedirs(path, exist_ok=True)

    def land(self, i: int) -> None:
        tmp = os.path.join(self.path, f".{self.names[i]}.tmp")
        shutil.copyfile(self.files[i], tmp)
        os.rename(tmp, os.path.join(self.path, self.names[i]))
        self.landed[i] = time.perf_counter()

    def open_loop(self, first: int, count: int, rate: float, t_base: float, spans=None) -> None:
        """Land ``count`` files from index ``first`` at ``rate`` per
        second from ``t_base``, never waiting for the system."""
        for k in range(count):
            i = first + k
            due = t_base + k / rate
            self.due[i] = due
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            t0 = time.perf_counter()
            self.land(i)
            if spans is not None:
                spans.add("generator.write", t0, self.landed[i], op=f"file{i}")


def _log_lines(path: str):
    """JSON records of one checkpoint log file (after its version line)."""
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line.startswith("{"):
                yield json.loads(line)


def source_log(ckpt: str) -> dict[str, int]:
    """File name -> micro-batch id that read it.

    The file source logs each file under its own log offset; the
    micro-batch offset log records, per batch, the source log offset it
    read up to. A file belongs to the first batch whose end offset
    reaches the file's log offset."""
    src = os.path.join(ckpt, "sources", "0")
    off = os.path.join(ckpt, "offsets")
    if not (os.path.isdir(src) and os.path.isdir(off)):
        return {}
    file_offset: dict[str, int] = {}
    for fn in os.listdir(src):
        if not fn.startswith("."):
            for e in _log_lines(os.path.join(src, fn)):
                file_offset[os.path.basename(e["path"])] = int(e["batchId"])
    ends = []
    for fn in os.listdir(off):
        if fn.isdigit():
            recs = [e for e in _log_lines(os.path.join(off, fn)) if "logOffset" in e]
            if recs:
                ends.append((recs[0]["logOffset"], int(fn)))
    ends.sort()
    out = {}
    for name, lo in file_offset.items():
        i = bisect.bisect_left(ends, (lo, -1))
        if i < len(ends):
            out[name] = ends[i][1]
    return out


def committed(ckpt: str, batch: int) -> bool:
    return os.path.exists(os.path.join(ckpt, "commits", str(batch)))


def ran_batch(e: dict, run_ids) -> bool:
    """A progress event of one of ``run_ids`` for a micro-batch the query
    ran (idle progress events repeat a batch id without running it)."""
    return e["run_id"] in run_ids and "addBatch" in e["duration_ms"]


def batches_seen(log: ProgressLog, run_id: str) -> dict[int, float]:
    """Micro-batch id -> when the listener received its progress event."""
    seen: dict[int, float] = {}
    for e in log.events:
        if ran_batch(e, (run_id,)):
            seen.setdefault(e["batch"], e["seen"])
    return seen


def _wait_committed(landing, files, ckpt, log, run_id, query) -> None:
    """Wait until each file landed so far is in a committed batch whose
    progress event the listener has received, the query stopped, or
    ``COMMIT_WAIT_S`` passed."""
    deadline = time.perf_counter() + COMMIT_WAIT_S
    while query.isActive and time.perf_counter() < deadline:
        batches = source_log(ckpt)
        seen = batches_seen(log, run_id)
        names = [landing.names[i] for i in files if i in landing.landed]
        if all(n in batches and committed(ckpt, batches[n]) and batches[n] in seen
               for n in names):
            return
        time.sleep(0.05)


def _stop_between_batches(query, timeout: float = 10.0) -> None:
    """Stop the continuous query while no trigger is running, so the stop
    does not interrupt a batch mid-write."""
    deadline = time.perf_counter() + timeout
    while query.isActive and query.status["isTriggerActive"] and time.perf_counter() < deadline:
        time.sleep(0.01)
    query.stop()


def run_ticker(run) -> None:
    from reactive_data_pipeline_spark.streaming import (
        await_finished,
        reactive_ticker_meta_run,
        read_ticker_meta,
    )

    landing_dir = f"{run.root}/landing"
    out, ckpt = f"{run.root}/ticker_meta", f"{run.root}/ckpt"
    n_backlog = (WARM_DRAINS + BACKFILL_PASSES) * BACKFILL_FILES
    n_live = int(run.seconds * LIVE_RATE) + 1  # due at 0, 4, ... s within --seconds

    t0 = time.perf_counter()
    n_files, staged = n_backlog + n_live, f"{run.root}/staged"
    feed = prepare.run("events", run.seed, n_files, ROWS_PER_FILE, staged)
    landing = Landing(landing_dir, [f"{staged}/{i}.parquet" for i in range(n_files)])
    run.info("inputs_s", time.perf_counter() - t0, "s",
             "event files and the expected ticker_meta (DuckDB), child process")

    spark = run.set_up()
    log = ProgressLog()
    spark.streams.addListener(log)
    trace = run.spans if run.trace else None

    # -- backfill: staged backlogs drained by availableNow runs ----------
    # The first WARM_DRAINS drains are untimed warm-up.
    drains: list[float] = []
    backfill_runs: list[str] = []
    clock = sparkenv.HostClock(spark)
    for k in range(WARM_DRAINS + BACKFILL_PASSES):
        first = k * BACKFILL_FILES
        for i in range(first, first + BACKFILL_FILES):
            landing.land(i)
        run.attempted += BACKFILL_FILES
        t0 = time.perf_counter()
        try:
            q = reactive_ticker_meta_run(spark, landing_dir, out, ckpt, available_now=True)
            await_finished(q, timeout=DRAIN_TIMEOUT_S)
        except Exception as e:  # noqa: BLE001 - a failed drain is a counted failure
            run.fail(f"backfill {k}: {type(e).__name__}: {e}")
            continue
        t1 = time.perf_counter()
        if k < WARM_DRAINS:
            continue
        drains.append(t1 - t0)
        backfill_runs.append(str(q.runId))
        if trace is not None:
            trace.add("streaming.backfill_drain", t0, t1, op=f"backfill{k}")
    backfill_rows = BACKFILL_FILES * ROWS_PER_FILE
    if drains:
        run.metric("pass_s", median(drains), "s", len(drains))
        run.info("backfill_rows_per_s", backfill_rows / median(drains), "rows/s",
                 f"{backfill_rows} staged rows per availableNow drain", len(drains))
        run.info("drains_s", [round(d, 4) for d in drains], "s", "each timed drain")

    # -- live: open-loop landings under the continuous query -------------
    live = reactive_ticker_meta_run(
        spark, landing_dir, out, ckpt, available_now=False, processing_time=TRIGGER
    )
    live_run = str(live.runId)
    t_base = time.perf_counter() + 0.5
    gen = threading.Thread(
        target=landing.open_loop, args=(n_backlog, n_live, LIVE_RATE, t_base, trace),
        name="generator", daemon=True,
    )
    gen.start()
    gen.join(timeout=run.seconds + 60)
    run.attempted += n_live
    live_files = range(n_backlog, n_backlog + n_live)
    _wait_committed(landing, live_files, ckpt, log, live_run, live)
    t_end = time.perf_counter()
    run.host_info(clock, "timed")
    _stop_between_batches(live)
    if live.exception() is not None:
        run.fail(f"live query: {live.exception()}")
    spark.streams.removeListener(log)

    # -- freshness and commit accounting ---------------------------------
    names = landing.names
    batches = source_log(ckpt)
    seen_at = batches_seen(log, live_run)
    fresh: list[float] = []
    for i in live_files:
        b = batches.get(names[i])
        if i not in landing.landed or b is None or not committed(ckpt, b) or b not in seen_at:
            run.fail(f"file {names[i]} landed but never seen committed")
            fresh.append(FAILED)
            continue
        fresh.append(seen_at[b] - landing.due[i])
    for i in range(n_backlog):
        b = batches.get(names[i])
        if b is None or not committed(ckpt, b):
            run.fail(f"backlog file {names[i]} never committed")
    run.latency(fresh, "freshness")
    run.metric("latency_s", median(fresh), "s", len(fresh))
    lag = [landing.landed[i] - landing.due[i] for i in landing.due if i in landing.landed]
    run.info("generator_lag_s", max(lag) if lag else 0.0, "s",
             "latest landing relative to its due time (open-loop validity)", len(lag))

    timed_runs = {*backfill_runs, live_run}
    batches_run = [e for e in log.events if ran_batch(e, timed_runs)]
    run.attempted += len(batches_run)
    for exc in log.terminated:
        if exc:
            run.fail(f"stream terminated: {exc[:300]}")

    # -- output check -----------------------------------------------------
    run.attempted += 1
    try:
        got = oracle.result_hash(read_ticker_meta(spark, out).toPandas())
        if got != feed["expected"]:
            run.fail("ticker_meta differs from build_ticker_meta over the de-duplicated events")
    except Exception as e:  # noqa: BLE001 - a failed check is a counted failure
        run.fail(f"ticker_meta check: {type(e).__name__}: {e}")

    if run.trace:
        _layers(run, log, batches_run, live_run, landing, batches, feed["injected_dups"],
                t_base, t_end)


def _layers(run, log, batches_run, live_run, landing, batches, injected, t_base, t_end):
    """Per-layer numbers of the traced run, from progress events, the
    spans and Spark's status API. ``batches_run`` holds the progress
    events of the micro-batches the timed drains and the live query ran;
    the dedup counters use every batch that ran, warm-up drains included,
    as every file injected duplicates."""
    live_events = [e for e in batches_run if e["run_id"] == live_run]
    data = [e for e in live_events if e["rows"] > 0]
    dur = lambda e, *ks: sum(e["duration_ms"].get(k, 0) for k in ks) / 1000.0  # noqa: E731

    def med(xs):
        return median(xs) if xs else None

    # Batches as spans: progress gives each phase's duration, not its start;
    # the phases run in this order inside a trigger.
    for e in batches_run:
        start = e["seen"] - dur(e, "triggerExecution")
        sid = run.spans.add("streaming.trigger", start, e["seen"], op=f"batch{e['batch']}",
                            run_id=e["run_id"], rows=e["rows"])
        t = start
        for phase in ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
                      "commitOffsets"):
            d = dur(e, phase)
            run.spans.add(f"streaming.{phase}", t, t + d, op=f"batch{e['batch']}", parent=sid)
            t += d

    run.layer("streaming.trigger_s", med([dur(e, "triggerExecution") for e in data]), "s",
              "micro-batch trigger time, live batches with data (median)")
    run.layer("streaming.add_batch_s", med([dur(e, "addBatch") for e in data]), "s",
              "merge_ticker_meta_batch body per live batch (median)")
    run.layer("streaming.plan_s", med([dur(e, "queryPlanning") for e in data]), "s",
              "query planning per live batch (median)")
    run.layer("streaming.commit_s", med([dur(e, "walCommit", "commitOffsets") for e in data]),
              "s", "walCommit + commitOffsets per live batch (median)")
    run.layer("sources.list_s", med([dur(e, "latestOffset", "getBatch") for e in data]), "s",
              "file-source latestOffset + getBatch per live batch (median)")
    back = [e for e in batches_run if e["run_id"] != live_run and e["rows"] > 0]
    run.layer("streaming.rows_per_batch", med([e["rows"] for e in back]), "count",
              "input rows per backfill micro-batch (median)")
    run.layer("streaming.live_rows_per_batch", med([e["rows"] for e in data]), "count",
              "input rows per live micro-batch with data (median)")
    every_batch = [e for e in log.events if "addBatch" in e["duration_ms"]]
    run.layer("streaming.state_rows", max((e["state_rows"] for e in every_batch), default=0),
              "count", "dedup-watermark state rows (max)")
    dropped = sum(e["dups_dropped"] or 0 for e in every_batch)
    run.layer("streaming.dup_drop_ratio", dropped / injected if injected else None, "ratio",
              f"dropped duplicates / injected duplicates ({dropped}/{injected})")

    # Backlog: files landed but not yet in a committed batch, at each live
    # progress event.
    names = landing.names
    backlog = []
    for e in live_events:
        backlog.append(sum(
            1 for i, t in landing.landed.items()
            if i in landing.due and t <= e["seen"] and batches.get(names[i], 1 << 62) > e["batch"]
        ))
    run.layer("streaming.backlog_files", max(backlog, default=0), "count",
              "landed, not yet committed files at a live progress event (max)")
    busy = sum(dur(e, "triggerExecution") for e in live_events)
    wall = t_end - t_base
    run.layer("streaming.idle_share", 1.0 - busy / wall if wall > 0 else None, "share",
              "live-phase wall time with no micro-batch running")
    lag = [landing.landed[i] - landing.due[i] for i in landing.due]
    run.layer("streaming.generator_lag_s", max(lag, default=0.0), "s",
              "latest landing relative to its due time")

    # Spark jobs of each micro-batch: those submitted inside its trigger.
    stats = run.status().snapshot()
    ops = []
    for e in batches_run:
        lo = e["wall_start"]
        hi = lo + dur(e, "triggerExecution")
        ops.append(([j for j in stats.jobs
                     if lo <= (epoch_s(j.get("submissionTime")) or 0.0) <= hi],
                    dur(e, "triggerExecution")))
    c = stats.op_counters(ops, 1, sparkenv.cores())
    timed_files = [i for i in landing.landed if i >= WARM_DRAINS * BACKFILL_FILES]
    landed_bytes = sum(os.path.getsize(landing.files[i]) for i in timed_files)
    run.layer("streaming.rewrite_bytes_per_input_byte",
              c["output_mb"] * MB / landed_bytes if landed_bytes else None, "ratio",
              "bytes written to the derived table / bytes of landed event files")
    run.generic_layers(stats, ops)
    run.layer("queries.*", None, "-", "no catalog query runs on this workload")
    run.layer("<layer>.* (operators, functions, dedup, similarity, export)", None, "-",
              "no catalog query runs on this workload")
