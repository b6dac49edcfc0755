"""Tracing from outside the program: spans recorded around calls into
the package, Spark's status API read back after the run, and a
streaming listener that turns progress events into spans.

Spans are kept in memory and written out when the run ends. A span's
self time is its duration minus the part of it covered by its child
spans.
"""

from __future__ import annotations

import json
import time
import urllib.parse
import urllib.request
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

MB = 1024.0 * 1024.0


class Spans:
    """In-memory span log. Times are ``time.perf_counter()`` seconds."""

    def __init__(self) -> None:
        self.rows: list[dict] = []

    def add(self, name: str, start: float, end: float, op: str, parent: int | None = None,
            **attrs) -> int:
        self.rows.append(
            {"id": len(self.rows), "name": name, "start": start, "end": end, "op": op,
             "parent": parent, **attrs}
        )
        return len(self.rows) - 1

    def self_time(self, span_id: int) -> float:
        """Duration minus the union of its children's intervals."""
        s = self.rows[span_id]
        kids = (
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in self.rows
            if c["parent"] == span_id
        )
        return (s["end"] - s["start"]) - union_length(kids)

    def dump(self, t0: float) -> list[dict]:
        """Spans with times relative to ``t0`` and their self times."""
        out = []
        for r in self.rows:
            d = dict(r)
            d["start"] = round(r["start"] - t0, 6)
            d["end"] = round(r["end"] - t0, 6)
            d["self_s"] = round(self.self_time(r["id"]), 6)
            out.append(d)
        return out


# --------------------------------------------------------------------------
# Spark status API (the REST view of the UI's status store)
# --------------------------------------------------------------------------


def epoch_s(stamp: str | None) -> float | None:
    """Epoch seconds of a Spark timestamp (status API ``...GMT`` or
    progress ``...Z`` form)."""
    if not stamp:
        return None
    stamp = stamp.replace("GMT", "+0000").replace("Z", "+0000")
    return datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class StatusApi:
    """Reads jobs and stages of the running application from Spark's
    monitoring REST API on the Spark driver's UI port (localhost only)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        url = urllib.parse.urlsplit(sc.uiWebUrl)
        self.base = f"http://127.0.0.1:{url.port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def snapshot(self) -> "JobStats":
        return JobStats(self._get("/jobs"), self._get("/stages"))


#: Stage fields summed into a layer's execution counters.
STAGE_FIELDS = (
    "executorRunTime",
    "jvmGcTime",
    "inputBytes",
    "inputRecords",
    "outputBytes",
    "shuffleWriteBytes",
    "shuffleWriteRecords",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "numCompleteTasks",
    "numFailedTasks",
)


class JobStats:
    """Jobs and stages of one application, grouped by job group."""

    def __init__(self, jobs: list[dict], stages: list[dict]) -> None:
        self.jobs = jobs
        self.stages: dict[int, list[dict]] = {}
        for s in stages:
            self.stages.setdefault(s["stageId"], []).append(s)

    def jobs_in(self, groups: set[str]) -> list[dict]:
        return [j for j in self.jobs if j.get("jobGroup") in groups]

    def counters(self, jobs: list[dict]) -> dict:
        """Summed stage counters (every attempt) plus job count and the
        wall time covered by at least one running job."""
        out = {f: 0 for f in STAGE_FIELDS}
        seen: set[int] = set()
        for j in jobs:
            for sid in j["stageIds"]:
                if sid in seen:
                    continue
                seen.add(sid)
                for attempt in self.stages.get(sid, []):
                    if attempt.get("status") == "SKIPPED":
                        continue
                    for f in STAGE_FIELDS:
                        out[f] += attempt.get(f, 0) or 0
        out["jobs"] = len(jobs)
        out["job_wall_s"] = union_length(
            (epoch_s(j.get("submissionTime")), epoch_s(j.get("completionTime"))) for j in jobs
        )
        return out

    def op_counters(self, ops: list[tuple[list[dict], float]], per: float, cores: int) -> dict:
        """Execution counters of timed operations, each given as (its
        Spark jobs, its wall time), divided by ``per`` (the number of
        operations or of passes). ``busy_share`` is executor run time /
        (operation wall x cores); ``self_s`` is operation wall time not
        covered by a running Spark job."""
        c = self.counters([j for jobs, _ in ops for j in jobs])
        wall = sum(w for _, w in ops)
        self_s = sum(max(w - self.counters(jobs)["job_wall_s"], 0.0) for jobs, w in ops)
        return {
            "self_s": self_s / per,
            "jobs": c["jobs"] / per,
            "tasks": c["numCompleteTasks"] / per,
            "exec_s": c["executorRunTime"] / 1000.0 / per,
            "gc_s": c["jvmGcTime"] / 1000.0 / per,
            "input_mb": c["inputBytes"] / MB / per,
            "output_mb": c["outputBytes"] / MB / per,
            "shuffle_write_mb": c["shuffleWriteBytes"] / MB / per,
            "shuffle_records": c["shuffleWriteRecords"] / per,
            "spill_mb": (c["memoryBytesSpilled"] + c["diskBytesSpilled"]) / MB / per,
            "failed_tasks": c["numFailedTasks"] / per,
            "busy_share": c["executorRunTime"] / 1000.0 / (wall * cores) if wall else 0.0,
        }


def union_length(intervals) -> float:
    """Total length covered by ``(lo, hi)`` intervals (overlaps counted
    once; empty or open-ended ones skipped)."""
    iv = sorted((lo, hi) for lo, hi in intervals if lo is not None and hi is not None and hi > lo)
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in iv:
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# --------------------------------------------------------------------------
# Streaming progress
# --------------------------------------------------------------------------


class ProgressLog(StreamingQueryListener):
    """Records every micro-batch progress event with the time the
    listener received it (``time.perf_counter()``): a progress event is
    posted after the batch commits, so its receipt is when the derived
    table's new state became visible to a listener."""

    def __init__(self) -> None:
        self.events: list[dict] = []
        self.terminated: list[str | None] = []

    def onQueryStarted(self, event) -> None:  # noqa: D102
        pass

    def onQueryProgress(self, event) -> None:  # noqa: D102
        seen = time.perf_counter()
        p = event.progress
        state = p.stateOperators[0] if p.stateOperators else None
        self.events.append(
            {
                "seen": seen,
                "wall_start": epoch_s(p.timestamp),
                "run_id": str(p.runId),
                "batch": p.batchId,
                "rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
                "state_rows": state.numRowsTotal if state else 0,
                "late_dropped": state.numRowsDroppedByWatermark if state else 0,
                "dups_dropped": (state.customMetrics or {}).get("numDroppedDuplicateRows", 0)
                if state
                else 0,
            }
        )

    def onQueryIdle(self, event) -> None:  # noqa: D102
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: D102
        self.terminated.append(event.exception)
