"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload on ``local[nproc]`` from the root of a checkout,
checks every output, prints a readable report and, as the last line of
stdout, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics.
The full report (every metric with its unit and sample count, the
per-layer table named in NOTES.md, spans when tracing) is written to
``.bench_out/<workload>-seed<n>-trace<t>.json``. When the untraced
report of the same workload and seed is there, the traced run also
reports the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
if CHECKOUT not in sys.path:
    sys.path.insert(0, CHECKOUT)

from perfbench import sparkenv  # noqa: E402
from perfbench.stats import median, printable, timing_summary  # noqa: E402
from perfbench.tracing import Spans, StatusApi  # noqa: E402

#: Set-up repetitions per run; ``setup_s`` is their median.
SETUP_REPS = 3


def benchmark_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """End-to-end and per-layer metric names -> units, from
    ``BENCHMARK.json`` at the checkout root."""
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


class Run:
    """State and results of one benchmark run."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, root: str) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.root = root
        self.spans = Spans()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.metrics: dict[str, dict] = {}
        self.layers: dict[str, dict] = {}
        self.extra: dict[str, dict] = {}
        self.spark = None
        self._status = None

    # -- recording -------------------------------------------------------
    def fail(self, message: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(message[:400])

    def metric(self, name: str, value: float, unit: str, n: int) -> None:
        self.metrics[name] = {"value": value, "unit": unit, "n": n}

    def info(self, name: str, value, unit: str, note: str, n: int | None = None) -> None:
        self.extra[name] = {"value": value, "unit": unit, "n": n, "note": note}

    def layer(self, name: str, value, unit: str, note: str) -> None:
        self.layers[name] = {"value": value, "unit": unit, "note": note}

    def latency(self, samples: list[float], what: str) -> None:
        """Per-operation latency summary for the report: median, p90 and
        the supported tail percentile."""
        s = timing_summary(samples)
        self.info(f"{what}_p50_s", s["p50"], "s", f"{what} latency median", s["n"])
        self.info(f"{what}_p90_s", s["p90"], "s",
                  f"{what} latency p90" + ("" if s["tail_p"] and s["tail_p"] >= 90 else
                                           " (fewer than 10 samples beyond it)"), s["n"])
        if s["tail_p"] is not None:
            self.info(f"{what}_tail_s", s["tail"], "s",
                      f"{what} latency p{s['tail_p']:g}: highest percentile with >=10 "
                      "samples beyond it", s["n"])

    # -- session ---------------------------------------------------------
    def set_up(self):
        spark, times = sparkenv.set_up(self.root, SETUP_REPS, self.spans if self.trace else None)
        self.spark = spark
        self.metric("setup_s", median([a + b for a, b in times]), "s", len(times))
        self.layer("session.start_s", median([a for a, _ in times]), "s",
                   "get_spark() per set-up (the first also launches the JVM)")
        self.layer("session.warm_s", median([b for _, b in times]), "s", "fixed warm-up jobs")
        self.info("setup_reps_s", [round(a + b, 4) for a, b in times], "s",
                  "each set-up repetition (start + warm-up)")
        return spark

    def host_info(self, clock: sparkenv.HostClock, phase: str) -> None:
        steal, jit = clock.read()
        self.info(f"{phase}_steal_share", steal, "share",
                  f"host CPU time stolen by the hypervisor during the {phase} phase")
        self.info(f"{phase}_jit_s", jit, "s", f"driver JVM JIT compile time during the {phase} phase")

    def status(self) -> StatusApi:
        if self._status is None:
            self._status = StatusApi(self.spark)
        return self._status

    def generic_layers(self, stats, ops: list[tuple[list[dict], float]]) -> None:
        """Per-operation execution counters shared by every workload.
        ``ops`` pairs each timed operation's Spark jobs with its wall
        time."""
        c = stats.op_counters(ops, max(len(ops), 1), sparkenv.cores())
        self.layer("driver.self_s_per_op", c["self_s"], "s",
                   "operation wall time not covered by a running Spark job")
        self.layer("executor.jobs_per_op", c["jobs"], "count", "Spark jobs per operation")
        self.layer("executor.tasks_per_op", c["tasks"], "count", "tasks per operation")
        self.layer("executor.run_s_per_op", c["exec_s"], "s", "executor run time per operation")
        self.layer("executor.busy_share", c["busy_share"], "share",
                   "executor run time / (operation wall x cores)")
        self.layer("executor.shuffle_write_mb_per_op", c["shuffle_write_mb"], "MB",
                   "shuffle bytes written per operation")
        self.layer("sources.input_mb_per_op", c["input_mb"], "MB", "bytes scanned per operation")


# -- workloads -----------------------------------------------------------


def _catalog(run: Run) -> None:
    from perfbench import batch
    from perfbench.mixes import CATALOG_MIX

    batch.run_mix(run, CATALOG_MIX)


def _reactive(run: Run) -> None:
    from perfbench import reactive

    reactive.run_ticker(run)


WORKLOADS = {
    "reactive_ticker": _reactive,
    "catalog_mix": _catalog,
}


# -- report --------------------------------------------------------------


def _fmt(v) -> str:
    if v is None:
        return "-"
    if isinstance(v, float):
        return "inf" if math.isinf(v) else f"{v:.4f}"
    return str(v)


def report(run: Run, wall_s: float) -> None:
    out = {
        "workload": run.workload,
        "seed": run.seed,
        "seconds": run.seconds,
        "trace": int(run.trace),
        "cores": sparkenv.cores(),
        "wall_s": wall_s,
        "attempted": run.attempted,
        "failed": run.failed,
        "error_rate": run.failed / max(run.attempted, 1),
        "errors": run.errors,
        "end_to_end": run.metrics,
        "per_layer": run.layers,
        "info": run.extra,
    }
    os.makedirs(os.path.join(CHECKOUT, ".bench_out"), exist_ok=True)
    base = os.path.join(CHECKOUT, ".bench_out", f"{run.workload}-seed{run.seed}")
    if run.trace:
        try:
            with open(f"{base}-trace0.json") as f:
                untraced = json.load(f)["end_to_end"]
            out["tracing_overhead"] = {
                k: run.metrics[k]["value"] - untraced[k]["value"]
                for k in run.metrics
                if k in untraced
            }
        except (OSError, ValueError, KeyError):
            out["tracing_overhead"] = "no untraced report of this workload and seed"
        out["spans"] = run.spans.dump(run.spans.rows[0]["start"] if run.spans.rows else 0.0)
    with open(f"{base}-trace{int(run.trace)}.json", "w") as f:
        json.dump(out, f, indent=1, default=str)

    lines = [f"# {run.workload} seed={run.seed} seconds={run.seconds} trace={int(run.trace)} "
             f"cores={sparkenv.cores()} wall={wall_s:.1f}s"]
    lines.append(f"{'error_rate':34s} {_fmt(out['error_rate']):>12s} share  "
                 f"{run.failed}/{run.attempted} operations failed")
    for title, table in (("end-to-end", run.metrics), ("per-layer", run.layers),
                         ("other", run.extra)):
        lines.append(f"## {title}")
        for k, m in table.items():
            n = m.get("n")
            lines.append(f"{k:34s} {_fmt(m['value']):>12s} {m['unit']:6s} "
                         + (f"n={n} " if n is not None else "") + (m.get("note") or ""))
    if run.trace:
        lines.append(f"## tracing overhead: {out['tracing_overhead']}")
    for e in run.errors:
        lines.append(f"! {e}")
    print("\n".join(lines), flush=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    end_to_end, per_layer = benchmark_metrics()

    # Fail fast, before any work, when the package under test is absent.
    import reactive_data_pipeline_spark  # noqa: F401
    import reactive_data_pipeline_spark.queries  # noqa: F401

    t_start = time.perf_counter()
    root = sparkenv.scratch_root(CHECKOUT, f"{args.workload}-{args.seed}")
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), root)
    try:
        try:
            WORKLOADS[args.workload](run)
        except Exception as e:  # noqa: BLE001 - the run reports itself as failed
            traceback.print_exc()
            run.fail(f"run aborted: {type(e).__name__}: {e}")
        if run.spark is not None:
            jvm_rss = sparkenv.peak_rss_mb([sparkenv.jvm_pid(run.spark)])
            py_rss = sparkenv.peak_rss_mb([os.getpid()])
            run.metric("peak_rss_mb", jvm_rss + py_rss, "MB", 1)
            run.info("peak_rss_parts_mb", {"jvm": round(jvm_rss, 1), "python": round(py_rss, 1)},
                     "MB", "peak RSS of the driver JVM and of the Python process")
            heap = sparkenv.heap_peaks_mb(run.spark)
            run.info("heap_peaks_mb", {k: round(v, 1) for k, v in heap.items()}, "MB",
                     "peak used size of each driver heap pool")
            run.layer("jvm.old_gen_peak_mb", heap.get("G1 Old Gen"), "MB",
                      "peak used size of the driver's old generation")
    finally:
        if run.spark is not None:
            sparkenv.shut_down(run.spark)
        sparkenv.remove_root(root)

    wanted = per_layer if run.trace else end_to_end
    table = run.layers if run.trace else run.metrics
    metrics = {}
    for k, unit in wanted.items():
        if k in table and table[k]["value"] is not None:
            metrics[k] = {"value": printable(float(table[k]["value"])), "unit": unit}
    if len(metrics) < len(wanted):
        run.fail("missing metrics: " + ", ".join(k for k in wanted if k not in metrics))
    report(run, time.perf_counter() - t_start)
    result = {
        "correct": run.failed == 0,
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
