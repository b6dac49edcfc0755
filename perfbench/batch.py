"""Closed-loop batch workload: one client runs the catalog query mix
pass after pass.

Per run:

1. generate the input tables from the seed (in a child process);
2. set up the session (repeated, see ``sparkenv.set_up``);
3. untimed check pass: every query in the mix once, collected and
   hashed, compared with its DuckDB oracle hash (computed in a child
   process meanwhile); it pays each query's cold start. One untimed
   warm-up pass follows;
4. ``--seconds / PASS_S`` timed whole passes, the order within each
   pass shuffled by the seed. A timed query runs from ``build()`` until
   its result is drained through the noop sink. ``latency_s`` is the
   geometric mean over the mix of each query's median latency.
"""

from __future__ import annotations

import random
import time

from . import oracle, prepare, sparkenv
from .mixes import EXEC_LAYERS
from .stats import FAILED, geomean, median


def _drain(df) -> None:
    df.write.format("noop").mode("overwrite").save()


#: Client threads of the untimed check pass. The pass is mostly cold
#: start (code generation, JIT, Python workers); overlapping queries
#: shortens it without touching anything that is timed.
CHECK_CLIENTS = 3


def check_pass(run, spark, names: list[str], data_dir: str) -> dict[str, int]:
    """Run each query once, untimed, and compare it with its oracle (a
    child interpreter computes the oracle hashes meanwhile). Returns
    output row counts by query (the traced run's yield numerator)."""
    from concurrent.futures import ThreadPoolExecutor

    from reactive_data_pipeline_spark.queries import QUERIES

    def collect(name: str):
        pdf = QUERIES[name].build(spark, data_dir).toPandas()
        return len(pdf), oracle.result_hash(pdf)

    oracles = prepare.Job("oracles", data_dir, *names)
    try:
        with ThreadPoolExecutor(CHECK_CLIENTS, thread_name_prefix="check") as pool:
            futures = {name: pool.submit(collect, name) for name in names}
    finally:
        expected = oracles.result()
    rows: dict[str, int] = {}
    for name, fut in futures.items():
        run.attempted += 1
        try:
            rows[name], got = fut.result()
        except Exception as e:  # noqa: BLE001 - a failed query is a counted failure
            run.fail(f"check {name}: {type(e).__name__}: {e}")
            continue
        if name in expected["errors"]:
            run.fail(f"oracle {name}: {expected['errors'][name]}")
        elif got != expected["hashes"][name]:
            run.fail(f"check {name}: result differs from its DuckDB oracle")
    return rows


def warm_pass(run, spark, names: list[str], data_dir: str) -> None:
    """One untimed closed-loop pass after the check pass: the JIT keeps
    compiling the hot paths for several passes after their first run.
    Without it, ten seeds on a quiet host spread ``pass_s`` by 0.12 and
    ``latency_s`` by 0.14; with it, by 0.09 and 0.09."""
    from reactive_data_pipeline_spark.queries import QUERIES

    for name in random.Random(-run.seed).sample(names, len(names)):
        try:
            _drain(QUERIES[name].build(spark, data_dir))
        except Exception as e:  # noqa: BLE001 - failures are counted in the timed passes
            run.info(f"warm_error.{name}", None, "-", f"{type(e).__name__}: {e}"[:200])


#: Nominal pass length on a quiet 4-vCPU host; a run measures
#: ``--seconds / PASS_S`` whole passes (at least one) and reports their
#: median. A fixed count keeps every run's sample the same mix at the same
#: point of JVM warm-up: cutting at a deadline made the count flip between
#: 2 and 3 with host speed, and the third, warmer pass moved the median
#: query latency by ~30%.
PASS_S = 7.0


def timed_passes(run, spark, names: list[str], data_dir: str):
    """Closed loop of whole passes. Returns per-pass wall times and the
    per-query samples ``(pass, name, seconds)``."""
    from reactive_data_pipeline_spark.queries import QUERIES

    sc = spark.sparkContext
    order_rng = random.Random(run.seed)
    passes: list[float] = []
    samples: list[tuple[int, str, float]] = []
    for p in range(max(1, round(run.seconds / PASS_S))):
        order = list(names)
        order_rng.shuffle(order)
        t_pass = time.perf_counter()
        for name in order:
            run.attempted += 1
            op = f"{p}:{name}"
            t0 = time.perf_counter()
            try:
                if run.trace:
                    sc.setJobGroup(op, name)
                df = QUERIES[name].build(spark, data_dir)
                t1 = time.perf_counter()
                if run.trace:
                    df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                _drain(df)
                t3 = time.perf_counter()
            except Exception as e:  # noqa: BLE001 - a failed query is a counted failure
                run.fail(f"pass {p} {name}: {type(e).__name__}: {e}")
                samples.append((p, name, FAILED))
                continue
            samples.append((p, name, t3 - t0))
            if run.trace:
                sid = run.spans.add("query", t0, t3, op=op, query=name)
                run.spans.add("queries.build", t0, t1, op=op, parent=sid)
                run.spans.add("queries.plan", t1, t2, op=op, parent=sid)
                run.spans.add("query.drain", t2, t3, op=op, parent=sid)
        passes.append(time.perf_counter() - t_pass)
    if run.trace:
        sc.setJobGroup("perfbench", "after the timed passes")
    return passes, samples


def layer_metrics(run, mix: dict[str, str], samples, passes, rows) -> None:
    """Per-layer numbers of the traced run, from the spans and Spark's
    status API."""
    n_pass = len(passes)
    ok = [(p, name, s) for p, name, s in samples if s != FAILED]
    stats = run.status().snapshot()

    per_pass = lambda name: [  # noqa: E731
        sum(r["end"] - r["start"] for r in run.spans.rows
            if r["name"] == name and r["op"].startswith(f"{p}:"))
        for p in range(n_pass)
    ]
    run.layer("queries.build_s", median(per_pass("queries.build")), "s",
              "CatalogQuery.build time per pass (median over passes)")
    run.layer("queries.plan_s", median(per_pass("queries.plan")), "s",
              "forcing the executed plan after build, per pass")
    run.layer("sources.list_s", None, "s",
              "not measured on batch mixes: tables are listed once per session by the scan memo")

    ops = [(stats.jobs_in({f"{p}:{name}"}), s, name) for p, name, s in ok]
    for layer in EXEC_LAYERS:
        mine = [(jobs, s) for jobs, s, name in ops if mix[name] == layer]
        if not mine:
            run.layer(f"{layer}.exec_s", None, "s", "layer not in this mix")
            continue
        c = stats.op_counters(mine, n_pass, sparkenv.cores())
        out_rows = sum(rows.get(name, 0) for _, _, name in ops if mix[name] == layer) / n_pass
        for key, unit, note in LAYER_COUNTERS:
            run.layer(f"{layer}.{key}", c[key], unit, note)
        run.layer(f"{layer}.yield",
                  out_rows / c["shuffle_records"] if c["shuffle_records"] else None,
                  "ratio", "output rows / shuffle records")

    run.generic_layers(stats, [(jobs, s) for jobs, s, _ in ops])
    run.layer("streaming.*", None, "-", "no streaming query runs on this workload")


#: Execution counters reported per layer of the mix, per timed pass.
LAYER_COUNTERS = (
    ("exec_s", "s", "executor run time per pass"),
    ("tasks", "count", "tasks per pass"),
    ("shuffle_write_mb", "MB", "shuffle bytes written per pass"),
    ("shuffle_records", "count", "shuffle records written per pass"),
    ("spill_mb", "MB", "memory + disk spill per pass"),
    ("gc_s", "s", "task GC time per pass"),
    ("busy_share", "share", "executor run time / (query wall x cores)"),
    ("failed_tasks", "count", "failed task attempts per pass"),
)


def run_mix(run, mix: dict[str, str]) -> None:
    data_dir = f"{run.root}/data"
    t0 = time.perf_counter()
    prepare.run("tables", run.seed, data_dir)
    run.info("inputs_s", time.perf_counter() - t0, "s", "input generation (child process)")

    spark = run.set_up()
    names = list(mix)
    t0 = time.perf_counter()
    rows = check_pass(run, spark, names, data_dir)
    run.info("check_pass_s", time.perf_counter() - t0, "s",
             "untimed check pass (oracle overlapped in a child process)")

    t0 = time.perf_counter()
    warm_pass(run, spark, names, data_dir)
    run.info("warm_pass_s", time.perf_counter() - t0, "s", "untimed warm-up pass")

    clock = sparkenv.HostClock(spark)
    passes, samples = timed_passes(run, spark, names, data_dir)
    run.host_info(clock, "timed")
    run.metric("pass_s", median(passes), "s", len(passes))
    run.latency([s for _, _, s in samples], "query")
    per_query = {name: median([s for _, n, s in samples if n == name]) for name in names}
    for name, m in per_query.items():
        run.info(f"query.{name}_s", m, "s", "median latency", len(passes))
    run.metric("latency_s", geomean(list(per_query.values())), "s", len(samples))
    if run.trace:
        layer_metrics(run, mix, samples, passes, rows)
