"""The benchmark's own work, run in a child interpreter: input generation
and the DuckDB oracles.

Keeping it out of the measured process leaves that process's peak RSS
to the program (the Spark driver, its py4j client and the results it
returns). Each job prints one JSON line on stdout::

    python3 -m perfbench.prepare tables <seed> <data_dir>
    python3 -m perfbench.prepare oracles <data_dir> <query>...
    python3 -m perfbench.prepare events <seed> <files> <rows_per_file> <out_dir>
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)

#: Longest a job may take before the run gives up on it.
TIMEOUT_S = 120


def tables(seed: int, data_dir: str) -> dict:
    from perfbench import inputs

    return {"rows": inputs.write_tables(seed, inputs.CATALOG_SCALE, data_dir)}


def oracles(data_dir: str, names: list[str]) -> dict:
    """Oracle hash of each named catalog query over ``data_dir``."""
    from perfbench import oracle
    from reactive_data_pipeline_spark.queries import QUERIES

    hashes, errors = {}, {}
    con = oracle.connect(data_dir)
    try:
        for name in names:
            try:
                hashes[name] = oracle.result_hash(con.sql(QUERIES[name].oracle).df())
            except Exception as e:  # noqa: BLE001 - reported as a failed check
                errors[name] = f"{type(e).__name__}: {e}"[:300]
    finally:
        con.close()
    return {"hashes": hashes, "errors": errors}


def events(seed: int, files: int, rows_per_file: int, out_dir: str) -> dict:
    """Write the reactive feed's first ``files`` event files as
    ``<out_dir>/<i>.parquet`` and hash the expected derived table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from perfbench import inputs, oracle

    os.makedirs(out_dir, exist_ok=True)
    feed = inputs.EventFeed(seed, inputs.FeedShape(rows_per_file=rows_per_file))
    parts = []
    for i in range(files):
        t = feed.next_file()
        pq.write_table(t, os.path.join(out_dir, f"{i}.parquet"))
        parts.append(t)
    return {
        "expected": oracle.expected_ticker_meta(pa.concat_tables(parts)),
        "injected_dups": feed.injected_dups,
    }


class Job:
    """One job in a child interpreter; :meth:`result` waits for it."""

    def __init__(self, *args) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.prepare", *map(str, args)],
            cwd=CHECKOUT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )

    def result(self) -> dict:
        try:
            out, err = self.proc.communicate(timeout=TIMEOUT_S)
        finally:
            if self.proc.poll() is None:
                self.proc.kill()
                self.proc.wait()
        if self.proc.returncode != 0:
            raise RuntimeError(f"prepare {self.proc.args[3:]} failed: {err.strip()[-500:]}")
        return json.loads(out.strip().splitlines()[-1])


def run(*args) -> dict:
    return Job(*args).result()


def main(argv: list[str]) -> int:
    job, rest = argv[0], argv[1:]
    if job == "tables":
        out = tables(int(rest[0]), rest[1])
    elif job == "oracles":
        out = oracles(rest[0], rest[1:])
    elif job == "events":
        out = events(int(rest[0]), int(rest[1]), int(rest[2]), rest[3])
    else:
        raise SystemExit(f"unknown job {job!r}")
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    if CHECKOUT not in sys.path:
        sys.path.insert(0, CHECKOUT)
    sys.exit(main(sys.argv[1:]))
