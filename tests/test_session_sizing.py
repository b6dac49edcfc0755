"""Local session sizing from the host (no JVM is started here)."""

from __future__ import annotations

import os

import pytest

from reactive_data_pipeline_spark.session import (
    MAX_LOCAL_HEAP_MB,
    local_cores,
    local_heap,
)


def _mb(jvm_size: str) -> int:
    assert jvm_size.endswith("m")
    return int(jvm_size[:-1])


def _mem_total_kb(meminfo: str) -> int:
    with open(meminfo) as f:
        return next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))


@pytest.mark.parametrize("gib", [1, 2, 15, 31, 32, 64, 512])
def test_local_heap_is_half_of_mem_total_capped(tmp_path, gib):
    meminfo = tmp_path / "meminfo"
    kb = gib * 1024 * 1024
    meminfo.write_text(f"MemTotal:       {kb} kB\nMemFree:        1024 kB\n")
    heap_mb = _mb(local_heap(str(meminfo)))
    assert heap_mb * 1024 <= kb
    assert heap_mb == min(kb // 2048, MAX_LOCAL_HEAP_MB)


@pytest.mark.skipif(not os.path.exists("/proc/meminfo"), reason="no /proc/meminfo")
def test_local_heap_fits_this_host():
    assert _mb(local_heap()) * 1024 <= _mem_total_kb("/proc/meminfo")


def test_local_cores_is_the_affinity_set():
    n = local_cores()
    assert n >= 1
    if hasattr(os, "sched_getaffinity"):
        assert n == len(os.sched_getaffinity(0))
