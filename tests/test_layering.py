"""Source guards that keep the reactive layer's shared decisions in one
module (no Spark session needed)."""

from __future__ import annotations

from pathlib import Path

import pytest

PACKAGE = Path(__file__).resolve().parent.parent / "reactive_data_pipeline_spark"
HOME = PACKAGE / "streaming" / "merge_util.py"


@pytest.mark.parametrize("token", [".trigger(", "partitionOverwriteMode"])
def test_trigger_and_overwrite_mode_live_only_in_merge_util(token):
    """Query triggers go through ``merge_util.start_stream`` and dynamic
    partition overwrites through ``merge_util.overwrite_partitions``."""
    offenders = [
        f"{path.relative_to(PACKAGE.parent)}:{i}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != HOME
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if token in line
    ]
    assert offenders == []
    assert token in HOME.read_text()
