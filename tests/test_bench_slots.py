"""bench.py slot selection: ``SPARK_GRAFT_BENCH_ONLY`` prefixes resolve
to bench slots, and a prefix that matches no slot fails before any
Spark session starts instead of producing a headline with no slots."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

import bench

REPO = Path(bench.__file__).resolve().parent


def test_unmatched_prefix_fails_before_spark_starts():
    # get_spark is replaced with a function that fails loudly, so the
    # run proves the slot check happens before any session exists.
    code = (
        "import bench\n"
        "def no_spark(*a, **k):\n"
        "    raise SystemExit('get_spark called')\n"
        "bench.get_spark = no_spark\n"
        "bench.main()\n"
    )
    env = dict(os.environ, SPARK_GRAFT_BENCH_ONLY="q1,zz_no_such_slot,yy_none")
    env.pop("SPARK_GRAFT_BENCH_INCLUDE_SPOT", None)
    proc = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=REPO,
        env=env,
    )
    assert proc.returncode != 0
    assert "get_spark called" not in proc.stderr
    assert "ValueError" in proc.stderr
    assert "['zz_no_such_slot', 'yy_none']" in proc.stderr


def test_prefixes_select_matching_slots():
    assert bench.select_slots("", False) == bench.BENCH_QUERIES
    assert bench.select_slots(" q1, hq06 ", False) == [
        "q1_pricing_summary",
        "hq06_billed_allowed_paid_by_plan",
    ]
    with pytest.raises(ValueError, match="m21"):
        bench.select_slots("m21", False)


def test_spot_lane_prefixes_resolve():
    """tools/spot_lane.py runs bench.py with these two settings."""
    assert bench.select_slots("d74,m10", True) == bench.SPOT_CHECK_QUERIES
