"""Driver gate order (``__spark_entry__.gate_order`` / ``queries()``).

The driver checks a prefix of ``queries()`` each round. The order has
one key: the latest round in which a name was green, oldest first, with
never-green names at round 0 and ties in registry order. Every test
here runs on synthetic round data, never on the live round files.
"""

from __future__ import annotations

import json
import math
import subprocess
import sys
from pathlib import Path

import __spark_entry__ as E
from data_engineer_project_spark.queries import QUERIES

GREEN = {"err": None, "rows_match": True, "schema_match": True, "hash_match": True}
RED = {"err": None, "rows_match": True, "schema_match": True, "hash_match": False}
SLOTS = 50  # the driver's per-round sample


def test_stalest_green_first():
    rounds = {3: {"a": GREEN, "b": GREEN}, 7: {"a": GREEN}, 5: {"c": GREEN}}
    assert E.gate_order(["a", "b", "c"], rounds) == ["b", "c", "a"]


def test_ties_keep_registry_order():
    rounds = {4: {n: GREEN for n in ("z", "m", "a")}}
    assert E.gate_order(["z", "m", "a"], rounds) == ["z", "m", "a"]
    assert E.gate_order(["a", "z", "m"], rounds) == ["a", "z", "m"]


def test_never_green_names_first():
    rounds = {1: {"old": GREEN, "bad": RED}}
    order = E.gate_order(["old", "new", "bad"], rounds)
    assert order == ["new", "bad", "old"]


def test_red_latest_round_does_not_count():
    rounds = {2: {"a": GREEN, "b": GREEN}, 9: {"a": RED}, 5: {"b": GREEN}}
    assert E.gate_order(["b", "a"], rounds) == ["a", "b"]
    # every non-green shape is red: err set, rows/schema mismatch,
    # rows_match missing, no_oracle without a row count, a non-dict
    for res in (
        {"err": "boom", "rows_match": True},
        {"err": None, "rows_match": False},
        {"err": None, "rows_match": True, "schema_match": False},
        {"err": None},
        {"err": "no_oracle", "spark_rows": None},
        ["oops"],
    ):
        assert E.gate_order(["b", "a"], {1: {"a": GREEN}, 3: {"a": res}}) == [
            "b",
            "a",
        ], res


def test_no_oracle_with_rows_counts_as_green():
    rounds = {6: {"r": {"err": "no_oracle", "spark_rows": 0}}}
    assert E.gate_order(["r", "x"], rounds) == ["x", "r"]


def _write(root: Path, name: str, payload) -> None:
    (root / name).write_text(
        payload if isinstance(payload, str) else json.dumps(payload)
    )


def test_read_rounds_skips_malformed_files(tmp_path):
    _write(tmp_path, "CORRECTNESS_r01.json", {"a": GREEN, "b": "not-a-dict"})
    _write(tmp_path, "CORRECTNESS_r02.json", ["oops"])  # list-rooted
    _write(tmp_path, "CORRECTNESS_r03.json", "{truncated")  # not JSON
    _write(tmp_path, "CORRECTNESS_rXX.json", {"c": GREEN})  # no round
    _write(tmp_path, "CORRECTNESS_r12.json", {"c": GREEN})
    rounds = E.read_rounds(tmp_path)
    assert sorted(rounds) == [1, 12]
    assert E.gate_order(["c", "b", "a"], rounds) == ["b", "a", "c"]


def test_queries_reads_round_files_at_call_time(tmp_path, monkeypatch):
    names = list(QUERIES)
    monkeypatch.setattr(E, "_ROUND_DIR", tmp_path)
    assert list(E.queries()) == names  # no round files: registry order
    _write(tmp_path, "CORRECTNESS_r01.json", {names[0]: GREEN})
    assert list(E.queries()) == names[1:] + names[:1]


def test_every_name_covered_within_ceil_n_over_50_rounds():
    """Simulate the driver: each round greens the first 50 names of the
    current order. Starting from a mixed history (greens, reds and
    never-seen names), every name is in some round's prefix within
    ⌈N/50⌉ rounds."""
    names = [f"x{i:03d}" for i in range(324)]
    rounds: dict[int, dict] = {
        r: {
            n: (GREEN if (i * 7 + r) % 5 else RED)
            for i, n in enumerate(names)
            if i % 10 and (i * 13 + r) % 4  # every 10th never appears
        }
        for r in range(1, 16)
    }
    seen: set[str] = set()
    n_rounds = math.ceil(len(names) / SLOTS)
    for r in range(16, 16 + n_rounds):
        prefix = E.gate_order(names, rounds)[:SLOTS]
        seen.update(prefix)
        rounds[r] = {n: GREEN for n in prefix}
    assert seen == set(names), sorted(set(names) - seen)[:10]


def test_package_import_reads_no_round_files_and_keeps_registration_order():
    code = (
        "import sys\n"
        "opened = []\n"
        "sys.addaudithook(lambda ev, args: opened.append(str(args[0]))"
        " if ev == 'open' else None)\n"
        "from data_engineer_project_spark.queries import QUERIES\n"
        "print(any('CORRECTNESS_r' in p for p in opened))\n"
        "print(next(iter(QUERIES)))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        check=True,
        timeout=300,
        cwd=Path(E.__file__).resolve().parent,
    ).stdout.split()
    # tpch registers first, and q1 is its first query
    assert out == ["False", "q1_pricing_summary"]
