"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query on sf0.001;
``queries()`` exposes every implemented operator from SURVEY.md §2 as
(spark, sf_dir) -> DataFrame; ``oracle_sql()`` gives each one's
DuckDB-runnable ANSI-SQL twin for the correctness gate.

Driver gate order: the driver checks a prefix of ``queries()`` each
round and records the results in ``CORRECTNESS_r<NN>.json`` next to
this file. ``queries()`` reads those files when it is called and orders
names by one key, ``gate_order``: the latest round in which a name was
green, oldest first (never green counts as round 0); ties keep registry
order. The engine package does not read round files; its ``QUERIES``
stays in registration order.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from data_engineer_project_spark.queries import QUERIES

_ROUND_DIR = Path(__file__).resolve().parent


def _green(res: object) -> bool:
    """A hash-checked match, or a rows-only query (``no_oracle``) that
    ran and recorded a row count (0 rows still counts)."""
    if not isinstance(res, dict):
        return False
    return (
        res.get("err") is None
        and res.get("rows_match", False)
        and res.get("schema_match", True) is not False
        and res.get("hash_match", True) is not False
    ) or (res.get("err") == "no_oracle" and res.get("spark_rows") is not None)


def read_rounds(root: Path) -> dict[int, dict]:
    """``{round: {name: result}}`` from ``root/CORRECTNESS_r*.json``.
    The files come from outside the program, so an unreadable file, a
    non-numeric round or a non-dict root is skipped."""
    rounds: dict[int, dict] = {}
    for f in sorted(Path(root).glob("CORRECTNESS_r*.json")):
        try:
            rnd = int(f.stem.split("_r")[-1])
            recorded = json.loads(f.read_text())
        except (OSError, ValueError):
            continue
        if isinstance(recorded, dict):
            rounds[rnd] = recorded
    return rounds


def gate_order(names: Iterable[str], rounds: dict[int, dict]) -> list[str]:
    """``names`` sorted by the latest round in which each was green,
    oldest first; a never-green name counts as round 0. The sort is
    stable, so ties keep the order of ``names``."""
    last: dict[str, int] = {}
    for rnd, recorded in rounds.items():
        for name, res in recorded.items():
            if _green(res) and rnd > last.get(name, 0):
                last[name] = rnd
    return sorted(names, key=lambda n: last.get(n, 0))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 pricing summary) on /root/testdata/sf0.001."""
    return QUERIES["q1_pricing_summary"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in driver
    gate order (see ``gate_order``)."""
    order = gate_order(QUERIES, read_rounds(_ROUND_DIR))
    return {name: QUERIES[name].fn for name in order}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle twin for each query (omitted → rows-only check)."""
    return {
        name: spec.oracle for name, spec in QUERIES.items() if spec.oracle is not None
    }
