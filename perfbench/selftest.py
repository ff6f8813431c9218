"""Checks of the benchmark itself.

    python3 perfbench/selftest.py

- two writes of the corpus give identical bytes;
- an unknown op name aborts a run before anything is measured;
- ``scaled_oracle`` re-renders a registered healthcare oracle exactly
  (identity at the fixture's default 12 members);
- at 12 members, where the registered DuckDB oracles apply unchanged,
  every ``dw_refresh`` query op and the ``etl_write`` output match them.
Exits non-zero on the first failure.
"""

from __future__ import annotations

import hashlib
import os
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import run as bench  # noqa: E402
from datagen import write_corpus  # noqa: E402


def check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        sys.exit(1)


def digest(d: str) -> str:
    h = hashlib.sha256()
    for p in sorted(Path(d).glob("*.parquet")):
        h.update(p.read_bytes())
    return h.hexdigest()


def main() -> None:
    with tempfile.TemporaryDirectory(dir=bench.REPO) as tmp:
        write_corpus(f"{tmp}/a")
        write_corpus(f"{tmp}/b")
        check(digest(f"{tmp}/a") == digest(f"{tmp}/b"), "the corpus is deterministic")

    bench.WORKLOADS["selftest_unknown"] = [("no_such_op", "read")]
    run = bench.Run("selftest_unknown", 0, 1, False)
    try:
        run.resolve_ops()
        check(False, "unknown op aborts the run")
    except SystemExit as e:
        check("no_such_op" in str(e), "unknown op aborts the run")
    del bench.WORKLOADS["selftest_unknown"]

    import duckdb

    from data_engineer_project_spark import fixtures
    from data_engineer_project_spark.queries import QUERIES
    from data_engineer_project_spark.session import get_spark

    hq_ops = [n for n, _ in bench.WORKLOADS["dw_refresh"] if n.startswith("hq")]
    for name in hq_ops:
        oracle = QUERIES[name].oracle
        check(
            bench.scaled_oracle(oracle, fixtures.DEFAULT_MEMBERS) == oracle,
            f"{name}: scaled oracle at 12 members is the registered oracle",
        )

    # The registered oracles inline the 12-member fixture.
    bench.HC_MEMBERS = fixtures.DEFAULT_MEMBERS
    os.environ["SPARK_GRAFT_HC_MEMBERS"] = str(fixtures.DEFAULT_MEMBERS)
    os.environ["SPARK_GRAFT_CPUS"] = str(bench.CPUS)
    spark = get_spark("perfbench-selftest")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        run = bench.Run("dw_refresh", 0, 1, False)
        run.spark = spark
        run.resolve_ops()
        from data_engineer_project_spark.queries import healthcare

        run.src = healthcare.hc(run._tables())
        got = {}
        for name, _ in run.ops:
            out, _secs = run.run_op(name)
            got[name] = run.observe(name, out)
        expected = bench.oracle_expectations(run)
        with duckdb.connect() as con:
            for name in hq_ops:
                registered = bench.fingerprint(con.execute(QUERIES[name].oracle))
                check(expected[name] == registered, f"{name}: expectation is the registered oracle")
        for name, rec in got.items():
            rec.update(op=name, error=None)
            check(bench.op_ok(rec, expected), f"{name}: output matches its oracle at 12 members")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
