"""Driver-contract robustness: the documented failure modes must stay
stable (bad sf_dir → AnalysisException, unknown table → KeyError), the
entry point must work on a plain foreign session, and every registered
oracle must be valid DuckDB SQL (parse check, no execution)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.errors.exceptions.captured import AnalysisException

import __spark_entry__ as E
from data_engineer_project_spark.queries import QUERIES
from data_engineer_project_spark.sources.registry import read_table
from tools.check_correctness import TABLES


def test_bad_sf_dir_raises_analysis_exception(spark):
    with pytest.raises(AnalysisException):
        QUERIES["q1_pricing_summary"].fn(spark, "/root/testdata/sf-nope").collect()


def test_unknown_table_raises_keyerror(spark):
    with pytest.raises(KeyError):
        read_table(spark, "/root/testdata/sf0.001", "not_a_table")


def test_entry_contract(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0 and df.columns[0] == "l_returnflag"
    q, o = E.queries(), E.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) == len(QUERIES)


def test_all_oracles_parse_in_duckdb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '/root/testdata/sf0.001/{t}.parquet'"
        )
    for name, spec in QUERIES.items():
        if spec.oracle is None:
            continue
        try:
            con.execute(f"EXPLAIN {spec.oracle}")
        except Exception as exc:  # pragma: no cover
            pytest.fail(f"oracle for {name} does not parse: {exc}")

