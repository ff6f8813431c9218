"""Local replica of the driver's correctness gate.

Runs every registered query on Spark AND its DuckDB oracle twin on the
same parquet tables, then compares row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted by
canonical string). If this passes at sf0.01, the driver's
CORRECTNESS_r{N}.json should pass too — the data and comparison are
deterministic.

Usage: python tools/check_correctness.py [sf_dir] [name_filter...]
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def canon(v) -> str:
    if v is None:
        return "\x00NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def result_fingerprint(cols: list[str], rows: list[tuple]):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon_rows = sorted("\x01".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for r in canon_rows:
        h.update(r.encode("utf-8", "replace"))
        h.update(b"\x02")
    return {
        "rows": len(rows),
        "cols": sorted(cols),
        "hash": h.hexdigest(),
        "sample": canon_rows[:3],
    }


def run_spark(spark, sf_dir, names):
    from data_engineer_project_spark.operators.cache import release_all
    from data_engineer_project_spark.queries import QUERIES

    out = {}
    for name in names:
        spec = QUERIES[name]
        t0 = time.time()
        df = spec.fn(spark, sf_dir)
        cols = df.columns
        rows = [tuple(r) for r in df.collect()]
        out[name] = (result_fingerprint(cols, rows), time.time() - t0)
        # per-call persist()s (dedup/simhash intermediates) would
        # otherwise accumulate across a 175-query session
        release_all()
    return out


def run_duck(sf_dir, names):
    from data_engineer_project_spark.queries import QUERIES

    con = duckdb.connect()
    for tname in TABLES:
        con.execute(
            f"CREATE VIEW {tname} AS SELECT * FROM '{sf_dir}/{tname}.parquet'"
        )
    out = {}
    for name in names:
        spec = QUERIES[name]
        if spec.oracle is None:
            out[name] = None
            continue
        t0 = time.time()
        cur = con.execute(spec.oracle)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        out[name] = (result_fingerprint(cols, rows), time.time() - t0)
    return out


def main():
    args = sys.argv[1:]
    prefix_n = None
    if "--prefix" in args:
        i = args.index("--prefix")
        prefix_n = int(args[i + 1])
        args = args[:i] + args[i + 2 :]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    filters = args[1:]

    from data_engineer_project_spark.queries import QUERIES

    if prefix_n is not None:
        # the driver gates the first N of queries() (gate order, see
        # __spark_entry__) — pre-flight exactly that slice (combinable
        # with name filters)
        from __spark_entry__ import queries

        names = [
            n for n in list(queries())[:prefix_n]
            if not filters or any(f in n for f in filters)
        ]
    else:
        names = [
            n for n in sorted(QUERIES)
            if not filters or any(f in n for f in filters)
        ]
    if os.environ.get("SPARK_GRAFT_PLAIN_SESSION"):
        # Driver simulation: a vanilla session with none of our build
        # conf — catches any query that silently depends on get_spark's
        # settings instead of the normalize_session runtime contract.
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("check-correctness-plain")
            .config("spark.sql.shuffle.partitions", "13")  # odd on purpose
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
    else:
        from data_engineer_project_spark.session import get_spark

        spark = get_spark("check-correctness")
    sres = run_spark(spark, sf_dir, names)
    dres = run_duck(sf_dir, names)

    n_pass = n_fail = n_rowsonly = 0
    for name in names:
        sfp, st = sres[name]
        d = dres[name]
        if d is None:
            status = "ROWS-ONLY"
            n_rowsonly += 1
            print(f"{status:10s} {name:42s} rows={sfp['rows']:<8d} spark={st:.2f}s")
            continue
        dfp, dt = d
        ok = sfp["hash"] == dfp["hash"]
        schema_ok = sfp["cols"] == dfp["cols"]
        rows_ok = sfp["rows"] == dfp["rows"]
        if ok:
            status = "PASS"
            n_pass += 1
        else:
            status = "FAIL"
            n_fail += 1
        print(
            f"{status:10s} {name:42s} rows={sfp['rows']}/{dfp['rows']}"
            f" cols={'ok' if schema_ok else 'MISMATCH'} spark={st:.2f}s duck={dt:.2f}s"
        )
        if not ok:
            if not schema_ok:
                print(f"    spark cols: {sfp['cols']}\n    duck  cols: {dfp['cols']}")
            if rows_ok and schema_ok:
                for a, b in zip(sfp["sample"], dfp["sample"]):
                    if a != b:
                        print(f"    spark: {a[:220]}\n    duck : {b[:220]}")
                        break
                else:
                    print(f"    spark sample: {sfp['sample'][:1]}")
                    print(f"    duck  sample: {dfp['sample'][:1]}")
    # Surface the tier tags in the sweep record: diagnostic queries are
    # output-quadratic audit contracts whose scale-safe defaults are
    # their production twins (QuerySpec.tier, round-10 verdict item 5).
    diag = {
        n: QUERIES[n].production_twin
        for n in names
        if QUERIES[n].tier == "diagnostic"
    }
    print(
        json.dumps(
            {
                "pass": n_pass,
                "fail": n_fail,
                "rows_only": n_rowsonly,
                "diagnostic_tier": diag,
            }
        )
    )
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
