"""Every registered query must hash-match its DuckDB oracle twin.

This replicates the driver's t2 gate (row count + column names +
order-insensitive value hash) at smoke scale so regressions surface in
pytest before the driver runs.

Lane split (r15): the full ~324-query sweep takes ~8 minutes alone —
the single largest block of the suite — which broke the driver's
verification window (r14 verdict item 2). The DEFAULT lane keeps every
bench slot, every spot-check slot, and the operator families the
recent optimization rounds touched (~60 queries); the remaining
queries are marked ``slow`` and run with ``-m slow`` (the driver's own
DuckDB gate independently re-proves a rotating sample of the whole
registry every round, so default-lane pytest is a pre-driver smoke
check, not the only oracle net). No query is removed from the sweep.
"""

from __future__ import annotations

import duckdb
import pytest

from bench import BENCH_QUERIES, SPOT_CHECK_QUERIES
from tools.check_correctness import TABLES, result_fingerprint

from data_engineer_project_spark.queries import QUERIES

# Operator families touched by the r14/r15 optimization rounds, and
# queries whose bodies changed since — their members stay in the
# default oracle lane until a quiet round passes.
_RECENTLY_TOUCHED = {
    "d13_embedding_near_dup",
    "d16_ann_recall",
    "d20_dedup_clusters",
    "d26_quality_survivor",
    "d29_minhash_estimator_quality",
    "d31_semantic_decontamination",
    "d34_containment_dedup",
    "d38_curation_containment",
    "d65_neardup_doc_clusters",
    "d82_ivfpq_recall",
    "d86_knn_label_probe",
    "d94_chunk_retrieval_eval",
    "d96_dedup_threshold_calibration",
    "d100_incremental_neardup_ingest",
    "m10_image_neardup_clusters",
    "m15_real_container_decode",
    "s24_stream_neardup_probe",
    "s25_stream_cluster_maintenance",
}

_DEFAULT_LANE = set(BENCH_QUERIES) | set(SPOT_CHECK_QUERIES) | _RECENTLY_TOUCHED
# A lane name that is not registered would silently run nothing.
_UNKNOWN = sorted(_DEFAULT_LANE - set(QUERIES))
if _UNKNOWN:
    raise ValueError(f"default oracle lane names unregistered queries: {_UNKNOWN}")

_PARAMS = [
    name
    if name in _DEFAULT_LANE
    else pytest.param(name, marks=pytest.mark.slow)
    for name in sorted(QUERIES)
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", _PARAMS)
def test_query_matches_oracle(name, spark, sf_dir, duck):
    spec = QUERIES[name]
    df = spec.fn(spark, sf_dir)
    sfp = result_fingerprint(df.columns, [tuple(r) for r in df.collect()])
    if spec.oracle is None:
        assert sfp["rows"] >= 0  # rows-only contract: runs and is stable
        return
    cur = duck.execute(spec.oracle)
    dfp = result_fingerprint([d[0] for d in cur.description], cur.fetchall())
    assert sfp["cols"] == dfp["cols"], f"{name}: column mismatch"
    assert sfp["rows"] == dfp["rows"], f"{name}: row count mismatch"
    assert sfp["hash"] == dfp["hash"], (
        f"{name}: value hash mismatch\nspark sample: {sfp['sample']}\n"
        f"duck sample: {dfp['sample']}"
    )
