"""operators.graph: connected components — round structure measured by
Spark's own counters, and labels on degenerate edge sets."""

from __future__ import annotations

import uuid

import pytest

# A 2-round graph: round 1 already reaches the fixpoint (3 adopts 1
# through the pointer jump), round 2 confirms it.
_TWO_ROUND_PAIRS = [(1, 2), (2, 3), (10, 11)]
_TWO_ROUND_LABELS = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

# Most jobs one connected_components call on _TWO_ROUND_PAIRS ran over
# 12 calls on local[4] with 8 shuffle partitions (12-13 jobs; under AQE
# every exchange stage is a job, and whether a small stage is reused
# varies between runs). A checkpoint per round plus a checksum collect
# per round, from an identity-label table on, took 19.
_TWO_ROUND_MAX_JOBS = 13


def _labels(df) -> dict:
    return {r["node"]: r["component"] for r in df.collect()}


def _run_in_group(spark, fn):
    """Run ``fn`` under a fresh job group; return its result, the
    group's job ids and the SQL executions that ran those jobs."""
    sc = spark.sparkContext
    group = f"cc-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = {int(j) for j in sc.statusTracker().getJobIdsForGroup(group)}
    store = spark._jsparkSession.sharedState().statusStore()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    n = store.executionsCount()
    # the newest executions are this call's; 64 leaves ample room
    recent = conv.asJava(store.executionsList(max(0, n - 64), 64))
    execs = [
        ex for ex in recent
        if jobs & {int(j) for j in conv.asJava(ex.jobs().keySet())}
    ]
    return out, jobs, execs


def test_each_round_is_one_checkpoint_action(spark):
    """Every round is ONE SQL action — the eager checkpoint that also
    observes the convergence checksum — with no standalone checksum
    aggregate (a global ``HashAggregate``, ``Keys: []``) and no
    identity-label table before round 1."""
    from data_engineer_project_spark.operators import graph as G

    pairs = spark.createDataFrame(_TWO_ROUND_PAIRS, "doc_a bigint, doc_b bigint")
    labels, jobs, execs = _run_in_group(spark, lambda: G.connected_components(pairs))
    assert G.LAST_RUN_STATS == {"rounds": 2, "converged": True}
    assert len(execs) == 2, [ex.description() for ex in execs]
    for ex in execs:
        assert "Keys: []" not in ex.physicalPlanDescription()
    assert len(jobs) <= _TWO_ROUND_MAX_JOBS, sorted(jobs)
    assert _labels(labels) == _TWO_ROUND_LABELS


@pytest.mark.parametrize(
    "rows, pairs_unique, expected, rounds",
    [
        pytest.param([], True, {}, 2, id="empty"),
        # round 1 changes no label, so convergence shows at round 2
        pytest.param([(5, 5), (7, 7), (5, 5)], False, {5: 5, 7: 7}, 2, id="self-loops"),
        pytest.param(
            [(1, 2), (2, 1), (1, 2), (3, 3), (2, 3)], False,
            {1: 1, 2: 1, 3: 1}, 2, id="duplicates",
        ),
        pytest.param([(9, 4)], True, {4: 4, 9: 4}, 2, id="single-edge"),
    ],
)
def test_degenerate_pair_sets(spark, rows, pairs_unique, expected, rounds):
    from data_engineer_project_spark.operators import graph as G

    pairs = spark.createDataFrame(rows, "doc_a bigint, doc_b bigint")
    got = _labels(G.connected_components(pairs, pairs_unique=pairs_unique))
    assert got == expected
    assert G.LAST_RUN_STATS == {"rounds": rounds, "converged": True}


def test_caller_persisted_pairs_stay_persisted(spark):
    """A pair set the caller persisted is read, never unpersisted."""
    from data_engineer_project_spark.operators import graph as G

    pairs = spark.createDataFrame(
        _TWO_ROUND_PAIRS, "doc_a bigint, doc_b bigint"
    ).persist()
    try:
        pairs.count()
        assert _labels(G.connected_components(pairs, pairs_unique=True)) == _TWO_ROUND_LABELS
        assert G.LAST_RUN_STATS["converged"]
        assert pairs.storageLevel.useMemory
    finally:
        pairs.unpersist()


def test_from_edges_without_e_src_partitioning(spark):
    """The prebuilt-edge entry point is correct on an edge set that is
    neither persisted nor hash-partitioned by ``e_src``."""
    from pyspark.sql import functions as F

    from data_engineer_project_spark.operators import graph as G

    both = _TWO_ROUND_PAIRS + [(b, a) for a, b in _TWO_ROUND_PAIRS]
    und = spark.createDataFrame(both, "e_src bigint, e_dst bigint").repartition(
        3, F.col("e_dst")
    )
    assert _labels(G.connected_components_from_edges(und)) == _TWO_ROUND_LABELS
    assert G.LAST_RUN_STATS == {"rounds": 2, "converged": True}


def test_mixed_integral_id_types(spark):
    """Endpoints of different integral types widen to one edge type."""
    from data_engineer_project_spark.operators import graph as G

    pairs = spark.createDataFrame(_TWO_ROUND_PAIRS, "doc_a int, doc_b bigint")
    assert _labels(G.connected_components(pairs)) == _TWO_ROUND_LABELS
