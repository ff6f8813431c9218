"""Connected components over a pair/edge list — the step that turns
near-duplicate PAIRS (MinHash-LSH / SimHash output) into duplicate
CLUSTERS with one canonical survivor each. Spark has no graph operator
in the DataFrame API; this is iterative min-label propagation built
from joins + aggregates (SURVEY custom-operator tier (a)).

Each iteration does two label moves: (1) every node takes the minimum
label among itself and its neighbors (one equi-join + one groupBy-min,
plain shuffles on the node key), then (2) POINTER JUMPING — every node
replaces its label with its label's label (labels are node ids, so one
more self-join; labels only ever decrease). Step 2 doubles the
distance a minimum has travelled, so convergence needs O(log diameter)
rounds instead of O(diameter) — the same idea as Kiveris et al.'s
large-star/small-star alternation ("Connected Components in MapReduce
and Beyond", SoCC'14) and classic PRAM path halving. Hamming-chain
near-dup graphs (m10) reach diameters in the tens where plain
propagation would exhaust its round budget and silently mislabel;
with jumping, 20 rounds cover any diameter up to ~2²⁰, and running
out anyway RAISES rather than returning unconverged labels.

Cost model: under AQE every exchange runs as a Spark job of its own
when a plan executes, so on bench-scale graphs a round costs its jobs,
not its data (~0.9 s per round on d99's ~60-edge graph with two
actions per round). Even ``localCheckpoint(eager=False)`` runs all of
a round's shuffle stages when it is called, and a checksum
``collect()`` after it would be a second action of two more jobs. So
each round is ONE action: its label table is checkpointed eagerly, and
the exact ``decimal(38,0)`` label sum — the convergence probe,
strictly monotone until the fixpoint because labels only decrease —
rides on that action as an ``Observation`` (after a lazy checkpoint
Spark 4.1 reports the observed sum as None). Round 1 needs no
identity-label table: it is the edge table's own
``groupBy(e_src).min(e_dst)``. Convergence is tested from round 2 on,
so an edge set whose round 1 changes no label (empty, or self-loops
only) reports 2 rounds.

Shuffle layout (guide §2.4): the undirected edge set is
hash-partitioned by ``e_src`` ONCE, up front, and persisted that way.
Round 1's groupBy and every later round's neighbor join reuse that
partitioning — only the node-sized label table moves per round. The
dedup costs no exchange of its own: ``repartition(e_src)`` followed by
``dropDuplicates([e_src, e_dst])`` plans the aggregate on the existing
partitioning because hash(e_src) already clusters equal (e_src, e_dst)
rows. Callers whose pair set has no duplicate unordered pairs, no
self-loops and one orientation per pair by construction (verified
near-dup pairs) pass ``pairs_unique=True`` and skip the dedup aggregate
entirely — the mirrored edges of such pairs cannot contain duplicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from data_engineer_project_spark.operators import plancap

# Diagnostics of the most recent connected_components call (rounds
# taken, converged flag). The loop's cost model is O(log diameter)
# rounds — scale tooling (tools/scale_stress.py, tests) reads this to
# assert the logarithmic claim empirically instead of trusting the
# docstring. Overwritten per call; no extra Spark actions.
LAST_RUN_STATS: dict = {}

_INTEGRAL_ID_TYPES = ("byte", "short", "integer", "long", "decimal")


def _require_integral_ids(df: DataFrame, cols) -> None:
    # The convergence probe sums labels as decimal; a non-numeric id
    # type would cast to NULL, make every checksum None, and stop the
    # loop after round 2 with wrong components. Enforce the contract
    # instead of silently mislabeling (string ids: map to dense ints
    # first, e.g. xxhash64 or a zipWithIndex-style dimension).
    for col in cols:
        id_type = df.schema[col].dataType.typeName()
        if id_type not in _INTEGRAL_ID_TYPES:
            raise ValueError(
                f"connected_components requires integral node ids, got "
                f"{id_type} for {col!r}"
            )


def connected_components_from_edges(
    und: DataFrame, max_iter: int = 20
) -> DataFrame:
    """Min-label propagation over a PREBUILT undirected edge set —
    the shared-exchange entry point for callers that already hold the
    mirrored edge table for their own use (d89/d74 reuse it across
    the PageRank rounds, so building it twice would double the edge
    materialization).

    ``und`` must have columns ``e_src``/``e_dst`` with BOTH directions
    of every edge present; duplicate rows cost work but do not change
    the labels. It should be persisted by the caller (round 1 reads it
    and later rounds join it; this function never unpersists it) and
    ideally hash-partitioned by ``e_src``, so that round 1 and the
    per-round neighbor join add no edge-set exchange. Each round runs
    one Spark action. Returns (node, component).
    """
    _require_integral_ids(und, ("e_src", "e_dst"))
    # plan-audit hook: the edge pipeline is consumed HERE, inside the
    # loop-at-build operator, so this is where its plan is visible
    plancap.grab("cc input pair join", und)

    # round 1 straight off the edge table: every node's identity label
    # against its neighbors' ids (und is symmetric, so the neighbors of
    # e_src are its e_dst values)
    hop = und.groupBy("e_src").agg(F.min("e_dst").alias("m")).select(
        F.col("e_src").alias("node"), F.least("e_src", "m").alias("comp")
    )
    labels = prev = None
    converged = False
    rounds = 0
    while rounds < max_iter:
        rounds += 1
        if labels is not None:
            neighbor = und.join(labels, und.e_src == labels.node).select(
                F.col("e_dst").alias("node"), "comp"
            )
            hop = (
                labels.union(neighbor)
                .groupBy("node")
                .agg(F.min("comp").alias("comp"))
            )
        # pointer jump: comp is itself a node id, so look up ITS label
        # and adopt it (always <= comp). Left join + coalesce keeps the
        # row even if a label were not a labeled node (cannot happen —
        # labels are min() over node ids — but cheap insurance).
        # (A second jump per round was measured in round 6 and
        # REJECTED: rounds stayed exactly 13 on m10's sf0.1 graphs —
        # after one jump the pointer graph is already flat, so the
        # frontier is edge-propagation-bound and the extra label
        # self-join only added ~60% wall time.)
        lut = hop.select(
            F.col("node").alias("p_node"), F.col("comp").alias("p_comp")
        )
        nxt_labels = hop.join(lut, hop.comp == lut.p_node, "left").select(
            "node",
            F.coalesce("p_comp", "comp").alias("comp"),
        )
        if rounds == 2:
            # plan-audit hook: one representative STEADY-STATE round
            # (edge propagation + min fold + pointer jump) — round 2,
            # where the previous checkpoint has truncated the lineage,
            # so the captured plan is what every subsequent round pays
            # (round 1's plan would re-print the whole pair pipeline)
            plancap.grab("cc pointer-jump round", nxt_labels)
        # the checksum rides on the checkpoint's own action; it must be
        # eager: after a lazy checkpoint the observed sum reads None
        obs = Observation()
        labels = nxt_labels.observe(
            obs, F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")
        ).localCheckpoint(eager=True)
        cur = obs.get["s"]
        if rounds > 1 and cur == prev:
            converged = True
            break
        prev = cur

    LAST_RUN_STATS.clear()
    LAST_RUN_STATS.update({"rounds": rounds, "converged": converged})
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(with pointer jumping that needs diameter > ~2^max_iter); "
            "raise max_iter"
        )
    return labels.select("node", F.col("comp").alias("component"))


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
    pairs_unique: bool = False,
) -> DataFrame:
    """Label every node that appears in ``pairs`` with the minimum node
    id of its connected component. Returns (node, component).

    Only nodes present in at least one edge are labeled (singletons
    trivially form their own component and are cheap to union back in
    if needed).

    ``pairs_unique=True`` asserts the caller's pair set has no
    duplicate unordered pairs, no self-loops, and one orientation per
    pair — then the mirrored edges are distinct by construction and the
    dedup aggregate is skipped (performance only; duplicate edges would
    not change the labels, just the per-round cost).
    """
    _require_integral_ids(pairs, (src, dst))
    # both orientations of every pair from ONE scan of ``pairs``, so an
    # expensive upstream pair plan (banded LSH with the skew-guard
    # grid, Jaccard verification) runs once, into the persisted ``und``
    # that every round reads — no separate persist of ``pairs`` needed
    und = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias("e_src"), F.col(dst).alias("e_dst")),
                F.struct(F.col(dst).alias("e_src"), F.col(src).alias("e_dst")),
            )
        ).alias("e")
    ).select("e.e_src", "e.e_dst").repartition(F.col("e_src"))
    if not pairs_unique:
        und = und.dropDuplicates(["e_src", "e_dst"])
    und = und.persist()
    try:
        return connected_components_from_edges(und, max_iter)
    finally:
        und.unpersist()
