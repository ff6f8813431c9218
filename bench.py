"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is fully executed (collect of the result) so the timing
covers scan→shuffle→agg, not just plan construction. A warmup action
first amortizes JVM/codegen startup out of per-query numbers.

Steady-state protocol (r5+): each query runs RUNS_PER_QUERY times and
"queries"/"value" report the per-query MINIMUM — rounds 3 and 4 both
had to triage fake regressions that were really first-exec codegen
(~2-4x steady state) or box-load noise, so the headline number is now
the reproducible floor. The first-run numbers are still emitted
("first_run_queries"/"first_run_total") so cold-path regressions stay
visible too.

Record robustness (r8): the driver captures a bounded TAIL of stdout
and parses the LAST JSON line — BENCH_r07.json came back unparseable
because the single output line outgrew that window and Spark stage-
progress \r spam shared stdout. Now: console progress is disabled for
the bench session, the verbose record (first_run detail) prints FIRST,
and the FINAL stdout line is the compact headline summary (total + sf
+ min-of-3 per-query table + load) sized to survive the tail window.
Load hygiene (r6/r7 lesson): a slot whose runs saw the 1-min loadavg
rise by more than ~25% of the core count gets ONE extra run folded
into its min (bounded total retry budget), and retried slots are named
in the record — contention shrinks the floor's inflation instead of
silently passing under the 2x-cores overload flag.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_engineer_project_spark.operators.cache import (  # noqa: E402
    release_all as release_caches,
)
from data_engineer_project_spark.queries import QUERIES  # noqa: E402
from data_engineer_project_spark.session import get_spark  # noqa: E402

# Scale-bearing queries benchmarked per round (keep stable across rounds
# so BENCH_r{N}.json is comparable): the TPC-H-style headliners plus one
# flagship per extension module (dedup, similarity, events, streaming,
# multimodal, healthcare ETL).
BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "d07_dedup_minhash_lsh",
    "d09_cosine_topk_bruteforce",
    "d12_dedup_ngram_jaccard",
    "e03_sessionization",
    "e05_asof_join",
    "e06_range_join",
    "s01_stream_tumbling_hour",
    "m02_byte_histogram_by_lang",
    "hq06_billed_allowed_paid_by_plan",
    # r2 additions (appended; the original 13 slots stay comparable
    # across rounds): one windowed query and one pivot/Expand query so
    # regressions in the Window and Expand physical paths are visible.
    "p41_moving_sum",
    "p62_pivot",
    # r3 addition: the sparse-retrieval path (array-native tf + 1-row
    # broadcast stats + TakeOrderedAndProject top-k).
    "d30_bm25_topk",
    # r4 addition: the banded adaptive sign-LSH ANN (plane count scales
    # with the corpus; 2 plane families OR-ed) — the similarity-search
    # scale path whose candidate volume must stay corpus-linear.
    "d10_ann_lsh_bucketed",
    # r5 addition: the completed TPC-H surface's hardest composition —
    # q21's double-correlated EXISTS/NOT EXISTS, decorrelated into ONE
    # window over l_orderkey (per-order supplier counts replace both
    # self-join legs) + two broadcast dim joins: the grouped-window
    # decorrelation path no other slot covers.
    "q21_waiting_supplier",
    # r5 addition #2: the mixture-control path — one corpus scan folded
    # into a (source x 65536)-bucket histogram, cached and consumed by
    # three broadcast-size stages; times the fold+reuse shape.
    "d42_domain_mixture_downsample",
    # r5 addition #3: chunk-granular exact-substring dedup — the
    # explode-heavy keep-first path (one shuffle keyed by chunk text);
    # times the token-linear chunking shape at growing corpus size.
    "d47_chunk_substring_dedup",
    # r5 addition #4: the vocabulary frequency-spectrum fold — word
    # count shuffle collapsing to a ~40-key class rollup; times the
    # map-side-partial collapse no other slot isolates.
    "d49_word_frequency_spectrum",
    # r5 addition #5: OHLC downsample — the min_by/max_by agg-only
    # rollup (no window sort, map-side-combined composite-key
    # selection); times the algebraic-selection aggregate path.
    "e13_ohlc_bars",
    # r5 addition #7: the partial-Gram covariance — one integer matmul
    # per Arrow batch, d^2-key aggregate; times the mapInPandas
    # numeric-fold shape (shuffle independent of corpus size).
    "d51_embedding_covariance",
    # r6 addition: the END-TO-END curation DAG (split -> decontaminate
    # -> redact -> chunk-dedup -> mixture -> epoch shuffle) — times the
    # composed five-stage pipeline whose stages the other d-slots time
    # in isolation; the honest "what does a full curation pass cost"
    # number.
    "d56_end_to_end_curation",
    # r7 addition: the INCREMENTAL rebuild (s16 door in batch form
    # against frozen store artifacts + metadata-only re-shard of the
    # union) — times what a nightly job pays BETWEEN full d56 rebuilds;
    # the d56/d64 pair prices full-rebuild vs incremental directly.
    "d64_incremental_curation_rebuild",
    # r7 addition #2: matrix-free power iteration — three relational
    # Krylov rounds over the quantized embedding corpus; times the
    # iterative-linalg shape (per-round broadcast of the direction +
    # one vector-keyed shuffle) no other slot covers.
    "d73_power_iteration_top_pc",
    # r7 addition #4: per-doc tf-idf keyword extraction — corpus-wide
    # docfreq fold + the bounded query-set broadcast INTO the vocab
    # join + two-phase grouped_topk; times the retrieval-indexing
    # shape (big-side streams, small side broadcast) no other slot
    # isolates.
    "d80_tfidf_doc_keywords",
    # r8 addition: the REAL container decode gate — PNM/BMP header
    # parsing + pixel verification per payload inside Arrow stages;
    # times the byte-parsing Python-stage shape (m02/m10 time numpy
    # folds and JVM joins, nothing times per-row struct parsing).
    "m16_container_integrity_gate",
    # r8 addition #2: exact trailing-window distinct users — the
    # fixed x7 fan-out + DISTINCT + calendar-spine join; times the
    # bounded-explode rolling-distinct shape no window slot covers.
    "e28_dau_wau_stickiness",
    # r8 addition #3: the hashed NB quality classifier — train fold
    # (token scan -> 256-row model) + broadcast-model scoring join +
    # confusion rollup; times the train-then-apply classifier shape
    # (two corpus token scans, bounded model) no other slot covers.
    "d90_hashed_nb_classifier",
    # r9 addition: the PRODUCTION near-dup cluster default — exact
    # md5 collapse to weighted reps, adaptive skew-guarded banding,
    # CC, weighted rollup; times the tier-ordered dedup shape whose
    # cost is invariant to duplicate multiplicity (d65 times the raw
    # doc-granular diagnostic form).
    "d99_weighted_neardup_clusters",
    # r10 addition: the incremental cluster merge — warm-path standing-
    # store maintenance (delta-sized pairing + star-edge CC); the d99/
    # d101 pair prices full-rebuild vs incremental for the cluster
    # family the way d56/d64 does for curation. First bench run per
    # corpus builds the store; min-of-3 captures the warm path.
    "d101_incremental_cluster_merge",
    # r10 addition #2: the content-VERIFIED image near-dup default —
    # md5 collapse + guarded banded dHash + byte-histogram L1 verify;
    # prices the verify stage the breadth decade showed is required at
    # scale (m10 stays as the hash-only diagnostic slot).
    "m18_image_neardup_verified",
    # r11 addition: ROTATION of the headline toward production tiers
    # (VERDICT r10 #6) — d89 is d74's exact-collapse production twin
    # (weighted PageRank over reps; duplication-FLAT by measurement).
    # This is the OVERLAP round: d74 and m10 keep their slots one more
    # round for like-for-like comparability, then move to the
    # diagnostic spot-check lane (r12 removes them from the headline;
    # their contracts stay driver-gated in the correctness sweep).
    "d89_weighted_pagerank_canonical",
    # r13 addition: the lossless-webp decode gate (WEBP.md landing) —
    # real VP8L containers per doc, prefix-code entropy decode +
    # palette inverse inside Arrow stages; times the one crawl format
    # the JDK has no ImageIO reader for, i.e. the pure-Python entropy
    # floor the deployment note prices against.
    "m22_webp_lossless_decode",
    # r14 addition: the append-mode streaming media gate — VP8L
    # encode/damage/decode Arrow stages feeding a WATERMARKED tumbling
    # window whose rows emit exactly once when final; times the
    # stateful streaming-over-codec shape (state store + no-data flush
    # + event-time eviction) that s01 (plain tumbling counts) and the
    # batch m-slots don't cover — the continuous crawl-monitor cost.
    "s27_stream_media_quarantine_rate",
]

# Diagnostic spot-check lane (round-12 rotation, declared in the r11
# BASELINE.md note): the doc-granular diagnostic tiers whose production
# twins (d89/m18) hold the sf0.1 headline slots. They stay driver-gated
# at sf0.01 in the correctness sweep (registered queries) and keep
# their pins for this lane; run them at sf0.1 on demand with
#   SPARK_GRAFT_BENCH_ONLY=d74,m10 SPARK_GRAFT_BENCH_INCLUDE_SPOT=1
SPOT_CHECK_QUERIES = [
    "d74_pagerank_canonical_doc",  # pin 6.955 s (sf0.1 lane)
    "m10_image_neardup_clusters",  # pin 5.114 s (sf0.1 lane)
]


def select_slots(only: str, include_spot: bool) -> list[str]:
    """The slots to time. ``only`` is SPARK_GRAFT_BENCH_ONLY: empty for
    every slot, else comma-separated name prefixes (triage/re-pin mode,
    e.g. ``hq06,p62``, for idle-box min-of-N pins without paying the
    full suite). ``include_spot`` adds the spot-check lane. Raises
    ValueError on a slot that names no registered query and on a
    prefix that matches no slot, before any Spark session starts."""
    pool = list(BENCH_QUERIES)
    if include_spot:
        pool += SPOT_CHECK_QUERIES
    unknown = [n for n in pool if n not in QUERIES]
    if unknown:
        raise ValueError(f"bench slots name unregistered queries: {unknown}")
    prefixes = [p.strip() for p in only.split(",") if p.strip()]
    if not prefixes:
        return pool
    unmatched = [p for p in prefixes if not any(n.startswith(p) for n in pool)]
    if unmatched:
        raise ValueError(
            f"SPARK_GRAFT_BENCH_ONLY prefixes match no bench slot: {unmatched}"
        )
    return [n for n in pool if n.startswith(tuple(prefixes))]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    # Scale the healthcare fixture with sf (12 members at sf0.001 →
    # 12k at sf0.1) so the hq06 slot measures the star ETL's scaling
    # rather than fixed session overhead. The correctness gate never
    # sets this env var and stays at the oracle-matched default of 12.
    try:
        sf_num = float(sf)
    except ValueError:
        sf_num = 0.0
    os.environ.setdefault("SPARK_GRAFT_HC_MEMBERS", str(max(12, int(120_000 * sf_num))))
    names = select_slots(
        os.environ.get("SPARK_GRAFT_BENCH_ONLY", ""),
        bool(os.environ.get("SPARK_GRAFT_BENCH_INCLUDE_SPOT", "").strip()),
    )
    # Keep stdout machine-clean: the driver tail-captures stdout, and
    # Spark's console progress bar interleaves \r frames with the JSON
    # record (the proximate cause of BENCH_r07's unparseable tail).
    spark = get_spark(
        "bench", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Warehouse lifecycle backstop: keep-latest-N across every on-disk
    # artifact family (centroid/pq/roundtrip stores, shingle tables)
    # before timing anything — bench loops over synthetic corpora are
    # exactly the sessions that accrete artifacts.
    from data_engineer_project_spark.operators.similarity import sweep_stores

    sweep_stores(spark)

    # Warmup: touch the fact table once so JVM + codegen init is excluded.
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    # Also spin up the Python worker pool (one Arrow round trip), so the
    # m* slots time the operator, not one-time worker-fork cost (~2.5 s
    # across 32 workers; measured m02 alone: 3.6 s cold → 0.7 s warm).
    import pandas as _pd  # noqa: F401

    spark.range(32).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).count()

    if any(n.startswith("s") for n in names):
        # Streaming-engine warmup (round-12 s01 triage): the FIRST
        # streaming queries in a session pay engine + state-store +
        # micro-batch-thread-pool init and JIT that decays over ~2-3
        # query starts (idle-box s01: 5.9 → 2.9 → 1.9 → 1.7 s). Under
        # background load that decay stretches past run 3, so a loaded
        # driver box records min-of-3 ≈ the COLD time (the r11 "5.417 s
        # vs 1.178 s pin" breach — idle min-of-6 reproduced 1.54 s).
        # Two tiny availableNow stateful runs amortize the one-time
        # cost out of the timed slots, same rationale as the Python
        # worker-pool warmup above.
        import tempfile

        from pyspark.sql.types import LongType, StructField, StructType
        from pyspark.sql.types import TimestampType

        _wdir = tempfile.mkdtemp(prefix="bench_stream_warm_")
        spark.range(8).selectExpr(
            "id",
            "timestamp'2024-01-01' + make_interval(0,0,0,0,0,0,id) AS ts",
        ).write.mode("overwrite").parquet(_wdir + "/in")
        _wsch = StructType(
            [StructField("id", LongType()), StructField("ts", TimestampType())]
        )
        try:
            for _wi in range(2):
                _wq = (
                    spark.readStream.schema(_wsch)
                    .parquet(_wdir + "/in")
                    .withWatermark("ts", "1 minute")
                    .groupBy("id")
                    .count()
                    .writeStream.format("memory")
                    .queryName(f"bench_stream_warm_{_wi}")
                    .outputMode("complete")
                    .trigger(availableNow=True)
                    .start()
                )
                _wq.awaitTermination()
        finally:
            # Don't leak the warmup scratch into the bench session:
            # looped bench invocations would otherwise accumulate
            # mkdtemp dirs and keep the memory-sink temp views
            # registered for the whole run (round-13 review finding).
            import shutil

            shutil.rmtree(_wdir, ignore_errors=True)
            for _wi in range(2):
                try:
                    spark.catalog.dropTempView(f"bench_stream_warm_{_wi}")
                except Exception:
                    pass
    if any(n.startswith("hq") for n in names):
        # Pre-build fixture DataFrames so hq slots time ETL + query,
        # not the one-off driver-side row conversion (a parquet read in
        # any real deployment).
        from data_engineer_project_spark.queries.healthcare import warm_fixtures

        warm_fixtures(spark)
    try:
        runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    except ValueError:
        runs = 3
    # Box-load hygiene (round-6 lesson: BENCH_r06 was taken on a loaded
    # box and its inflated slots cost the round a clean like-for-like
    # comparison). Record the 1-min loadavg before and after the run so
    # the grader can discount noisy runs; flag when load exceeds 2x the
    # core count at start.
    n_cpus = os.cpu_count() or 1
    # Pre-flight settle (round-9 verdict item 6): the r9 record started
    # at loadavg 10/32 and still counted, which cost three slots a clean
    # comparison. Wait (bounded) for the 1-min loadavg to drop under
    # LOAD_TAINT_BAR = 0.35x cores; if it never does, the record is
    # marked "load_tainted" so pins and cross-round comparisons can
    # discount it mechanically instead of re-deriving load from logs.
    load_taint_bar = 0.35 * n_cpus
    try:
        settle_s = float(os.environ.get("SPARK_GRAFT_LOAD_WAIT_S", "90"))
    except ValueError:
        settle_s = 90.0
    settle_deadline = time.time() + settle_s
    while os.getloadavg()[0] > load_taint_bar and time.time() < settle_deadline:
        time.sleep(5)
    load_before = round(os.getloadavg()[0], 2)
    if load_before > 2 * n_cpus:
        print(
            json.dumps(
                {
                    "warning": "box load exceeds 2x cores; timings unreliable",
                    "load_1min": load_before,
                    "cpus": n_cpus,
                }
            ),
            file=sys.stderr,
        )
    def run_once(name: str) -> float:
        t0 = time.time()
        QUERIES[name].fn(spark, sf_dir).collect()
        elapsed = round(time.time() - t0, 3)
        release_caches()  # drop per-call persist()s between runs
        return elapsed

    # Load-aware retry: if a slot's runs overlapped a loadavg rise of
    # more than LOAD_DELTA (25% of cores), its min may still be
    # contention-inflated — grant ONE extra run, from a bounded global
    # budget so a persistently-loaded box can't stretch the bench
    # unboundedly. The rise must start from ALREADY-ELEVATED load:
    # on an idle box the bench's own cold ramp (loadavg climbing from
    # ~0 toward the executor count over the first minutes) would
    # otherwise burn the budget on the earliest slots while genuinely
    # contended slots later get nothing — external contention shows up
    # as elevated load BEFORE the slot, not just after.
    load_delta_bar = 0.25 * n_cpus
    retry_budget = 8
    retried: list[str] = []
    timings: dict[str, float] = {}
    first_run: dict[str, float] = {}
    for name in names:
        slot_load0 = os.getloadavg()[0]
        per_run = [run_once(name) for _ in range(runs)]
        if (
            slot_load0 > 0.25 * n_cpus
            and os.getloadavg()[0] - slot_load0 > load_delta_bar
            and retry_budget > 0
        ):
            retry_budget -= 1
            retried.append(name)
            per_run.append(run_once(name))
        timings[name] = min(per_run)
        first_run[name] = per_run[0]

    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    load = {
        "before_1min": load_before,
        "after_1min": round(os.getloadavg()[0], 2),
        "cpus": n_cpus,
        "overloaded": load_before > 2 * n_cpus,
        "load_tainted": load_before > load_taint_bar,
        "taint_bar_1min": round(load_taint_bar, 2),
        "retried_slots": retried,
    }
    # Verbose record first (may be clipped by the driver's tail window;
    # kept for human triage of cold-path regressions) ...
    print(
        json.dumps(
            {
                "metric": "headline_first_run_detail",
                "first_run_total": round(sum(first_run.values()), 3),
                "first_run_queries": first_run,
                "sf": sf_val,
            }
        )
    )
    # ... then the headline summary as the FINAL stdout line — this is
    # the line the driver parses, sized to fit its tail capture.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "sf": sf_val,
                "runs_per_query": runs,
                "queries": timings,
                "load": load,
            }
        )
    )


if __name__ == "__main__":
    main()
