"""Guarded small-scan fan-out — scan parallelism tracks file splits,
not work (r13/r14, guide §2.4/§6).

A sub-128 MB parquet arrives as ONE split, so every compute-bound
stage welded to the scan (codec Arrow stages, shingle explosion,
sign-LSH signature folds, range-join probes) runs on one core
regardless of cluster size. The guard makes the fix scale-correct: it
only repartitions when the scan has FEWER partitions than the default
parallelism, so at 100 TB split counts it is a plan no-op and no
shuffle is added; when it fires, the exchange moves at most a few MB
to light up every core for the per-row compute that follows.

Lived in ``operators/multimodal.py`` (its round-13 birthplace, for the
codec stages) until round 14 made the text/similarity/interval
operators consumers too; multimodal re-exports both names so existing
imports keep working.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def estimated_source_bytes(df: DataFrame) -> int | None:
    """Total on-disk bytes of ``df``'s backing files, from a
    driver-side listing only — zero Spark jobs, no ``df.rdd``
    materialization hazard (the thing that made the r14 fan-outs
    opt-in). Returns None when the frame has no file lineage (pure
    in-memory fixtures, streams) or a file cannot be stat'ed, so
    callers fall back to their small-input default.

    This is the size signal for the r15 SIZE GATES (guide §1.2: the
    right distributed algorithm depends on the data size, and at bench
    scale the scale-shape layout can cost more than it saves — the
    measured d12 repartition regression, the d99 semi-join prefilter
    rejection). It deliberately measures the SOURCE, not the operator
    input: a filtered frame reports its full source size, which for a
    gate choosing between a small-corpus and a big-corpus plan shape
    is the conservative side (a selective filter over a big source
    takes the big-corpus shape; results are identical either way)."""
    import os
    from urllib.parse import unquote, urlparse

    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for uri in files:
        parsed = urlparse(uri)
        path = unquote(parsed.path) if parsed.scheme else uri
        try:
            total += os.stat(path).st_size
        except OSError:
            return None
    return total


def fanout_small_scan(df: DataFrame) -> DataFrame:
    """Fan a SMALL scan out to the session's core count before a
    compute-bound Arrow stage. Scan parallelism tracks file splits,
    not work: a sub-128 MB parquet arrives as ONE split, so a
    per-payload codec stage after it runs on one core regardless of
    cluster size — the round-13 m22 closing run measured 9.2 s where
    32-way decode costs ~1 s, and m15/m16 carry the same shape.
    The guard makes this scale-correct: it only repartitions when the
    scan has FEWER partitions than the default parallelism, so at
    100 TB (thousands of input splits) it is a plan no-op and no
    shuffle is added; when it does fire, the exchange moves at most a
    few MB to light up every core for the multi-ms-per-payload codec
    work that follows.

    Streaming frames pass through untouched: ``df.rdd`` is illegal on
    them, and a micro-batch's parallelism is the source's concern
    (maxFilesPerTrigger and the file-split math)."""
    if df.isStreaming:
        return df
    spark = df.sparkSession
    try:
        target = spark.sparkContext.defaultParallelism
        nparts = df.rdd.getNumPartitions()
    except Exception:
        return df
    if nparts >= target:
        return df
    return df.repartition(target)


def fanout_small_stream(
    df: DataFrame, source_path: str, glob: str = "*.parquet"
) -> DataFrame:
    """Streaming sibling of ``fanout_small_scan`` (round 14): a
    micro-batch inherits the FILE SOURCE's split count, and a stream
    DataFrame can't be introspected (``df.rdd`` is illegal), so the
    guard decides from the source's on-disk size instead — when every
    parquet file under ``source_path`` fits inside one input split
    (``spark.sql.files.maxPartitionBytes``), each micro-batch arrives
    single-partition and a codec Arrow stage after it runs on one
    core regardless of session cores (measured round 14: s27 at
    10.3 s where 32-way encode+decode costs ~2 s — the exact
    idle-core shape fanout_small_scan fixed for batch scans in round
    13). When it fires, the added exchange moves the tiny pre-attach
    rows; at real corpus sizes (any file over one split, or enough
    files to fill the cores) it is a plan no-op, so the 100 TB crawl
    monitor keeps its source-governed parallelism and pays no extra
    shuffle. Batch frames pass through to the introspecting guard."""
    if not df.isStreaming:
        return fanout_small_scan(df)
    spark = df.sparkSession

    def conf_bytes(key: str, default: int) -> int:
        raw = spark.conf.get(key, str(default))
        try:
            # Spark's own parser handles every suffix form it accepts
            # ("128m", "1t", "134217728b", ...): anything less loses
            # silently when an operator tunes the conf (r14 review).
            return int(
                spark.sparkContext._jvm.org.apache.spark.network.util
                .JavaUtils.byteStringAsBytes(raw)
            )
        except Exception:
            return int(default)

    try:
        import glob as _glob
        import os as _os

        target = spark.sparkContext.defaultParallelism
        max_part = conf_bytes("spark.sql.files.maxPartitionBytes", 134217728)
        open_cost = conf_bytes("spark.sql.files.openCostInBytes", 4194304)
        if _os.path.isdir(source_path):
            # size only the files the stream's glob filter matches —
            # the sf dir holds OTHER tables' parquet too
            files = _glob.glob(_os.path.join(source_path, "**", glob),
                               recursive=True)
        else:
            files = [source_path]
        sizes = [_os.path.getsize(f) for f in files if _os.path.exists(f)]
        if not sizes:
            return df
        # Mirror Spark's FilePartition math, not a naive size/128MB:
        # the scan SHRINKS its split size toward bytes-per-core for
        # mid-size sources (a 200 MB file on 32 cores already arrives
        # ~32-way), so estimating with maxPartitionBytes alone would
        # bolt a redundant full-stream exchange onto sources that are
        # not split-starved (r14 review finding).
        total = sum(sizes) + open_cost * len(sizes)
        bytes_per_core = total // target
        max_split = min(max_part, max(open_cost, bytes_per_core))
        est_parts = -(-total // max_split)
    except Exception:
        return df
    if est_parts >= target:
        return df
    return df.repartition(target)
