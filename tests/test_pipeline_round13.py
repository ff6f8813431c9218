"""Round-13 pins: the concurrency/robustness fixes from the round-12
advice (plan_identity render lock, ExternalRDD leaf guard) and the
small-scan fan-out guard for per-payload codec stages.
"""

from __future__ import annotations


# ------------------------------------------------------ leaf guard


def test_identityless_leaf_guard_word_boundaries():
    """r12 advice: ExternalRDD (Scala/Java-interop leaf) must count as
    identity-less; a plan merely CONTAINING one of the names inside a
    longer token must not."""
    from data_engineer_project_spark.operators.dedup import (
        _has_identityless_leaf,
    )

    assert _has_identityless_leaf("+- ExternalRDD [obj#12]")
    assert _has_identityless_leaf("+- LocalRelation [id#1, key#2]")
    assert _has_identityless_leaf("+- LogicalRDD [id#1]")
    assert _has_identityless_leaf("+- ExistingRDD [id#1]")
    assert not _has_identityless_leaf(
        "+- Relation [id#1] parquet MyLocalRelationLikeTable"
    )
    assert not _has_identityless_leaf(
        "+- Project [NotAnExternalRDDColumn#3]"
    )
    assert not _has_identityless_leaf("+- Relation [id#1] parquet")


# --------------------------------------------- plan_identity render lock


def test_plan_identity_concurrent_renders_stable(spark, tmp_path):
    """r12 advice (and the worse bug found fixing it): the r12 render
    raised the session-global maxToStringFields around toString(),
    which (a) raced concurrent renders and (b) — measured round 13 —
    NEVER took effect on a secondary Python thread at all (each Python
    thread rides its own py4j JVM thread whose SQLConf.get doesn't see
    the session conf), so any plan_identity issued off the main thread
    silently rendered truncated. The explicit-maxFields treeString
    render must produce the MAIN thread's key from worker threads,
    concurrently, over frames whose isin tails differ past the
    25-field default."""
    import threading

    import pandas as pd

    import data_engineer_project_spark.operators.similarity as SIM

    p = str(tmp_path / "w.parquet")
    pd.DataFrame({"doc_id": list(range(500))}).to_parquet(p)
    base = spark.read.parquet(p)
    f1 = base.filter(base.doc_id.isin(list(range(40))))
    f2 = base.filter(base.doc_id.isin(list(range(39)) + [444]))
    k1, k2 = SIM.plan_identity(f1), SIM.plan_identity(f2)
    assert k1 is not None and k2 is not None and k1 != k2

    errors: list[str] = []

    def hammer(frame, expected):
        for _ in range(30):
            got = SIM.plan_identity(frame)
            if got != expected:
                errors.append(f"{got} != {expected}")

    threads = [
        threading.Thread(target=hammer, args=(f1, k1)),
        threading.Thread(target=hammer, args=(f2, k2)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors[:3]
    # and the conf is restored, not leaked
    assert (
        spark.conf.get("spark.sql.debug.maxToStringFields", "25")
        != "1000000"
    )


# ------------------------------------------------- small-scan fan-out


def test_fanout_small_scan_guard(spark, tmp_path):
    """The closing-run discovery: a sub-128MB parquet arrives as one
    input split, so a per-payload codec Arrow stage after it runs on
    ONE core regardless of cluster size. fanout_small_scan must
    repartition such a scan up to the default parallelism — and must
    NOT touch a frame that already has at least that many partitions
    (at 100 TB split counts the fan-out is a plan no-op; no shuffle
    may be added there)."""
    import pandas as pd

    from data_engineer_project_spark.operators.multimodal import (
        fanout_small_scan,
    )

    p = str(tmp_path / "small.parquet")
    pd.DataFrame({"doc_id": range(100), "text": ["x"] * 100}).to_parquet(p)
    small = spark.read.parquet(p)
    target = spark.sparkContext.defaultParallelism
    assert small.rdd.getNumPartitions() < target
    fanned = fanout_small_scan(small)
    assert fanned.rdd.getNumPartitions() == target
    assert fanned.count() == 100

    wide = spark.range(1000).repartition(target + 4)
    same = fanout_small_scan(wide)
    # no repartition added: the plan object is returned unchanged
    assert same is wide


# --------------------------------------------- WAV structural strictness


def test_native_wav_structural_strictness():
    """Hand-built structural lies decode_wav must quarantine rather
    than guess at: data before fmt, an odd 16-bit data length, and a
    declared data length past the payload end."""
    import struct

    import pytest

    import data_engineer_project_spark.operators.multimodal as mm

    # data chunk before any fmt chunk
    body = b"data" + struct.pack("<I", 4) + b"abcd"
    p = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    with pytest.raises(ValueError, match="before fmt"):
        mm.decode_wav(p)
    # 16-bit PCM with an odd data length
    fmt16 = b"fmt " + struct.pack("<I", 16) + struct.pack(
        "<HHIIHH", 1, 1, 8000, 16000, 2, 16
    )
    data = b"data" + struct.pack("<I", 5) + b"abcde\x00"
    p = b"RIFF" + struct.pack("<I", 4 + len(fmt16) + len(data)) + b"WAVE" + fmt16 + data
    with pytest.raises(ValueError, match="odd"):
        mm.decode_wav(p)
    # declared data length overruns the payload
    good = mm.encode_wav_pcm8(bytes(range(16)))
    i = good.find(b"data")
    lied = bytearray(good)
    lied[i + 4 : i + 8] = struct.pack("<I", 1 << 20)
    with pytest.raises(ValueError, match="truncated"):
        mm.decode_wav(bytes(lied))
