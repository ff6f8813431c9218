"""Regenerate the SCALING.md codec-throughput table: single-thread
encode/decode latency per ~1.5 KB fixture payload (64x24 gray,
min-of-5 batches of 60 reps) for every container arm. These codecs run
inside Arrow mapInPandas stages, so per-executor throughput multiplies
by cores and this is the per-core decode budget at 100 TB ingest.

It prints the table at the 1.5 KB fixture size and at a 128 KB
ingest-realistic size (crawl images are 10s-100s of KB).

Usage: python tools/codec_bench.py
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import data_engineer_project_spark.operators.multimodal as mm  # noqa: E402


def _t(fn, reps=60, batches=5):
    best = float("inf")
    for _ in range(batches):
        t0 = time.perf_counter()
        for _ in range(reps):
            fn()
        best = min(best, (time.perf_counter() - t0) / reps)
    return best * 1000.0  # ms


def _mbs(nbytes: int, ms: float) -> str:
    mbs = (nbytes / 1e6) / (ms / 1000.0)
    return f"{mbs:.0f}" if mbs >= 10 else f"{mbs:.1f}"


def _arms(px: bytes, w: int):
    return [
        ("pgm", lambda: mm.encode_pnm(px, w), mm.decode_pnm),
        ("bmp", lambda: mm.encode_bmp8(px, w), mm.decode_bmp),
        ("png (stored-block)", lambda: mm.encode_png(px, w), mm.decode_png),
        ("tif", lambda: mm.encode_tiff_gray(px, w), mm.decode_tiff),
        ("wav", lambda: mm.encode_wav_pcm8(px), mm.decode_wav),
        ("gif (LZW)", lambda: mm.encode_gif(px, w), mm.decode_gif),
        (
            "jpeg lossless (SOF3)",
            lambda: mm.encode_jpeg_lossless(px, w),
            mm.decode_jpeg,
        ),
        (
            "jpeg baseline (SOF0)",
            lambda: mm.encode_jpeg_baseline(px, w),
            mm.decode_jpeg,
        ),
        (
            "jpeg progressive (SOF2)",
            lambda: mm.encode_jpeg_progressive(px, w),
            mm.decode_jpeg,
        ),
        # r13: lossless webp (operators/vp8l.py, WEBP.md).
        (
            "webp lossless (VP8L)",
            lambda: _vp8l().encode_webp_lossless(px, w),
            lambda p: _vp8l().decode_webp(p),
        ),
    ]


def _vp8l():
    from data_engineer_project_spark.operators import vp8l

    return vp8l


def _table(px: bytes, w: int, reps: int, with_encode: bool) -> None:
    hdr = "| arm |"
    sep = "|---|"
    if with_encode:
        hdr += " encode ms |"
        sep += "---|"
    hdr += " decode ms | decode MB/s (per core) |"
    sep += "---|---|"
    print(hdr)
    print(sep)
    for name, enc, dec in _arms(px, w):
        payload = enc()
        dec(payload)  # warm LUT caches
        row = f"| {name} |"
        if with_encode:
            row += f" {_t(enc, reps=reps):.3f} |"
        dec_ms = _t(lambda: dec(payload), reps=reps)
        row += f" {dec_ms:.3f} | {_mbs(len(payload), dec_ms)} |"
        print(row)


def main() -> None:
    rng = np.random.RandomState(5)
    print("Fixture payload (64x24 gray, ~1.5 KB):")
    print()
    _table(rng.randint(0, 256, 64 * 24).astype(np.uint8).tobytes(), 64, 60, True)
    print()
    print("Ingest payload (512x256 gray, 128 KB):")
    print()
    _table(
        rng.randint(0, 256, 512 * 256).astype(np.uint8).tobytes(), 512, 10, False
    )


if __name__ == "__main__":
    main()
