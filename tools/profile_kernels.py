#!/usr/bin/env python
"""Micro-profile of the northrule Python-stage kernels (decode + stats).

Run on a QUIET host (uptime load < ~2). Times each component of
features/image_features._features_batch over a realistic same-shape batch
so optimization work targets the real hot spot instead of guesses. PNG
decode is timed twice: filter 0 on every row (what encode_png writes) and
libpng-style adaptive filters 0-4 (perfbench/pngfilter.py, what ordinary
encoders write).

Usage: python tools/profile_kernels.py [n_images] [size]
"""
from __future__ import annotations

import sys
import time

import numpy as np

sys.path.insert(0, ".")
from dagli_spark.images.codec import decode_image, encode_png, encode_qjpg  # noqa: E402
from dagli_spark.images.phash import phash64_stack  # noqa: E402
from perfbench.pngfilter import encode_png_filtered  # noqa: E402


def bench(label, fn, reps=3):
    best = None
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    print(f"{label:34s} {best*1000:9.1f} ms")
    return best


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 512
    size = int(sys.argv[2]) if len(sys.argv) > 2 else 128
    rng = np.random.default_rng(7)
    imgs = [(rng.integers(0, 256, (size, size, 3)).astype(np.uint8))
            for _ in range(n)]
    blobs_png = [encode_png(a) for a in imgs]
    blobs_qjpg = [encode_qjpg(a) for a in imgs]
    # libpng-style adaptive per-row filters 0-4: the general unfilter path
    blobs_adaptive = [encode_png_filtered(a) for a in imgs]
    print(f"batch: {n} images {size}x{size}x3 "
          f"({n*size*size*3/1e6:.0f} MB decoded)")

    bench("decode png", lambda: [decode_image(b) for b in blobs_png])
    bench("decode png (adaptive filters)",
          lambda: [decode_image(b) for b in blobs_adaptive])
    bench("decode qjpg", lambda: [decode_image(b) for b in blobs_qjpg])

    arrs = [decode_image(b) for b in blobs_png]
    bench("np.stack", lambda: np.stack(arrs))
    stack = np.stack(arrs)

    bench("chan sums f64", lambda: stack.sum(axis=(1, 2), dtype=np.float64))
    bench("einsum sq-sum f64",
          lambda: np.einsum("bhwc,bhwc->b", stack, stack, dtype=np.float64))
    bench("gray3 int16", lambda: stack.sum(axis=3, dtype=np.int16))
    gray3 = stack.sum(axis=3, dtype=np.int16)
    bench("edge gx (diff+abs+mean)",
          lambda: np.abs(np.diff(gray3, axis=2)).mean(axis=(1, 2),
                                                      dtype=np.float64))
    bench("edge gy (diff+abs+mean)",
          lambda: np.abs(np.diff(gray3, axis=1)).mean(axis=(1, 2),
                                                      dtype=np.float64))
    bench("phash64_stack", lambda: phash64_stack(stack, gray3=gray3))

    # --- candidate alternatives -------------------------------------
    sq_lut = (np.arange(256, dtype=np.uint16) ** 2).astype(np.uint32)

    def sq_via_lut():
        return sq_lut[stack].sum(axis=(1, 2, 3), dtype=np.float64)

    bench("ALT sq-sum via LUT u32", sq_via_lut)

    def sq_via_u16():
        x = stack.astype(np.uint16)
        np.multiply(x, x, out=x)
        return x.sum(axis=(1, 2, 3), dtype=np.float64)

    bench("ALT sq-sum via u16 inplace", sq_via_u16)

    def sq_via_bincount():
        flat = stack.reshape(n, -1)
        out = np.empty(n)
        for i in range(n):
            out[i] = np.bincount(flat[i], minlength=256) @ sq_lut
        return out

    bench("ALT sq-sum via bincount", sq_via_bincount)

    def edge_inplace():
        d = gray3[:, :, 1:].astype(np.int16, copy=True)
        np.subtract(d, gray3[:, :, :-1], out=d)
        np.abs(d, out=d)
        return d.mean(axis=(1, 2), dtype=np.float64)

    bench("ALT edge gx inplace int16", edge_inplace)

    def chan_sums_i64():
        return stack.reshape(n, -1, 3).sum(axis=1, dtype=np.int64)

    bench("ALT chan sums i64 reshape", chan_sums_i64)


if __name__ == "__main__":
    main()
