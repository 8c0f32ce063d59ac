"""Kernel probes: the engine's public numpy kernels timed on seeded inputs
in the driver, outside Spark, at the engine's 32,768-row Arrow batch. Each
reports the median time per row (or per polygon for the burn) over a few
repeats, and the bytes its arrays move per row."""

from __future__ import annotations

import statistics
import time

import numpy as np

BATCH = 32_768  # spark.sql.execution.arrow.maxRecordsPerBatch in get_spark
REPS = 7


def _diamonds(rng, n: int, cx, cy) -> np.ndarray:
    """(n, 4, 2) label-style diamonds around the given centres."""
    rx = 0.25 + rng.integers(0, 4, n) * 0.125
    ry = 0.25 + rng.integers(0, 3, n) * 0.125
    return np.stack(
        [np.stack([cx - rx, cy], 1), np.stack([cx, cy - ry], 1),
         np.stack([cx + rx, cy], 1), np.stack([cx, cy + ry], 1)], 1)


def _median_s(fn) -> float:
    times = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def run(seed: int) -> dict:
    from terrakit_spark.functions.geometry import clip_area_rect, ray_cast, sat_depth
    from terrakit_spark.operators.rasterize import burn_image

    rng = np.random.default_rng(seed)
    n = BATCH
    # hotspot-like layout: centres in lon 10..12, lat 12..13
    cx, cy = rng.uniform(10, 12, n), rng.uniform(12, 13, n)
    a = _diamonds(rng, n, cx, cy)
    b = _diamonds(rng, n, cx + rng.uniform(-0.5, 0.5, n), cy + rng.uniform(-0.5, 0.5, n))
    px, py = cx + rng.uniform(-0.6, 0.6, n), cy + rng.uniform(-0.6, 0.6, n)
    x0, y0 = cx - rng.uniform(0, 1, n), cy - rng.uniform(0, 1, n)
    x1, y1 = x0 + 2.0, y0 + 2.0
    ns = np.full(n, 4, dtype=np.int64)
    out = {
        "geometry.ray_cast_ns_per_row": _median_s(lambda: ray_cast(px, py, a)) / n * 1e9,
        "geometry.ray_cast_bytes_per_row": (px.nbytes + py.nbytes + a.nbytes + n) / n,
        "geometry.sat_depth_ns_per_row": _median_s(lambda: sat_depth(a, b)) / n * 1e9,
        "geometry.sat_depth_bytes_per_row": (a.nbytes + b.nbytes + 8 * n) / n,
        "geometry.clip_area_rect_ns_per_row": _median_s(
            lambda: clip_area_rect(a, ns, x0, y0, x1, y1)) / n * 1e9,
        "geometry.clip_area_rect_bytes_per_row": (a.nbytes + ns.nbytes + 4 * 8 * n + 8 * n) / n,
    }
    # burn: one 256 x 256 chip at the hotspot under 200 overlapping labels
    k = 200
    polys = list(_diamonds(rng, k, rng.uniform(10, 12, k), rng.uniform(12, 14, k)))
    classes = [int(c) for c in rng.integers(1, 4, k)]
    out["rasterize.burn_us_per_poly"] = _median_s(
        lambda: burn_image(256, 256, 10.5, 13.5, polys, classes)) / k * 1e6
    return out
