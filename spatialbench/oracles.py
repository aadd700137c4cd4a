"""Reference answers that share no code with the engine under test.

Everything here is plain numpy over the generator's own arrays: an
even-odd crossing test, the shoelace formula, haversine distance and a
fine-grid area estimate. The workloads compare the engine's output
against these, so a wrong answer from any layer of ``mundipy_spark``
cannot also make the oracle wrong.
"""

from __future__ import annotations

import numpy as np

EARTH_R_M = 6_371_008.8


def points_in_ring(xs: np.ndarray, ys: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd crossing test of points against one closed ring."""
    x1, y1 = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    xs = np.asarray(xs, dtype=np.float64)[:, None]
    ys = np.asarray(ys, dtype=np.float64)[:, None]
    straddles = (y1 > ys) != (y2 > ys)
    with np.errstate(divide="ignore", invalid="ignore"):
        x_cross = x1 + (ys - y1) * (x2 - x1) / (y2 - y1)
    return np.logical_xor.reduce(straddles & (xs < x_cross), axis=1)


def ring_area(ring: np.ndarray) -> float:
    """Unsigned shoelace area of a closed ring."""
    x, y = ring[:, 0], ring[:, 1]
    return abs(float(np.dot(x[:-1], y[1:]) - np.dot(x[1:], y[:-1]))) / 2.0


def haversine_m(lon1, lat1, lon2, lat2) -> np.ndarray:
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dp = p2 - p1
    dl = np.radians(np.asarray(lon2) - np.asarray(lon1))
    a = np.sin(dp / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2
    return 2 * EARTH_R_M * np.arcsin(np.sqrt(np.minimum(a, 1.0)))


def grid_overlap_area(ring_a: np.ndarray, ring_b: np.ndarray, step: float) -> float:
    """|A ∩ B| estimated by counting the centres of a ``step`` grid over
    the intersection of the two bounding boxes that fall in both rings."""
    lo = np.maximum(ring_a.min(axis=0), ring_b.min(axis=0))
    hi = np.minimum(ring_a.max(axis=0), ring_b.max(axis=0))
    if np.any(hi <= lo):
        return 0.0
    gx = np.arange(lo[0] + step / 2, hi[0], step)
    gy = np.arange(lo[1] + step / 2, hi[1], step)
    if not len(gx) or not len(gy):
        return 0.0
    xx, yy = np.meshgrid(gx, gy)
    xs, ys = xx.ravel(), yy.ravel()
    inside = points_in_ring(xs, ys, ring_a)
    inside[inside] = points_in_ring(xs[inside], ys[inside], ring_b)
    return float(inside.sum()) * step * step
