"""Seeded input generators. Every input of every workload is a pure
function of the seed; the engine only ever sees the DataFrames built
from these arrays.

Polygons are jittered star polygons: strictly increasing angles around a
centre with random radii, so each ring is simple and concave, and each
one stays inside its own grid slot (``centre ± radius`` never reaches
the slot edge). WKB is written here with ``struct`` rather than with
the engine's own encoder, so the inputs do not depend on the code under
test either.
"""

from __future__ import annotations

import struct

import numpy as np


def star_ring(rng, cx: float, cy: float, radius: float, n: int, lo: float) -> np.ndarray:
    """Closed ring of ``n`` vertices, radii uniform in [lo, 1] * radius."""
    theta = (np.arange(n) + rng.uniform(0.1, 0.9, n)) * (2 * np.pi / n)
    r = radius * (lo + (1.0 - lo) * rng.random(n))
    ring = np.column_stack([cx + r * np.cos(theta), cy + r * np.sin(theta)])
    return np.vstack([ring, ring[:1]])


def polygon_wkb(ring: np.ndarray) -> bytes:
    """Little-endian WKB Polygon with a single ring."""
    head = struct.pack("<BIII", 1, 3, 1, len(ring))
    return head + np.ascontiguousarray(ring, dtype="<f8").tobytes()


def point_wkb(x: float, y: float) -> bytes:
    return struct.pack("<BIdd", 1, 1, x, y)


def slot_grid(rng, x0, y0, step, nx, ny, radius, n, lo, jitter):
    """One star ring per cell of an nx × ny grid of ``step``-sized slots,
    row-major by (gx, gy). The centre moves by at most ``jitter`` so the
    ring stays inside its slot when radius + jitter < step / 2."""
    rings = []
    for gx in range(nx):
        for gy in range(ny):
            cx = x0 + (gx + 0.5) * step + rng.uniform(-jitter, jitter)
            cy = y0 + (gy + 0.5) * step + rng.uniform(-jitter, jitter)
            rings.append(star_ring(rng, cx, cy, radius, n, lo))
    return rings
