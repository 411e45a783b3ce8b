"""Vectorized point-in-polygon and segment-distance kernels (pure numpy).

The PIP test replicates the reference's ray-crossing method exactly
(``geom/PointInPolygon.java:34-61``): an upward crossing counts when
``y1 <= cy < y2``, downward when ``y2 <= cy < y1``, and the crossing is
counted when ``cx < x1 + (cy-y1)/(y2-y1)*(x2-x1)``.  Points on an edge
may land on either side (the reference documents the same non-robustness,
``PointInPolygon.java:17-19``); vertices of the test rings are handled
by the same arithmetic.  Multiple rings XOR together
(``PointInPolygon.java:21-23``) so holes fall out naturally.

Shapely is not available in this environment; these kernels are the
engine's geometry core and are deliberately simple, branch-free numpy
that vectorizes over many points at once per ring: driver-side layer
preparation (cell classification) and the test references use them.
The join's exact test is their JVM twin,
``operators.spatial_join.odd_crossings``, the same ops in float64.
"""

from __future__ import annotations

import numpy as np


def points_in_ring(cx: np.ndarray, cy: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Ray-cast many points against one ring.

    cx, cy : float64 arrays of N test points.
    ring   : (M, 2) float64 array of ring vertices; the ring must be
             closed (first == last), matching the coords layout the
             reference feeds to ``PointInPolygon.testFast``.
    Returns a bool array: odd number of crossings ("inside").
    """
    cx = np.asarray(cx, dtype=np.float64)
    cy = np.asarray(cy, dtype=np.float64)
    x1 = ring[:-1, 0][:, None]  # (M-1, 1)
    y1 = ring[:-1, 1][:, None]
    x2 = ring[1:, 0][:, None]
    y2 = ring[1:, 1][:, None]

    crossing = ((y1 <= cy) & (y2 > cy)) | ((y1 > cy) & (y2 <= cy))  # (M-1, N)
    with np.errstate(divide="ignore", invalid="ignore"):
        vt = (cy - y1) / (y2 - y1)
        hit = crossing & (cx < x1 + vt * (x2 - x1))
    return (hit.sum(axis=0) & 1).astype(bool)


def points_in_polygon(cx, cy, rings: list[np.ndarray]) -> np.ndarray:
    """XOR-compose the ring test over shell + holes (PointInPolygon.java:21-23)."""
    out = np.zeros(len(np.asarray(cx)), dtype=bool)
    for ring in rings:
        out ^= points_in_ring(cx, cy, ring)
    return out


def segment_distance_sq(cx, cy, ring: np.ndarray) -> np.ndarray:
    """Min squared distance from each point to the ring's segments (imps²).

    Mirrors the exact-test shape of ``filter/PointDistanceFilter.java:78-122``
    (min segment distance²).  Vectorized: (M-1) segments × N points.
    """
    cx = np.asarray(cx, dtype=np.float64)[None, :]
    cy = np.asarray(cy, dtype=np.float64)[None, :]
    x1 = ring[:-1, 0][:, None]
    y1 = ring[:-1, 1][:, None]
    dx = (ring[1:, 0] - ring[:-1, 0])[:, None]
    dy = (ring[1:, 1] - ring[:-1, 1])[:, None]
    seg_len2 = dx * dx + dy * dy
    with np.errstate(divide="ignore", invalid="ignore"):
        t = ((cx - x1) * dx + (cy - y1) * dy) / np.where(seg_len2 == 0, 1, seg_len2)
    t = np.clip(np.where(seg_len2[..., :] == 0, 0, t), 0.0, 1.0)
    px = x1 + t * dx
    py = y1 + t * dy
    d2 = (cx - px) ** 2 + (cy - py) ** 2
    return d2.min(axis=0)


def ring_bbox(ring: np.ndarray) -> tuple[float, float, float, float]:
    return (
        float(ring[:, 0].min()),
        float(ring[:, 1].min()),
        float(ring[:, 0].max()),
        float(ring[:, 1].max()),
    )


# ---------------------------------------------------------------------------
# Compact serialized polygon format ("rings blob") — our WKB stand-in.
#
# Polygons travel to executors inside broadcast variables / binary columns as
# a flat float64 layout: [n_rings, (len_i ...), (x y x y ...) per ring].
# This replaces shapely WKB (shapely is unavailable here) while keeping the
# payload a single contiguous buffer per polygon — cheap to broadcast and to
# parse back into numpy views without copying.
# ---------------------------------------------------------------------------

def pack_rings(rings: list[np.ndarray]) -> bytes:
    parts = [np.array([len(rings)], dtype=np.float64)]
    parts.append(np.array([len(r) for r in rings], dtype=np.float64))
    for r in rings:
        parts.append(np.asarray(r, dtype=np.float64).reshape(-1))
    return np.concatenate(parts).tobytes()


def unpack_rings(blob: bytes) -> list[np.ndarray]:
    buf = np.frombuffer(blob, dtype=np.float64)
    n = int(buf[0])
    lens = buf[1 : 1 + n].astype(np.int64)
    rings = []
    pos = 1 + n
    for ln in lens:
        rings.append(buf[pos : pos + 2 * ln].reshape(-1, 2))
        pos += 2 * ln
    return rings
