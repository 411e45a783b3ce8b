"""Reference answers computed by the benchmark itself, with numpy only,
and the checks that compare the engine's outputs against them.

- Point-in-polygon: half-open ray-cast (an edge counts for a point when
  ``min(y1, y2) <= y < max(y1, y2)`` and ``x < x1 + (y - y1) / (y2 - y1)
  * (x2 - x1)``; rings XOR), evaluated edge by edge over the points of
  the edge's y-slab, so its cost does not grow with segments × points.
- kNN: brute-force Mercator-scaled distances over every point; a result
  is accepted when it has k distinct ids whose distances are all within
  the reference k-th distance (ties at the k-th distance are accepted).
"""

from __future__ import annotations

import math

import numpy as np

from gen import MAP_WIDTH, x_from_lon, y_from_lat

EARTH_CIRCUMFERENCE = 40_075_016.68558


def projected(pts: dict) -> tuple[np.ndarray, np.ndarray]:
    return x_from_lon(pts["lon"]), y_from_lat(pts["lat"])


def pip_counts(x: np.ndarray, y: np.ndarray, layer) -> dict[str, int]:
    """Per-polygon count of points inside; polygons with none are omitted."""
    order = np.argsort(y, kind="stable")
    ys = y[order].astype(np.float64)
    xs = x[order].astype(np.float64)
    out = {}
    for poly_id, rings in layer:
        inside = np.zeros(len(ys), dtype=bool)
        for ring in rings:
            for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
                if y1 == y2:
                    continue
                a, b = np.searchsorted(ys, [min(y1, y2), max(y1, y2)], side="left")
                if a == b:
                    continue
                cy = ys[a:b]
                inside[a:b] ^= xs[a:b] < x1 + (cy - y1) / (y2 - y1) * (x2 - x1)
        n = int(inside.sum())
        if n:
            out[poly_id] = n
    return out


def distance_m(px, py, qx, qy):
    px, py = np.asarray(px, np.float64), np.asarray(py, np.float64)
    d = np.sqrt((px - qx) ** 2 + (py - qy) ** 2)
    scale = np.cosh((py + qy) / 2 * 2 * math.pi / MAP_WIDTH)
    return d * EARTH_CIRCUMFERENCE / MAP_WIDTH / scale


def knn_reference(x, y, q: dict, k: int) -> dict[str, tuple[dict, float]]:
    """query_id -> ({pid: distance} of every point within the k-th
    distance, k-th distance)."""
    out = {}
    for qid, qx, qy in zip(q["query_id"], q["x"], q["y"]):
        d = distance_m(x, y, float(qx), float(qy))
        kth = float(np.partition(d, k - 1)[k - 1])
        near = np.flatnonzero(d <= kth * (1 + 1e-9) + 1e-6)
        out[qid] = ({int(i): float(d[i]) for i in near}, kth)
    return out


def check_counts(got: dict, want: dict) -> str | None:
    """None when equal, else a one-line description of the difference."""
    got = {k: int(v) for k, v in got.items() if v}
    if got == want:
        return None
    diff = {p: (got.get(p, 0), want.get(p, 0)) for p in set(got) | set(want)
            if got.get(p, 0) != want.get(p, 0)}
    return f"per-polygon counts differ (got, want): {dict(sorted(diff.items())[:4])}"


def check_knn(rows, ref: dict, k: int) -> str | None:
    """``rows``: iterable of (query_id, pid, dist_m)."""
    by_q: dict = {}
    for qid, pid, dist in rows:
        by_q.setdefault(qid, []).append((int(pid), float(dist)))
    if set(by_q) != set(ref):
        return f"kNN answered {len(by_q)} of {len(ref)} queries"
    for qid, hits in by_q.items():
        near, kth = ref[qid]
        ids = [p for p, _ in hits]
        if len(ids) != k or len(set(ids)) != k:
            return f"kNN {qid}: {len(ids)} rows, {len(set(ids))} distinct ids, want {k}"
        for pid, dist in hits:
            want = near.get(pid)
            if want is None:
                return f"kNN {qid}: id {pid} is beyond the k-th distance {kth:.3f} m"
            if abs(dist - want) > 1e-6 * max(want, 1.0):
                return f"kNN {qid}: id {pid} distance {dist} != {want}"
    return None


def band_hits(x: np.ndarray, y: np.ndarray, prepared) -> tuple[int, int]:
    """(point, polygon) pairs whose quadtree cell the prepared polygon
    marks BOUNDARY (the exact test's candidates) and INTERIOR (matches
    that need no exact test), read from the prepared polygons' public
    ``qt_cells`` / ``qt_codes`` (cell id = zoom << 40 | row << 20 | col)."""
    boundary = interior = 0
    for p in prepared:
        cells = np.asarray(p.qt_cells, dtype=np.int64)
        codes = np.asarray(p.qt_codes)
        if len(cells) == 0:
            continue
        # a cell can reach past the polygon's bbox by up to its own size
        pad = 1 << (32 - int(cells.min() >> 40))
        sel = ((x >= p.minx - pad) & (x <= p.maxx + pad)
               & (y >= p.miny - pad) & (y <= p.maxy + pad))
        px, py = x[sel], y[sel]
        for z in np.unique(cells >> 40):
            col = (px + (1 << 31)) >> (32 - int(z))
            row = ((1 << 31) - 1 - py) >> (32 - int(z))
            ids = (np.int64(z) << 40) | (row << 20) | col
            pos = np.clip(np.searchsorted(cells, ids), 0, len(cells) - 1)
            code = np.where(cells[pos] == ids, codes[pos], 0)
            boundary += int((code == 2).sum())
            interior += int((code == 1).sum())
    return boundary, interior
