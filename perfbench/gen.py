"""Seeded inputs for the benchmark, independent of the engine's own
synthetic sources so that a program change cannot change a workload.

Everything is a pure function of ``(seed, size)``:

- points: ``pid long, lon double, lat double``; 80 % drawn around eight
  city hot spots, 20 % uniform over the world (the skew that makes
  boundary cells and dense kNN windows expensive);
- polygon layers in the engine's input format (``poly_id`` plus a rings
  blob laid out as ``pip.pack_rings`` writes it): a light layer of ten
  polygons and about 280 segments, and a heavy one of ten polygons with
  about 1,500 vertices each;
- kNN queries: half near city centres, half uniform.

Inputs are written once per (seed, size) under the cache directory.
"""

from __future__ import annotations

import math
import os

import numpy as np

MAP_WIDTH = 4_294_967_294.9999
MIN_LAT, MAX_LAT = -85.05112878, 85.051128776

# (lon, lat, weight of the 80 % city share)
CITIES = [
    (139.7, 35.7, 0.20),
    (77.2, 28.6, 0.16),
    (121.5, 31.2, 0.14),
    (-46.6, -23.5, 0.12),
    (31.2, 30.0, 0.12),
    (-74.0, 40.7, 0.10),
    (3.4, 6.5, 0.08),
    (2.3, 48.9, 0.08),
]
CITY_SHARE = 0.8
CITY_SIGMA_DEG = 0.35


def x_from_lon(lon):
    """Integer Mercator x: round(W·lon/360), rounding as Java's Math.round."""
    return np.floor(MAP_WIDTH * np.asarray(lon, dtype=np.float64) / 360 + 0.5).astype(np.int64)


def y_from_lat(lat):
    lat = np.clip(np.asarray(lat, dtype=np.float64), MIN_LAT, MAX_LAT)
    v = np.log(np.tan((lat + 90) * math.pi / 360)) * (MAP_WIDTH / 2 / math.pi)
    return np.floor(v + 0.5).astype(np.int64)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, stream]))


def points(seed: int, n: int) -> dict[str, np.ndarray]:
    rng = _rng(seed, 1)
    w = np.array([c[2] for c in CITIES])
    city = rng.choice(len(CITIES), size=n, p=w / w.sum())
    in_city = rng.random(n) < CITY_SHARE
    clon = np.array([c[0] for c in CITIES])[city]
    clat = np.array([c[1] for c in CITIES])[city]
    g = rng.normal(0.0, CITY_SIGMA_DEG, size=(2, n))
    lon = np.where(in_city, clon + g[0], rng.uniform(-180.0, 180.0, n))
    lat = np.where(in_city, clat + g[1], rng.uniform(-85.0, 85.0, n))
    return {
        "pid": np.arange(n, dtype=np.int64),
        "lon": np.clip(lon, -180.0, 180.0),
        "lat": np.clip(lat, -85.0, 85.0),
    }


def _ring(lon, lat, radius_deg, n, rng, jitter):
    """Closed star-shaped ring (simple polygon) in imp coordinates."""
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    r = radius_deg * (1 + jitter * rng.uniform(-1, 1, n))
    lons = np.clip(lon + r * np.cos(ang) / max(math.cos(math.radians(lat)), 0.2), -180, 180)
    lats = np.clip(lat + r * np.sin(ang), -85, 85)
    ring = np.stack([x_from_lon(lons), y_from_lat(lats)], axis=1).astype(np.float64)
    return np.vstack([ring, ring[:1]])


def _rect(lon1, lat1, lon2, lat2, n_side, rng, jitter_deg):
    """Closed rectangle with ``n_side`` jittered vertices per side."""
    t = np.linspace(0, 1, n_side, endpoint=False)
    lon = np.concatenate([lon1 + (lon2 - lon1) * t, np.full(n_side, lon2),
                          lon2 - (lon2 - lon1) * t, np.full(n_side, lon1)])
    lat = np.concatenate([np.full(n_side, lat1), lat1 + (lat2 - lat1) * t,
                          np.full(n_side, lat2), lat2 - (lat2 - lat1) * t])
    if jitter_deg:
        j = rng.uniform(-jitter_deg, jitter_deg, len(lon))
        side = np.repeat(np.arange(4), n_side)
        lat = lat + np.where(side % 2 == 0, j, 0)
        lon = lon + np.where(side % 2 == 1, j, 0)
    ring = np.stack([x_from_lon(lon), y_from_lat(lat)], axis=1).astype(np.float64)
    return np.vstack([ring, ring[:1]])


def polygon_rings(seed: int, heavy: bool) -> list[tuple[str, list[np.ndarray]]]:
    """Eight city polygons (every other one with a hole) and two large
    regions.  Light: 28-vertex shells, 12-vertex holes, plain rectangles
    (about 280 segments).  Heavy: about 1,500 vertices per polygon."""
    rng = _rng(seed, 2 + int(heavy))
    out = []
    for i, (lon, lat, _) in enumerate(CITIES):
        n_shell, n_hole = (1400, 100) if heavy else (28, 12)
        radius = 0.5 + 0.1 * i + rng.uniform(0, 0.2)
        rings = [_ring(lon, lat, radius, n_shell, rng, 0.15 if heavy else 0.05)]
        if i % 2 == 0:
            rings.append(_ring(lon, lat, 0.15, n_hole, rng, 0.05))
        out.append((f"city_{i}", rings))
    for j, (lo1, la1, lo2, la2) in enumerate([(-30.0, 20.0, 40.0, 55.0), (60.0, 0.0, 150.0, 45.0)]):
        d = rng.uniform(-2, 2, 4)
        out.append((
            f"region_{j}",
            [_rect(lo1 + d[0], la1 + d[1], lo2 + d[2], la2 + d[3],
                   375 if heavy else 1, rng, 0.2 if heavy else 0.0)],
        ))
    return out


def queries(seed: int, n: int) -> dict[str, np.ndarray]:
    rng = _rng(seed, 4)
    n_city = n // 2
    city = rng.integers(0, len(CITIES), n_city)
    g = rng.normal(0.0, CITY_SIGMA_DEG, size=(2, n_city))
    lon = np.concatenate([np.array([c[0] for c in CITIES])[city] + g[0],
                          rng.uniform(-180.0, 180.0, n - n_city)])
    lat = np.concatenate([np.array([c[1] for c in CITIES])[city] + g[1],
                          rng.uniform(-85.0, 85.0, n - n_city)])
    return {
        "query_id": np.array([f"q{i:04d}" for i in range(n)], dtype=object),
        "x": x_from_lon(np.clip(lon, -180.0, 180.0)),
        "y": y_from_lat(np.clip(lat, -85.0, 85.0)),
    }


def points_parquet(cache: str, seed: int, n: int) -> str:
    """Write the point table once per (seed, n); return its directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(cache, f"points_s{seed}_n{n}")
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    os.makedirs(tmp)
    cols = points(seed, n)
    # several files, so the scan has a split per core or more
    bounds = np.linspace(0, n, 9).astype(np.int64)
    for f in range(8):
        part = {k: v[bounds[f]:bounds[f + 1]] for k, v in cols.items()}
        pq.write_table(pa.table(part), os.path.join(tmp, f"part-{f:03d}.parquet"))
    os.rename(tmp, path)
    return path
