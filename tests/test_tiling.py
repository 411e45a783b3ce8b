"""Tile assignment: Spark plan vs the slow GOL-rule reference, and the
exactly-once NW-flag dedup property (SURVEY.md §1.2)."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from geodesk_spark.geo import tile as T
from geodesk_spark.operators import tiling

I32_MIN = -(1 << 31)
I32_MAX = (1 << 31) - 1


def _random_bboxes(n, rng):
    """Mix of tiny (tile-local), medium, and huge bboxes."""
    cx = rng.integers(I32_MIN // 2, I32_MAX // 2, n)
    cy = rng.integers(I32_MIN // 2, I32_MAX // 2, n)
    kind = rng.integers(0, 3, n)
    half = np.where(kind == 0, rng.integers(1, 1 << 16, n),
           np.where(kind == 1, rng.integers(1 << 16, 1 << 22, n),
                    rng.integers(1 << 22, 1 << 28, n)))
    minx = np.maximum(cx - half, I32_MIN).astype(np.int64)
    maxx = np.minimum(cx + half, I32_MAX).astype(np.int64)
    miny = np.maximum(cy - half, I32_MIN).astype(np.int64)
    maxy = np.minimum(cy + half, I32_MAX).astype(np.int64)
    return minx, miny, maxx, maxy


def test_point_tiles_match_numpy(spark):
    rng = np.random.default_rng(1)
    lon = rng.uniform(-180, 180, 2000)
    lat = rng.uniform(-85, 85, 2000)
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    out = tiling.with_point_tiles(tiling.with_imp_coords(df)).toPandas()
    from geodesk_spark.geo import mercator

    x = mercator.x_from_lon(lon)
    y = mercator.y_from_lat(lat)
    assert (out["x"].to_numpy() == x).all()
    assert (out["y"].to_numpy() == y).all()
    for z in (4, 6, 8, 10, 12):
        expect = T.from_xyz(x, y, z)
        assert (out[f"tile_z{z}"].to_numpy() == expect).all(), f"zoom {z}"


def test_point_tiling_expressions_built_once_per_session(spark, monkeypatch):
    """with_point_tiles builds its tile expressions on the session's
    first call only; cell is the max-zoom tile as a long."""
    import pandas as pd

    monkeypatch.setattr(tiling, "_EXPR_CACHE", {})
    built = []
    real = T.tile_col
    monkeypatch.setattr(T, "tile_col", lambda x, y, z: built.append(z) or real(x, y, z))
    df = spark.createDataFrame(pd.DataFrame({"lon": [-122.4, 2.35, 139.7], "lat": [37.8, 48.9, 35.7]}))
    first = tiling.with_point_tiles(tiling.with_imp_coords(df)).toPandas()
    assert sorted(built) == sorted(tiling.ZOOM_LEVELS)
    second = tiling.with_point_tiles(tiling.with_imp_coords(df)).toPandas()
    assert sorted(built) == sorted(tiling.ZOOM_LEVELS)
    assert first.equals(second)
    assert (first["cell"] == first[f"tile_z{max(tiling.ZOOM_LEVELS)}"]).all()
    assert list(first.columns) == ["lon", "lat", "x", "y",
                                   *[f"tile_z{z}" for z in tiling.ZOOM_LEVELS], "cell"]


def test_explode_matches_slow_reference(spark):
    rng = np.random.default_rng(2)
    n = 500
    minx, miny, maxx, maxy = _random_bboxes(n, rng)
    import pandas as pd

    pdf = pd.DataFrame(
        {"fid": np.arange(n), "minx": minx.astype(np.int32), "miny": miny.astype(np.int32),
         "maxx": maxx.astype(np.int32), "maxy": maxy.astype(np.int32)}
    )
    df = spark.createDataFrame(pdf)
    got = (
        tiling.explode_bbox_tiles(df)
        .select("fid", "zoom", "tile", "flags")
        .toPandas()
        .sort_values(["fid", "tile"])
    )
    got_set = set(map(tuple, got[["fid", "zoom", "tile", "flags"]].to_numpy().tolist()))

    exp_set = set()
    for i in range(n):
        for z, t, fl in tiling.slow_assign(int(minx[i]), int(miny[i]), int(maxx[i]), int(maxy[i])):
            # int32 view of the tile id for comparison with the Spark int col
            t32 = t - (1 << 32) if t >= (1 << 31) else t
            exp_set.add((i, z, t32, fl))
    assert got_set == exp_set


def test_exactly_once_dedup(spark):
    """For random query windows, exploded copies filtered by the NW rule give
    each bbox-intersecting feature exactly once — no distinct needed."""
    rng = np.random.default_rng(3)
    n = 400
    minx, miny, maxx, maxy = _random_bboxes(n, rng)
    import pandas as pd

    pdf = pd.DataFrame(
        {"fid": np.arange(n), "minx": minx.astype(np.int32), "miny": miny.astype(np.int32),
         "maxx": maxx.astype(np.int32), "maxy": maxy.astype(np.int32)}
    )
    exploded = tiling.explode_bbox_tiles(spark.createDataFrame(pdf)).cache()

    for trial in range(5):
        qminx, qminy, qmaxx, qmaxy = (int(v) for v in _random_bboxes(1, rng))
        tiles = tiling.query_tile_list(qminx, qminy, qmaxx, qmaxy)
        res = (
            exploded.filter(F.col("tile").isin(tiles))
            .filter((F.col("minx") <= qmaxx) & (F.col("maxx") >= qminx)
                    & (F.col("miny") <= qmaxy) & (F.col("maxy") >= qminy))
            .filter(tiling.nw_dedup_filter(qminx, qmaxy))
            .groupBy("fid").count()
            .toPandas()
        )
        expected = {
            int(i)
            for i in range(n)
            if minx[i] <= qmaxx and maxx[i] >= qminx and miny[i] <= qmaxy and maxy[i] >= qminy
        }
        assert set(res["fid"]) == expected, f"trial {trial}: wrong feature set"
        assert (res["count"] == 1).all(), f"trial {trial}: duplicates emitted"
    exploded.unpersist()


def test_assign_zoom_rule():
    # A bbox smaller than half a z12 tile is always z12 single-tile.
    copies = tiling.slow_assign(0, 0, 100, 100)
    assert len(copies) == 1 and copies[0][0] == 12 and copies[0][2] == 0
    # A bbox spanning just over one z12 tile width drops copies at z12 (2 cols).
    w = 1 << 20  # z12 tile extent
    copies = tiling.slow_assign(0, 0, w + 10, 10)
    assert {c[0] for c in copies} == {12} and len(copies) == 2
    flags = sorted(c[2] for c in copies)
    assert flags == [0, T.MULTITILE_WEST]
    # Spanning 3 z12 columns → falls to z10.
    copies = tiling.slow_assign(0, 0, 2 * w + 10, 10)
    assert {c[0] for c in copies} == {10}
    # World-spanning → root.
    copies = tiling.slow_assign(I32_MIN, I32_MIN, I32_MAX, I32_MAX)
    assert copies == [(0, 0, 0)]


def test_quantize_for_tiles_dedup_and_grid(spark):
    """Hand-built line: vertices 2,3 quantize onto vertex 1's grid point
    (must elide), vertex 4 moves a pixel (must survive); tile-local
    coordinates verified against integer arithmetic by hand."""
    from geodesk_spark.operators import tiles_sink

    zoom, extent = 7, 256
    step = 1 << (32 - zoom)
    px = step // extent  # imps per grid unit
    base_x, base_y = 5 * step - (1 << 31) + 10 * px, (1 << 31) - 1 - (9 * step) - 3 * px
    rows = [
        # (seq, x, y): 3 in one pixel, then a pixel right, then next tile
        (1, base_x, base_y),
        (2, base_x + px // 3, base_y),
        (3, base_x + px - 1, base_y - px // 2),
        (4, base_x + px, base_y),
        (5, base_x + step, base_y),
    ]
    df = spark.createDataFrame(
        [(0, s, x, y) for s, x, y in rows], "line_id long, seq long, x int, y int"
    )
    got = sorted(
        (r["tcol"], r["trow"], r["seq_out"], r["qx"], r["qy"])
        for r in tiles_sink.quantize_for_tiles(df, zoom, extent).collect()
    )
    # Vertices 1-4 share tile (5, 9); 2 and 3 collapse into 1; 4 is a new
    # grid point; 5 lands in tile (6, 9) with qx back at 10.
    assert got == [
        (5, 9, 1, 10, 3),
        (5, 9, 2, 11, 3),
        (6, 9, 1, 10, 3),
    ]


# ------------------------------------------------------- segment tile clipping


def _brute_clip(segs, zoom):
    """Reference Liang–Barsky clip per covered tile, exact float order."""
    step = 1 << (32 - zoom)
    out = {}
    for sid, x1, y1, x2, y2 in segs:
        cmin = (min(x1, x2) + (1 << 31)) // step
        cmax = (max(x1, x2) + (1 << 31)) // step
        rmin = ((1 << 31) - 1 - max(y1, y2)) // step
        rmax = ((1 << 31) - 1 - min(y1, y2)) // step
        dx, dy = float(x2 - x1), float(y2 - y1)
        for rr in range(rmin, rmax + 1):
            for cc in range(cmin, cmax + 1):
                txmin = cc * step - (1 << 31)
                txmax = txmin + step
                tymax = (1 << 31) - 1 - rr * step
                tymin = tymax - step
                edges = [
                    (-dx, float(x1 - txmin)),
                    (dx, float(txmax - x1)),
                    (-dy, float(y1 - tymin)),
                    (dy, float(tymax - y1)),
                ]
                if any(p == 0 and q < 0 for p, q in edges):
                    continue
                t0 = max([0.0] + [q / p for p, q in edges if p < 0])
                t1 = min([1.0] + [q / p for p, q in edges if p > 0])
                if t0 < t1:
                    cell = zoom * (1 << 24) + rr * 4096 + cc
                    r4 = lambda v: math.floor(v * 1e4 + 0.5) / 1e4
                    out[(sid, cell)] = (
                        r4(x1 + t0 * dx), r4(y1 + t0 * dy),
                        r4(x1 + t1 * dx), r4(y1 + t1 * dy),
                    )
    return out


@pytest.fixture(scope="module")
def clip_segs(spark):
    rng = np.random.default_rng(11)
    span = 1 << 27  # several zoom-7 tiles
    n = 300
    x1 = rng.integers(-4 * span, 4 * span, n)
    y1 = rng.integers(-4 * span, 4 * span, n)
    dx = rng.integers(-2 * span, 2 * span, n)
    dy = rng.integers(-2 * span, 2 * span, n)
    segs = [
        (int(i), int(x1[i]), int(y1[i]), int(x1[i] + dx[i]), int(y1[i] + dy[i]))
        for i in range(n)
    ]
    # degenerate shapes: horizontal, vertical, tile-boundary-aligned, point
    step = 1 << (32 - 7)
    segs += [
        (1000, 0, 5, 3 * step, 5),            # horizontal, crosses tiles
        (1001, 7, -step, 7, 2 * step),        # vertical
        (1002, 0, 0, 2 * step, 0),            # starts exactly on tile corner
        (1003, 42, 42, 42, 42),               # degenerate point
    ]
    df = spark.createDataFrame(segs, "sid long, x1 long, y1 long, x2 long, y2 long")
    return segs, df


def test_clip_matches_bruteforce(spark, clip_segs):
    from geodesk_spark.operators import tiles_sink

    segs, df = clip_segs
    got = {
        (r["sid"], r["cell"]): (r["cx1"], r["cy1"], r["cx2"], r["cy2"])
        for r in tiles_sink.clip_segments_to_tiles(df, zoom=7).collect()
    }
    exp = _brute_clip(segs, 7)
    assert got == exp
    assert len(exp) > 400  # plenty of multi-tile segments


def test_clip_pieces_tile_the_segment(spark, clip_segs):
    """Per segment the clip parameters [t0,t1] partition [0,1]: the
    pieces sum to the whole segment (measure-zero edge overlaps)."""
    from geodesk_spark.operators import tiles_sink

    segs, df = clip_segs
    rows = tiles_sink.clip_segments_to_tiles(df, zoom=7).collect()
    by_sid = {}
    for r in rows:
        by_sid.setdefault(r["sid"], []).append(r)
    for sid, x1, y1, x2, y2 in segs:
        dx, dy = x2 - x1, y2 - y1
        if dx == 0 and dy == 0:
            continue
        tot = 0.0
        for r in by_sid[sid]:
            if abs(dx) >= abs(dy):
                tot += (r["cx2"] - r["cx1"]) / dx
            else:
                tot += (r["cy2"] - r["cy1"]) / dy
        assert abs(tot - 1.0) < 1e-3, sid


# ------------------------------------------------ polygon scanline rasterization


def _brute_raster_spans(verts_by_poly, pstep):
    """Independent per-pixel ray-cast rasterizer (numpy-free loops)."""
    h = pstep // 2
    out = set()
    for pid, ring in verts_by_poly.items():
        edges = [
            (ring[i], ring[i + 1]) for i in range(len(ring) - 1)
        ]
        xs = [v[0] for v in ring]
        ys = [v[1] for v in ring]
        ox = math.floor(min(xs) / pstep) * pstep
        oy = math.ceil(max(ys) / pstep) * pstep
        npx = math.ceil((max(xs) - ox) / pstep)
        npy = math.ceil((oy - min(ys)) / pstep)
        for py in range(npy):
            yc = oy - py * pstep - h
            run = None
            for px in range(npx):
                xc = ox + px * pstep + h
                c = 0
                for (x1, y1), (x2, y2) in edges:
                    if (y1 > yc) != (y2 > yc) and xc < x1 + (yc - y1) * (x2 - x1) / (y2 - y1):
                        c += 1
                if c % 2 == 1:
                    run = (run[0], px) if run else (px, px)
                else:
                    if run:
                        out.add((pid, py, run[0], run[1]))
                        run = None
            if run:
                out.add((pid, py, run[0], run[1]))
    return out


def test_rasterize_polygons_matches_per_pixel(spark):
    from geodesk_spark.operators import tiles_sink

    rng = np.random.default_rng(5)
    pstep = 1 << 10
    polys = {}
    rows = []
    for pid in range(6):
        cx, cy = int(rng.integers(-50_000, 50_000)), int(rng.integers(-50_000, 50_000))
        ring = []
        nv = int(rng.integers(5, 13))
        for j in range(nv):
            a = 2 * math.pi * j / nv
            r = int(rng.integers(4_000, 30_000))
            ring.append((cx + round(r * math.cos(a)), cy + round(r * math.sin(a))))
        ring.append(ring[0])
        polys[pid] = ring
        rows += [(pid, s, x, y) for s, (x, y) in enumerate(ring)]
    df = spark.createDataFrame(rows, "poly_id long, seq long, x long, y long")
    got = {
        (r["poly_id"], r["py"], r["px0"], r["px1"])
        for r in tiles_sink.rasterize_polygons_scanline(df, pstep).collect()
    }
    exp = _brute_raster_spans(polys, pstep)
    assert got == exp
    assert len(exp) > 100


def test_box_blur_matches_direct_convolution(spark):
    from geodesk_spark.operators import tiles_sink

    rng = np.random.default_rng(23)
    pts = {}
    for _ in range(200):
        k = (int(rng.integers(0, 40)), int(rng.integers(0, 40)))
        pts[k] = pts.get(k, 0) + int(rng.integers(1, 9))
    df = spark.createDataFrame(
        [(x, y, n) for (x, y), n in pts.items()], "gx long, gy long, n long"
    )
    got = {
        (r["gx"], r["gy"]): r["n"]
        for r in tiles_sink.box_blur_counts(df, radius=2).collect()
    }
    exp = {}
    for (x, y), n in pts.items():
        for dx in range(-2, 3):
            for dy in range(-2, 3):
                exp[(x + dx, y + dy)] = exp.get((x + dx, y + dy), 0) + n
    assert got == exp


def test_vectorize_boundary_matches_bruteforce(spark):
    """Boundary edges of the dense region: ring-with-hole shape, checked
    against a direct per-cell neighbor scan, plus the winding invariant
    (interior left of x1->x2 in the y-up map frame)."""
    from geodesk_spark.operators import tiles_sink

    g = 7
    sub = 32 - g
    # dense 6x6 block with a 2x2 hole -> outer CCW ring + inner CW ring
    cells = {
        (cx, cy)
        for cx in range(10, 16)
        for cy in range(20, 26)
        if not (12 <= cx <= 13 and 22 <= cy <= 23)
    }
    rows = []
    for cx, cy in cells:
        # 3 points per inside cell (>= threshold), 1 point elsewhere nearby
        for i in range(3):
            rows.append((int((cx << sub) - (1 << 31) + i), int((1 << 31) - 1 - (cy << sub) - i)))
    rows.append((int((30 << sub) - (1 << 31)), int((1 << 31) - 1 - (40 << sub))))  # sparse
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r["x1"], r["y1"], r["x2"], r["y2"])
        for r in tiles_sink.vectorize_boundary_edges(df, grid_bits=g, threshold=3).collect()
    }
    exp = set()
    for (cx, cy) in cells:
        for dx, dy, x1, y1, x2, y2 in tiles_sink._BOUNDARY_SIDES:
            if (cx + dx, cy + dy) not in cells:
                exp.add((cx + x1, cy + y1, cx + x2, cy + y2))
    assert got == exp
    # outer ring: 6x6 block perimeter = 24 edges; hole: 2x2 = 8 edges
    assert len(got) == 24 + 8
    # winding: the interior must lie LEFT of x1->x2 in the y-up map frame,
    # which in the y-down screen frame is the -90deg rotation (-ey, ex):
    # the adjacent inside cell is at edge midpoint + that normal.
    for x1, y1, x2, y2 in got:
        ex, ey = x2 - x1, y2 - y1  # screen frame, y down
        mx, my = (x1 + x2) / 2, (y1 + y2) / 2
        cell = (int(np.floor(mx - ey * 0.5)), int(np.floor(my + ex * 0.5)))
        assert cell in cells, (x1, y1, x2, y2, cell)


def test_hotspot_gi_star_matches_direct(spark):
    """Gi* vs a direct per-cell numpy evaluation (no separable trick):
    a planted hot 2x2 block must carry the max score."""
    from geodesk_spark.operators import tiles_sink

    g = 7
    sub = 32 - g
    rng = np.random.default_rng(5)
    counts = {}
    for _ in range(60):
        counts[(int(rng.integers(20, 40)), int(rng.integers(20, 40)))] = int(rng.integers(1, 4))
    for cx in (30, 31):
        for cy in (30, 31):
            counts[(cx, cy)] = 25  # hot block
    rows = []
    for (cx, cy), n in counts.items():
        for i in range(n):
            rows.append((int((cx << sub) - (1 << 31) + i), int((1 << 31) - 1 - (cy << sub) - i)))
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r["gx"], r["gy"]): (r["n"], r["gi_star"])
        for r in tiles_sink.hotspot_gi_star(df, grid_bits=g).collect()
    }
    N = len(counts)
    xs = np.array(list(counts.values()), dtype=np.int64)
    xbar = float(xs.sum()) / float(N)
    s = np.sqrt(float((xs * xs).sum()) / float(N) - xbar * xbar)
    exp = {}
    for (cx, cy), n in counts.items():
        s_i = n_i = 0
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                nb = counts.get((cx + dx, cy + dy))
                if nb is not None:
                    s_i += nb
                    n_i += 1
        denom = s * np.sqrt(float(N * n_i - n_i * n_i) / (N - 1.0))
        exp[(cx, cy)] = (n, (float(s_i) - xbar * float(n_i)) / denom)
    assert set(got) == set(exp)
    for k in exp:
        assert got[k][0] == exp[k][0]
        assert abs(got[k][1] - exp[k][1]) < 1e-12, (k, got[k], exp[k])
    hot = max(got, key=lambda k: got[k][1])
    assert hot in {(30, 30), (30, 31), (31, 30), (31, 31)}


def test_moran_lisa_matches_direct(spark):
    """Moran's I vs a direct numpy evaluation (queen weights, w_ii=0):
    a planted hot 2x2 block must be a high-high LISA core, and the
    global I must be positive (clustered field)."""
    from geodesk_spark.operators import tiles_sink

    g = 7
    sub = 32 - g
    rng = np.random.default_rng(11)
    counts = {}
    for _ in range(60):
        counts[(int(rng.integers(20, 40)), int(rng.integers(20, 40)))] = int(rng.integers(1, 4))
    for cx in (30, 31):
        for cy in (30, 31):
            counts[(cx, cy)] = 25  # hot block
    rows = []
    for (cx, cy), n in counts.items():
        for i in range(n):
            rows.append((int((cx << sub) - (1 << 31) + i), int((1 << 31) - 1 - (cy << sub) - i)))
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r["gx"], r["gy"]): (r["n"], r["i_local"], r["i_global"])
        for r in tiles_sink.moran_lisa(df, grid_bits=g).collect()
    }
    N = len(counts)
    xs = np.array(list(counts.values()), dtype=np.int64)
    xbar = float(xs.sum()) / float(N)
    m2 = float((xs * xs).sum()) / float(N) - xbar * xbar
    num = w = 0.0
    exp_local = {}
    for (cx, cy), n in counts.items():
        sp = np_ = 0
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                if (dx, dy) == (0, 0):
                    continue
                nb = counts.get((cx + dx, cy + dy))
                if nb is not None:
                    sp += nb
                    np_ += 1
        lag = float(sp) - float(np_) * xbar
        exp_local[(cx, cy)] = (float(n) - xbar) * lag / m2
        num += (float(n) - xbar) * lag
        w += np_
    exp_global = (N * num) / (w * (N * m2))
    assert set(got) == set(exp_local)
    for k, e in exp_local.items():
        assert abs(got[k][1] - e) < 1e-9, (k, got[k], e)
        assert abs(got[k][2] - exp_global) < 1e-9
    assert exp_global > 0  # planted cluster => positive autocorrelation
    # the hot block's cells are high values next to high values:
    # their LISA must be among the largest positives
    hot = max(got, key=lambda k: got[k][1])
    assert hot in {(30, 30), (30, 31), (31, 30), (31, 31)}


def test_moran_prebinned_matches_points_path(spark):
    """prebinned=True over a materialized cells frame must equal the
    points path bit-for-bit."""
    from geodesk_spark.operators import tiles_sink

    g = 7
    sub = 32 - g
    rng = np.random.default_rng(9)
    rows = [
        (int(rng.integers(20, 40)) << sub, int(rng.integers(20, 40)) << sub)
        for _ in range(200)
    ]
    pts = spark.createDataFrame(
        [(x - (1 << 31), (1 << 31) - 1 - y) for x, y in rows], "x long, y long"
    )
    a = {(r["gx"], r["gy"]): (r["n"], r["i_local"], r["i_global"])
         for r in tiles_sink.moran_lisa(pts, grid_bits=g).collect()}
    cells = tiles_sink.grid_counts(pts, g)
    b = {(r["gx"], r["gy"]): (r["n"], r["i_local"], r["i_global"])
         for r in tiles_sink.moran_lisa(cells, grid_bits=g, prebinned=True).collect()}
    assert a == b


def test_zonal_stats_matches_bruteforce(spark):
    """Zonal stats vs per-cell brute PIP on a small square zone."""
    from geodesk_spark.geo import pip
    from geodesk_spark.operators import spatial_join, tiles_sink

    g = 8
    step = 1 << (32 - g)
    # CCW square covering cells gx,gy in [100, 104) x [50, 54)
    x0, x1 = 100 * step - (1 << 31), 104 * step - (1 << 31)
    yt, yb = (1 << 31) - 1 - 50 * step, (1 << 31) - 1 - 54 * step
    ring = np.array(
        [[x0, yb], [x1, yb], [x1, yt], [x0, yt], [x0, yb]], dtype=np.float64
    )
    prepared = [spatial_join.prepare_polygon("sq", pip.pack_rings([ring]))]
    rng = np.random.default_rng(3)
    rows = []
    counts = {}
    for _ in range(300):
        cx, cy = int(rng.integers(98, 107)), int(rng.integers(48, 57))
        counts[(cx, cy)] = counts.get((cx, cy), 0) + 1
        i = counts[(cx, cy)]
        rows.append((cx * step - (1 << 31) + i, (1 << 31) - 1 - cy * step - i))
    df = spark.createDataFrame(rows, "x long, y long")
    [r] = tiles_sink.zonal_stats(df, prepared, grid_bits=g).collect()
    inside = {
        (cx, cy): n for (cx, cy), n in counts.items()
        if 100 <= cx < 104 and 50 <= cy < 54
    }
    assert r["poly_id"] == "sq"
    assert r["n_cells"] == len(inside)
    assert r["sum_val"] == sum(inside.values())
    assert r["max_val"] == max(inside.values())


def test_hotspot_prebinned_matches_points_path(spark):
    """prebinned=True over a materialized cells frame must equal the
    points path bit-for-bit (the 100 TB pattern: bin once, reuse)."""
    from geodesk_spark.operators import tiles_sink

    g = 7
    sub = 32 - g
    rng = np.random.default_rng(8)
    rows = [
        (int(rng.integers(20, 40)) << sub, int(rng.integers(20, 40)) << sub)
        for _ in range(200)
    ]
    pts = spark.createDataFrame(
        [(x - (1 << 31), (1 << 31) - 1 - y) for x, y in rows], "x long, y long"
    )
    a = {(r["gx"], r["gy"]): (r["n"], r["gi_star"])
         for r in tiles_sink.hotspot_gi_star(pts, grid_bits=g).collect()}
    cells = tiles_sink.grid_counts(pts, g)
    b = {(r["gx"], r["gy"]): (r["n"], r["gi_star"])
         for r in tiles_sink.hotspot_gi_star(cells, grid_bits=g, prebinned=True).collect()}
    assert a == b


# ------------------------------------------------ polygon clip to tiles (SH)


def _sh_pass_py(ring, bound, axis, keep_ge):
    """Independent Sutherland–Hodgman half-plane pass (plain loops)."""
    if len(ring) < 3:
        return []
    def ins(p):
        return (p[axis] >= bound) if keep_ge else (p[axis] <= bound)
    out = []
    for i in range(len(ring)):
        s, e = ring[i - 1], ring[i]
        if ins(s) != ins(e):
            t = (bound - s[axis]) / (e[axis] - s[axis])
            ip = (
                (float(bound), s[1] + t * (e[1] - s[1]))
                if axis == 0
                else (s[0] + t * (e[0] - s[0]), float(bound))
            )
            out.append(ip)
        if ins(e):
            out.append(e)
    return out


def _brute_clip_polygons(rings_by_pid, zoom):
    """Per (poly, covered tile): shift to tile-local coords, run the four
    half-plane passes, floor-round to 4 dp — written independently of
    the operator (scalar loops, index-based axis)."""
    step = 1 << (32 - zoom)
    out = {}
    for pid, ring in rings_by_pid.items():
        xs = [p[0] for p in ring]
        ys = [p[1] for p in ring]
        cmin = math.floor((min(xs) + 2**31) / step)
        cmax = math.floor((max(xs) + 2**31) / step)
        rmin = math.floor((2**31 - 1 - max(ys)) / step)
        rmax = math.floor((2**31 - 1 - min(ys)) / step)
        for cc in range(cmin, cmax + 1):
            for rr in range(rmin, rmax + 1):
                txmin = cc * step - 2**31
                tymin = 2**31 - 1 - rr * step - step
                r = [(x - txmin, y - tymin) for x, y in ring]
                for bound, axis, keep in (
                    (0, 0, True), (step, 0, False), (0, 1, True), (step, 1, False)
                ):
                    r = _sh_pass_py(r, bound, axis, keep)
                if len(r) >= 3:
                    cell = zoom * (1 << 24) + rr * 4096 + cc
                    out[(pid, cell)] = [
                        (math.floor(x * 1e4 + 0.5) / 1e4, math.floor(y * 1e4 + 0.5) / 1e4)
                        for x, y in r
                    ]
    return out


def _star_octagon(cx, cy, radii):
    dirs = [(1, 0), (1, 1), (0, 1), (-1, 1), (-1, 0), (-1, -1), (0, -1), (1, -1)]
    return [
        (float(cx + sx * r), float(cy + sy * r)) for (sx, sy), r in zip(dirs, radii)
    ]


@pytest.fixture(scope="module")
def clip_polys(spark):
    step = 1 << 25  # zoom 7
    rng = np.random.default_rng(11)
    rings = {}
    for pid in range(40):
        cx = int(rng.integers(-(2**30), 2**30))
        cy = int(rng.integers(-(2**30), 2**30))
        radii = [int(r) for r in rng.integers(step // 4, 3 * step, size=8)]
        rings[pid] = _star_octagon(cx, cy, radii)
    # hand-picked degenerates: inside one tile; containing whole tiles;
    # vertex exactly on a tile boundary
    rings[100] = [(1e6, 1e6), (2e6, 1e6), (2e6, 2e6), (1e6, 2e6)]
    rings[101] = _star_octagon(0, 0, [4 * step] * 8)
    rings[102] = [(0.0, 0.0), (float(step), 0.0), (float(step // 2), float(step // 2))]
    df = spark.createDataFrame(
        [(pid, [{"x": x, "y": y} for x, y in ring]) for pid, ring in rings.items()],
        "pid long, ring array<struct<x:double,y:double>>",
    )
    return rings, df


def test_clip_polygons_matches_bruteforce(spark, clip_polys):
    from geodesk_spark.operators import tiles_sink

    rings, df = clip_polys
    rows = tiles_sink.clip_polygons_to_tiles(df, zoom=7).collect()
    got = {}
    for r in rows:
        got.setdefault((r["pid"], r["cell"]), []).append((r["seq"], r["x"], r["y"]))
    got = {
        k: [(x, y) for _, x, y in sorted(v)] for k, v in got.items()
    }
    exp = _brute_clip_polygons(rings, 7)
    assert got == exp
    assert len(exp) > 200  # plenty of multi-tile polygons


def test_clip_polygons_pieces_conserve_area(spark, clip_polys):
    """Tiles partition the plane, so the clipped pieces' shoelace areas
    sum back to each polygon's area (4 dp rounding ⇒ loose rel tol)."""
    from geodesk_spark.operators import tiles_sink

    rings, df = clip_polys
    rows = tiles_sink.clip_polygons_to_tiles(df, zoom=7).collect()
    pieces = {}
    for r in rows:
        pieces.setdefault(r["pid"], {}).setdefault(r["cell"], []).append(
            (r["seq"], r["x"], r["y"])
        )

    def shoelace(ring):
        n = len(ring)
        return (
            sum(
                ring[i][0] * ring[(i + 1) % n][1] - ring[(i + 1) % n][0] * ring[i][1]
                for i in range(n)
            )
            / 2.0
        )

    for pid, ring in rings.items():
        whole = abs(shoelace(ring))
        got = sum(
            abs(shoelace([(x, y) for _, x, y in sorted(v)]))
            for v in pieces[pid].values()
        )
        assert abs(got - whole) <= max(1.0, whole * 1e-9), pid


def test_clip_polygons_degenerate_shapes(spark, clip_polys):
    from geodesk_spark.operators import tiles_sink

    rings, df = clip_polys
    step = 1 << 25
    rows = tiles_sink.clip_polygons_to_tiles(df, zoom=7).collect()
    by_pid = {}
    for r in rows:
        by_pid.setdefault(r["pid"], {}).setdefault(r["cell"], []).append(
            (r["seq"], r["x"], r["y"])
        )
    # pid 100 sits strictly inside one tile: one cell, ring = shifted input
    assert len(by_pid[100]) == 1
    ((cell, v),) = by_pid[100].items()
    assert [(x, y) for _, x, y in sorted(v)] == _brute_clip_polygons(
        {100: rings[100]}, 7
    )[(100, cell)]
    # pid 101 contains interior tiles: those reduce to the exact tile rect
    full = {
        tuple(sorted(((0.0, 0.0), (float(step), 0.0), (float(step), float(step)), (0.0, float(step)))))
    }
    interior = [
        v for v in by_pid[101].values()
        if len(v) == 4 and tuple(sorted((x, y) for _, x, y in v)) in full
    ]
    assert len(interior) >= 4
    # every emitted vertex is inside its tile rect (tile-local frame)
    for r in rows:
        assert -1e-9 <= r["x"] <= step + 1e-9 and -1e-9 <= r["y"] <= step + 1e-9


# --- S2-style hierarchical cover ---------------------------------------------

_HC_HALF = 1 << 31


def _hc_full(box, z, c, r):
    minx, miny, maxx, maxy = box
    step = 1 << (32 - z)
    return (
        c * step - _HC_HALF >= minx
        and (c + 1) * step - _HC_HALF - 1 <= maxx
        and _HC_HALF - (r + 1) * step >= miny
        and _HC_HALF - 1 - r * step <= maxy
    )


def _hc_brute(box, z_min, z_max):
    """Recursive reference cover: subdivide partial cells until full or z_max."""
    minx, miny, maxx, maxy = box
    out = set()

    def rec(z, c, r):
        if _hc_full(box, z, c, r) or z == z_max:
            out.add((z, (z << 24) + r * 4096 + c, _hc_full(box, z, c, r)))
            return
        step = 1 << (32 - z - 1)
        for cc in (2 * c, 2 * c + 1):
            for rr in (2 * r, 2 * r + 1):
                if (
                    cc * step - _HC_HALF <= maxx
                    and (cc + 1) * step - _HC_HALF - 1 >= minx
                    and _HC_HALF - (rr + 1) * step <= maxy
                    and _HC_HALF - 1 - rr * step >= miny
                ):
                    rec(z + 1, cc, rr)

    step = 1 << (32 - z_min)
    for c in range((minx + _HC_HALF) // step, (maxx + _HC_HALF) // step + 1):
        for r in range((_HC_HALF - 1 - maxy) // step, (_HC_HALF - 1 - miny) // step + 1):
            rec(z_min, c, r)
    return out


_HC_BOXES = [
    (100, -50, 5_000_000, 9_000_000),
    (-(1 << 31), -(1 << 31), (1 << 31) - 1, (1 << 31) - 1),  # world
    (0, 0, (1 << 26) - 1, (1 << 26) - 1),  # tile-aligned: full cells ON the parent ring
    (-(1 << 25), -(1 << 22), (1 << 25) + 12345, (1 << 23)),
    (7, 7, 7, 7),  # degenerate point box
    (-(1 << 31), 5, -(1 << 31) + 100, 900000),  # west world edge
]


def test_hierarchical_cover_matches_recursive_reference(spark):
    rows = [(i,) + b for i, b in enumerate(_HC_BOXES)]
    df = spark.createDataFrame(rows, "key int, minx long, miny long, maxx long, maxy long")
    for z_min, z_max in [(4, 8), (4, 4), (6, 10)]:
        got = tiling.hierarchical_cover(df, z_min, z_max).select("key", "zoom", "tile", "full").collect()
        by_key = {}
        for r in got:
            by_key.setdefault(r.key, set()).add((r.zoom, r.tile, r.full))
        for i, b in enumerate(_HC_BOXES):
            assert by_key.get(i, set()) == _hc_brute(b, z_min, z_max), (i, z_min, z_max)


def test_hierarchical_cover_partitions_max_zoom_cells(spark):
    """Exactly-once: expanding every emitted cell to z_max must yield each
    intersecting z_max cell exactly once (no gaps, no overlaps)."""
    z_min, z_max = 4, 9
    box = (-(1 << 27) + 3, -(1 << 24), (1 << 26) + 77777, (1 << 25) - 1)
    df = spark.createDataFrame([(0,) + box], "key int, minx long, miny long, maxx long, maxy long")
    got = tiling.hierarchical_cover(df, z_min, z_max).select("zoom", "tile").collect()
    seen = {}
    for r in got:
        z, t = r.zoom, r.tile
        c, row = t & 4095, (t >> 12) & 4095
        scale = 1 << (z_max - z)
        for cc in range(c * scale, (c + 1) * scale):
            for rr in range(row * scale, (row + 1) * scale):
                key = (cc, rr)
                seen[key] = seen.get(key, 0) + 1
    minx, miny, maxx, maxy = box
    step = 1 << (32 - z_max)
    want = {
        (c, r)
        for c in range((minx + _HC_HALF) // step, (maxx + _HC_HALF) // step + 1)
        for r in range((_HC_HALF - 1 - maxy) // step, (_HC_HALF - 1 - miny) // step + 1)
    }
    assert set(seen) == want
    assert all(v == 1 for v in seen.values())


def test_cover_join_equals_direct_join_and_exactly_once(spark):
    import random

    rng = random.Random(3)
    pts = [(i, rng.randrange(-(1 << 30), 1 << 30), rng.randrange(-(1 << 30), 1 << 30)) for i in range(400)]
    boxes = []
    for k in range(25):
        cx, cy = rng.randrange(-(1 << 29), 1 << 29), rng.randrange(-(1 << 29), 1 << 29)
        dx, dy = rng.randrange(1 << 18, 1 << 27), rng.randrange(1 << 18, 1 << 27)
        boxes.append((k, cx - dx, cy - dy, cx + dx, cy + dy))
    # plant guaranteed hits: points at box centers and exactly on edges
    pid = 400
    for k, minx, miny, maxx, maxy in boxes[:10]:
        pts.append((pid, (minx + maxx) // 2, (miny + maxy) // 2)); pid += 1
        pts.append((pid, minx, maxy)); pid += 1
    p = spark.createDataFrame(pts, "pid long, x long, y long")
    b = spark.createDataFrame(boxes, "key long, minx long, miny long, maxx long, maxy long")
    got = tiling.cover_join(p, b, z_min=5, z_max=9).select("pid", "key").collect()
    got_pairs = [(r.pid, r.key) for r in got]
    want = {
        (pp[0], bb[0])
        for pp in pts
        for bb in boxes
        if bb[1] <= pp[1] <= bb[3] and bb[2] <= pp[2] <= bb[4]
    }
    assert set(got_pairs) == want and want
    assert len(got_pairs) == len(set(got_pairs))  # exactly-once, no dedup needed


def test_cell_union_compact_hand_cases(spark):
    from geodesk_spark.operators.tiling import cell_union_compact

    def t(z, row, col):
        return (z << 24) | (row << 12) | col

    # complete quartet at z2 under parent (1,0,0) -> merges; then with its
    # z1 sibling quartet completed -> recursive merge to the root
    quartet = [t(2, 0, 0), t(2, 0, 1), t(2, 1, 0), t(2, 1, 1)]
    rest_z1 = [t(1, 0, 1), t(1, 1, 0), t(1, 1, 1)]
    # contained cells (redundant): a z3 cell under the quartet, plus a dup
    noise = [t(3, 0, 0), t(2, 0, 0)]
    df = spark.createDataFrame(
        [(v,) for v in quartet + rest_z1 + noise], "tile long"
    )
    got = sorted(r["tile"] for r in cell_union_compact(df).collect())
    assert got == [t(0, 0, 0)]

    # incomplete quartet: nothing merges, contained z4 cell dropped
    cells = [t(2, 0, 0), t(2, 0, 1), t(2, 1, 0), t(4, 1, 1)]
    df = spark.createDataFrame([(v,) for v in cells], "tile long")
    got = sorted(r["tile"] for r in cell_union_compact(df).collect())
    assert got == sorted([t(2, 0, 0), t(2, 0, 1), t(2, 1, 0)])

    # mixed-level completion: three z2 children + the fourth covered by a
    # DEEPER complete quartet at z3 -> z3 merges up first, then z2, then z1 stops
    z3q = [t(3, 2, 2), t(3, 2, 3), t(3, 3, 2), t(3, 3, 3)]  # = t(2,1,1)
    cells = [t(2, 0, 0), t(2, 0, 1), t(2, 1, 0)] + z3q
    df = spark.createDataFrame([(v,) for v in cells], "tile long")
    got = sorted(r["tile"] for r in cell_union_compact(df).collect())
    assert got == [t(1, 0, 0)]

    # idempotence: compacting the output changes nothing
    df2 = spark.createDataFrame([(v,) for v in got], "tile long")
    again = sorted(r["tile"] for r in cell_union_compact(df2).collect())
    assert again == got


def test_label_placement_greedy_hand_case(spark):
    from geodesk_spark.operators.tiles_sink import label_placement

    r = 10
    B = 1 << 20  # base point well inside a z6 tile (origin is a tile corner)
    rows = [
        # one z6 tile; score desc = a, b, c, d, e
        (1, B, B, 100.0),            # a: rank 1, always placed
        (2, B + r, B, 90.0),         # b: chebyshev(a)=r, NOT > r -> suppressed
        (3, B + r + 1, B, 80.0),     # c: a at r+1 ok; b was suppressed -> placed
        (4, B + r + 1, B + r, 70.0), # d: a ok, but c at chebyshev r -> suppressed
        (5, B - (r + 5), B - (r + 5), 60.0),  # e: clear of a and c -> placed
        # k-cap: rank 6 would be placeable but k=5 window cuts at e
        (6, B + 500, B + 500, 50.0),
        # a second, independent tile (x shifted one z6 step)
        (7, B + (1 << 26), B, 1.0),
    ]
    df = spark.createDataFrame(rows, "fid long, x long, y long, score double")
    got = sorted(
        (row["fid"], row["rank"])
        for row in label_placement(df, "score", zoom=6, k=5, radius=r).collect()
    )
    assert got == [(1, 1), (3, 3), (5, 5), (7, 1)]


def test_tile_balance_audit_laws(spark):
    """Balance audit on planted distributions: uniform spread maximizes
    entropy (= ln K) with Gini 0; a single hot tile gives entropy 0 and
    the exact replay Gini numerator; values match a slow Python
    replay."""
    import math

    from geodesk_spark.operators import tiling

    W = 1 << 28  # z4-ish tile pitch in imps

    def pts(counts):
        # counts: list of per-tile point counts; tile i centered apart
        rows = []
        for i, n in enumerate(counts):
            for j in range(n):
                rows.append((i * W - (1 << 30), j % 7 - (1 << 30)))
        return spark.createDataFrame(rows, "x long, y long")

    def audit(counts):
        r = tiling.tile_balance_audit(pts(counts), zoom=4).collect()[0]
        return r.n_tiles, r.n_total, r.entropy_micronats, r.gini_num

    def replay(counts):
        ns = sorted(counts)
        K, N = len(ns), sum(ns)
        qln = lambda v: math.floor(math.log(v) * 1e6 + 0.5)
        s1 = sum(n * qln(n) for n in ns)
        ent = (qln(N) * N - s1) // N
        gini = sum((2 * (i + 1) - K - 1) * n for i, n in enumerate(ns))
        return K, N, ent, gini

    uniform = [40] * 8
    hot = [320]
    skewed = [5, 10, 20, 40, 80, 165]
    for counts in (uniform, hot, skewed):
        assert audit(counts) == replay(counts), counts
    # uniform: H = ln 8 (quantization-exact: N·qln terms cancel), G = 0
    _, _, ent_u, gini_u = audit(uniform)
    assert gini_u == 0
    assert abs(ent_u - math.floor(math.log(8) * 1e6 + 0.5)) <= 1
    # hot: single tile → zero entropy
    assert audit(hot)[2] == 0


def test_dp_noisy_tile_counts(spark):
    """Geometric-mechanism release laws: deterministic per (tile, seed),
    different under a new seed, the noise distribution matches the
    inverse-CDF table replayed in Python, and noisy counts clamp at 0."""
    from geodesk_spark.operators.tiling import (
        _DP_M31,
        _dp_laplace_table,
        dp_noisy_tile_counts,
    )

    W = 1 << 28
    rows = [(i % 50 * W - (1 << 30), (i * 13) % 7 - (1 << 30))
            for i in range(600)]
    pts = spark.createDataFrame(rows, "x long, y long")
    a = {r.tile: (r.n, r.noise, r.noisy_n)
         for r in dp_noisy_tile_counts(pts, zoom=4, eps=0.5, seed=1).collect()}
    b = {r.tile: (r.n, r.noise, r.noisy_n)
         for r in dp_noisy_tile_counts(pts, zoom=4, eps=0.5, seed=1).collect()}
    c = {r.tile: r.noise
         for r in dp_noisy_tile_counts(pts, zoom=4, eps=0.5, seed=2).collect()}
    assert a == b                       # reproducible release
    assert any(a[t][1] != c[t] for t in a)  # new seed -> new draws

    table = _dp_laplace_table(0.5)

    def draw(tile, seed):
        u = (((tile % _DP_M31) * 48271 + seed * 2654435761 % _DP_M31)
             % _DP_M31 * 48271) % _DP_M31
        for k, lo, hi in table:
            if lo <= u < hi:
                return k
        raise AssertionError("u outside table")

    for t, (n, noise, noisy) in a.items():
        assert noise == draw(t, 1)
        assert noisy == max(n + noise, 0)
    # the table is a partition of [0, 2^31)
    assert table[0][1] == 0 and table[-1][2] == _DP_M31
    for (_, _, h1), (_, l2, _) in zip(table, table[1:]):
        assert h1 == l2
