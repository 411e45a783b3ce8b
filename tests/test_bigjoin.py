"""Shuffle big-big PIP join: parity vs the broadcast flagship + brute force.

The two paths must agree exactly — same band and slab tables, same
ray-cast fold — so any divergence is a real bug, not float noise.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geodesk_spark.geo import pip
from geodesk_spark.operators import bigjoin, spatial_join, tiling
from geodesk_spark.sources import synth
from tests.test_spatial_join import assert_geometry_as_data


@pytest.fixture(scope="module")
def world(spark):
    df = synth.images_df(spark, 20_000, with_bytes=False, partitions=8)
    df = tiling.with_point_tiles(tiling.with_imp_coords(df)).cache()
    pdf = df.select("image_id", "x", "y").toPandas()
    yield df, pdf
    df.unpersist()


@pytest.fixture(scope="module")
def layer():
    return synth.polygon_layer()


def _layer_df(spark, layer):
    return spark.createDataFrame(
        [(p["poly_id"], bytearray(p["rings"])) for p in layer],
        schema="poly_id string, rings binary",
    )


def test_big_join_matches_broadcast_and_bruteforce(spark, world, layer):
    df, pdf = world
    got = (
        bigjoin.contains_points_big(df, _layer_df(spark, layer), keep_cols=["image_id"])
        .toPandas()
    )
    got_set = set(map(tuple, got[["image_id", "poly_id"]].to_numpy().tolist()))

    # Broadcast flagship on the identical layer.
    prepared = spatial_join.prepare_layer(layer)
    # ... whose driver-side band and slab tables are identical to the
    # distributed layer_tables rows.
    bands, slabs = bigjoin.layer_tables(_layer_df(spark, layer))
    got_bands = sorted(map(tuple, bands.toPandas()[["_band_cell", "poly_id", "_band"]]
                           .to_numpy().tolist()))
    want_bands = sorted(
        (int(c), p.poly_id, int(b))
        for p in prepared for c, b in zip(p.qt_cells, p.qt_codes)
    )
    assert got_bands == want_bands
    got_slabs = sorted(
        (r["poly_id"], r["_slab"], [tuple(e) for e in r["_edges"]]) for r in slabs.collect()
    )
    want_slabs = sorted(
        (p.poly_id, int(k), list(zip(*spatial_join.edge_fields(e))))
        for p in prepared for k, e in zip(p.slab_keys, p.slab_edges)
    )
    assert got_slabs == want_slabs
    bc = (
        spatial_join.contains_points(df, prepared, keep_cols=["image_id"])
        .toPandas()
    )
    bc_set = set(map(tuple, bc[["image_id", "poly_id"]].to_numpy().tolist()))
    assert got_set == bc_set

    # Brute force ground truth.
    x = pdf["x"].to_numpy(dtype=np.float64)
    y = pdf["y"].to_numpy(dtype=np.float64)
    exp_set = set()
    for p in layer:
        inside = pip.points_in_polygon(x, y, pip.unpack_rings(p["rings"]))
        for iid in pdf["image_id"].to_numpy()[inside]:
            exp_set.add((iid, p["poly_id"]))
    assert got_set == exp_set
    assert len(got_set) > 100


def test_big_join_anti(spark, world, layer):
    df, pdf = world
    ldf = _layer_df(spark, layer)
    matched = (
        bigjoin.contains_points_big(df, ldf, keep_cols=["image_id"])
        .select("image_id").distinct().count()
    )
    anti = bigjoin.contains_points_big(df, ldf, keep_cols=["image_id"], anti=True).count()
    assert anti == len(pdf) - matched


def test_big_join_no_duplicate_candidates(spark, world, layer):
    """A point matches each polygon through exactly one quadtree leaf —
    the cell join must not introduce duplicate (point, polygon) rows."""
    df, _ = world
    got = bigjoin.contains_points_big(df, _layer_df(spark, layer), keep_cols=["image_id"])
    n = got.count()
    nd = got.distinct().count()
    assert n == nd


def test_big_join_plan_has_no_layer_literals(spark, world, layer, monkeypatch):
    """Plan size stays O(1) in the layer: geometry travels as data, so the
    analyzed plan string must not embed per-vertex literals (the same
    check pins the broadcast path in tests/test_spatial_join.py).  And
    the plan is the flagship's: no interior/exact Union, and every shared
    level's slab key comes from the helper the flagship keys its slabs by."""
    df, _ = world
    levels = []
    real = spatial_join.slab_key_col
    monkeypatch.setattr(bigjoin, "slab_key_col", lambda z: levels.append(z) or real(z))
    out = bigjoin.contains_points_big(df, _layer_df(spark, layer), keep_cols=["image_id"])
    assert_geometry_as_data(out, layer, max_len=100_000)
    assert levels == list(bigjoin.SHARED_LEVELS)
    assert "Union" not in out._jdf.queryExecution().optimizedPlan().toString()


# ---------------------------------------------------------------- crossing join


def _brute_crossings(sa, sb):
    """Ground-truth proper crossings in exact int arithmetic."""
    out = set()
    for aid, ax1, ay1, ax2, ay2 in sa:
        for bid, bx1, by1, bx2, by2 in sb:
            d1 = (bx2 - bx1) * (ay1 - by1) - (by2 - by1) * (ax1 - bx1)
            d2 = (bx2 - bx1) * (ay2 - by1) - (by2 - by1) * (ax2 - bx1)
            d3 = (ax2 - ax1) * (by1 - ay1) - (ay2 - ay1) * (bx1 - ax1)
            d4 = (ax2 - ax1) * (by2 - ay1) - (ay2 - ay1) * (bx2 - ax1)
            if ((d1 > 0) != (d2 > 0) and d1 != 0 and d2 != 0) and (
                (d3 > 0) != (d4 > 0) and d3 != 0 and d4 != 0
            ):
                out.add((aid, bid))
    return out


@pytest.fixture(scope="module")
def seg_tables(spark):
    """Two deterministic segment sets spanning many zoom-7 cells, so
    multi-cell pairs exercise the intersection-cell dedup rule."""
    rng = np.random.default_rng(7)
    span = 1 << 27  # ~4 cells at zoom 7

    def mk(n, seed_off):
        r = np.random.default_rng(7 + seed_off)
        x1 = r.integers(-3 * span, 3 * span, n)
        y1 = r.integers(-3 * span, 3 * span, n)
        dx = r.integers(-span, span, n)
        dy = r.integers(-span, span, n)
        return [
            (int(i), int(x1[i]), int(y1[i]), int(x1[i] + dx[i]), int(y1[i] + dy[i]))
            for i in range(n)
        ]

    sa, sb = mk(400, 0), mk(400, 1)
    schema = "sid long, x1 long, y1 long, x2 long, y2 long"
    a = spark.createDataFrame(sa, schema).withColumnRenamed("sid", "aid")
    b = spark.createDataFrame(sb, schema).withColumnRenamed("sid", "bid")
    return sa, sb, a, b


def test_crossing_join_matches_bruteforce(spark, seg_tables):
    sa, sb, a, b = seg_tables
    got = bigjoin.crossing_segments_join(a, b, zoom=7).toPandas()
    got_pairs = list(map(tuple, got[["aid", "bid"]].to_numpy().tolist()))
    exp = _brute_crossings(sa, sb)
    assert set(got_pairs) == exp
    assert len(exp) > 50


def test_crossing_join_exactly_once(spark, seg_tables):
    """Pairs sharing k>1 cover cells must still emit exactly one row —
    the intersection-cell rule replaces a distinct shuffle."""
    sa, sb, a, b = seg_tables
    got = bigjoin.crossing_segments_join(a, b, zoom=7).toPandas()
    pairs = list(map(tuple, got[["aid", "bid"]].to_numpy().tolist()))
    assert len(pairs) == len(set(pairs))


def test_crossing_join_intersection_point_on_both(spark, seg_tables):
    sa, sb, a, b = seg_tables
    got = bigjoin.crossing_segments_join(a, b, zoom=7).toPandas()
    amap = {s[0]: s[1:] for s in sa}
    bmap = {s[0]: s[1:] for s in sb}
    for _, r in got.iterrows():
        ax1, ay1, ax2, ay2 = amap[r["aid"]]
        bx1, by1, bx2, by2 = bmap[r["bid"]]
        assert 0.0 < r["t"] < 1.0
        assert min(ax1, ax2) - 1 <= r["ix"] <= max(ax1, ax2) + 1
        assert min(bx1, bx2) - 1 <= r["ix"] <= max(bx1, bx2) + 1
        assert min(ay1, ay2) - 1 <= r["iy"] <= max(ay1, ay2) + 1
        assert min(by1, by2) - 1 <= r["iy"] <= max(by1, by2) + 1


def test_ring_self_intersections_hand_cases(spark):
    from geodesk_spark.operators.bigjoin import ring_self_intersections

    def ring(rid, pts):
        return (rid, [p[0] for p in pts], [p[1] for p in pts])

    rows = [
        # simple square: no crossings
        ring(1, [(0, 0), (100, 0), (100, 100), (0, 100)]),
        # bowtie: seg0 (0,0)-(10,10) crosses seg2 (10,0)-(0,10) at (5,5)
        ring(2, [(0, 0), (10, 10), (10, 0), (0, 10)]),
        # pentagram (5-point star drawn in strike order): every segment
        # properly crosses both non-adjacent segments -> 5 pairs
        ring(3, [(0, 100), (59, -81), (-95, 31), (95, 31), (-59, -81)]),
        # bowtie spanning many z7 cells (extent 2^26): exactly-once via
        # the intersection-cell rule, no duplicate pairs
        ring(4, [(0, 0), (1 << 26, 1 << 26), (1 << 26, 0), (0, 1 << 26)]),
    ]
    df = spark.createDataFrame(rows, "ring_id long, xs array<long>, ys array<long>")
    got = sorted(
        (r["ring_id"], r["i"], r["j"])
        for r in ring_self_intersections(df).collect()
    )
    assert got == [
        (2, 0, 2),
        (3, 0, 2), (3, 0, 3), (3, 1, 3), (3, 1, 4), (3, 2, 4),
        (4, 0, 2),
    ]


def test_within_distance_join_exact_pairs(spark):
    """Big-big within-distance join == brute-force O(n²) on planted
    points, including pairs straddling cell boundaries and the exact
    integer boundary case (dist == delta kept, delta+1 dropped)."""
    import numpy as np

    from geodesk_spark.operators import bigjoin

    rng = np.random.default_rng(13)
    delta = 50_000_000
    axy = [(i, int(rng.integers(-2e9, 2e9)), int(rng.integers(-2e9, 2e9))) for i in range(150)]
    bxy = [(i, int(rng.integers(-2e9, 2e9)), int(rng.integers(-2e9, 2e9))) for i in range(150)]
    # planted: boundary-exact pair (id 900: dx=delta, dy=0) and just-outside
    axy.append((900, 1_000_000_000, 0))
    bxy.append((900, 1_000_000_000 + delta, 0))
    axy.append((901, -1_000_000_000, 0))
    bxy.append((901, -1_000_000_000 + delta + 1, 0))
    a = spark.createDataFrame(axy, "id long, x long, y long")
    b = spark.createDataFrame(bxy, "id long, x long, y long")
    got = {(r.id_a, r.id_b) for r in bigjoin.within_distance_join(a, b, delta).collect()}
    exp = {
        (ia, ib)
        for ia, xa, ya in axy
        for ib, xb, yb in bxy
        if (xa - xb) ** 2 + (ya - yb) ** 2 <= delta * delta
    }
    assert got == exp
    assert (900, 900) in got and (901, 901) not in got
