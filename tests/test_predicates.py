"""Spatial-predicate join vs brute force; GOQL on features; length/area."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geodesk_spark.geo import geom, mercator, pip
from geodesk_spark.goql import compile_goql
from geodesk_spark.operators import geometry_ops, predicates, spatial_join
from geodesk_spark.sources import synth, synth_features


@pytest.fixture(scope="module")
def feats(spark):
    df = synth_features.features_df(spark, 3000, partitions=8).cache()
    pdf = df.toPandas()
    yield df, pdf
    df.unpersist()


@pytest.fixture(scope="module")
def prepared():
    return spatial_join.prepare_layer(synth.polygon_layer())


@pytest.mark.parametrize("pred", ["intersects", "within", "disjoint", "crosses", "touches", "overlaps"])
def test_predicate_join_matches_bruteforce(spark, feats, prepared, pred):
    df, pdf = feats
    got = predicates.spatial_predicate_join(df, prepared, pred, keep_cols=["fid"]).toPandas()
    got_set = set(map(tuple, got[["fid", "poly_id"]].to_numpy().tolist()))

    exp_set = set()
    for p in prepared:
        for i in range(len(pdf)):
            row = pdf.iloc[i]
            if pred != "disjoint":
                if row["maxx"] < p.minx or row["minx"] > p.maxx or row["maxy"] < p.miny or row["miny"] > p.maxy:
                    continue
                rings = pip.unpack_rings(row["geom"])
                a = rings if row["gkind"] == "polygon" else rings[0]
                if geom.relate(a, p.rings)[pred]:
                    exp_set.add((row["fid"], p.poly_id))
            else:
                if row["maxx"] < p.minx or row["minx"] > p.maxx or row["maxy"] < p.miny or row["miny"] > p.maxy:
                    exp_set.add((row["fid"], p.poly_id))
                else:
                    rings = pip.unpack_rings(row["geom"])
                    a = rings if row["gkind"] == "polygon" else rings[0]
                    if geom.relate(a, p.rings)["disjoint"]:
                        exp_set.add((row["fid"], p.poly_id))
    assert got_set == exp_set, f"{pred}: {len(got_set ^ exp_set)} diffs"
    if pred == "intersects":
        assert len(got_set) > 20  # city polygons overlap city features


def test_goql_on_features(spark, feats):
    df, pdf = feats
    out = df.filter(compile_goql("w[highway=primary,motorway][maxspeed>=60]")).toPandas()
    exp = {
        row["fid"]
        for _, row in pdf.iterrows()
        if not row["is_area"]
        and row["tags"].get("highway") in ("primary", "motorway")
        and float(row["tags"].get("maxspeed", "nan") or "nan") >= 60
        if "maxspeed" in row["tags"]
    }
    assert set(out["fid"]) == exp
    assert len(exp) > 5

    # area selector: 'a' matches polygon ways
    areas = df.filter(compile_goql("a[building]")).count()
    assert areas == int(pdf["is_area"].sum())


def test_length_area(spark, feats):
    df, pdf = feats
    out = geometry_ops.with_length_area(df).toPandas().set_index("fid")
    for i in [0, 10, 100]:
        row = pdf.iloc[i]
        rings = pip.unpack_rings(row["geom"])
        shell = rings[0]
        exp_len = mercator.polyline_length_m(shell[:, 0], shell[:, 1])
        assert out.loc[row["fid"], "length_m"] == pytest.approx(exp_len)
        if row["gkind"] == "polygon":
            exp_area = mercator.ring_area_m2(shell[:, 0], shell[:, 1])
            assert out.loc[row["fid"], "area_m2"] == pytest.approx(exp_area)
            assert out.loc[row["fid"], "area_m2"] > 0
        else:
            assert out.loc[row["fid"], "area_m2"] == 0.0


def _centroid_within(rings, gkind, poly_rings):
    """Custom predicate: the feature's vertex-centroid lies inside the
    polygon (module-level so Spark can pickle it)."""
    import numpy as np

    from geodesk_spark.geo import pip as _pip

    pts = np.vstack(rings) if gkind == "polygon" else rings[0]
    cx, cy = float(pts[:, 0].mean()), float(pts[:, 1].mean())
    return bool(_pip.points_in_polygon(np.array([cx]), np.array([cy]), poly_rings)[0])


def test_custom_predicate_registry(spark, feats, prepared):
    """register_predicate == the reference's Filter extension point:
    the custom kernel composes with the same banding machinery."""
    from geodesk_spark.geo import pip as _pip

    df, pdf = feats
    predicates.register_predicate("centroid_within", _centroid_within, interior_waive=True)
    try:
        got = set(
            map(
                tuple,
                predicates.spatial_predicate_join(
                    df, prepared, "centroid_within", keep_cols=["fid"]
                )
                .toPandas()[["fid", "poly_id"]]
                .to_numpy()
                .tolist(),
            )
        )
        want = set()
        for p in prepared:
            for i in range(len(pdf)):
                row = pdf.iloc[i]
                if (row["maxx"] < p.minx or row["minx"] > p.maxx
                        or row["maxy"] < p.miny or row["miny"] > p.maxy):
                    continue
                rings = _pip.unpack_rings(row["geom"])
                if _centroid_within(rings, row["gkind"], p.rings):
                    want.add((row["fid"], p.poly_id))
        assert got == want and len(want) > 0
    finally:
        predicates._CUSTOM.pop("centroid_within", None)


def _never(rings, gkind, poly_rings):
    """Custom predicate whose exact kernel is always False: with
    ``interior_waive=True`` the join returns exactly the waived pairs."""
    return False


def test_interior_waive_fires_and_is_sound(spark, feats, prepared):
    """The quadtree waive skips the exact test for many candidates, and
    every pair it waives is ``within`` by the exact kernel."""
    df, pdf = feats
    predicates.register_predicate("never", _never, interior_waive=True)
    try:
        got = predicates.spatial_predicate_join(df, prepared, "never", keep_cols=["fid"])
        waived = set(map(tuple, got.toPandas()[["fid", "poly_id"]].to_numpy().tolist()))
    finally:
        predicates._CUSTOM.pop("never", None)
    assert waived
    rows = pdf.set_index("fid")
    polys = {p.poly_id: p for p in prepared}
    for fid, pid in waived:
        row = rows.loc[fid]
        rings = pip.unpack_rings(row["geom"])
        a = rings if row["gkind"] == "polygon" else rings[0]
        assert geom.relate(a, polys[pid].rings)["within"], (fid, pid)


def test_resample_along_segments(spark):
    """Spacing is exactly every_m meters (Mercator metric), endpoints and
    degenerate segments behave."""
    import numpy as np

    from geodesk_spark.geo import mercator
    from geodesk_spark.operators import geometry_ops

    segs = spark.createDataFrame(
        [
            (1, 0, 0, 3_000_000, 4_000_000),  # ~few hundred km
            (2, 100, 200, 100, 200),          # zero-length
        ],
        "fid long, x1 int, y1 int, x2 int, y2 int",
    )
    out = geometry_ops.resample_along_segments(segs, 50_000.0).toPandas()
    one = out[out.fid == 1].sort_values("pt_seq")
    L = float(mercator.distance(0, 0, 3_000_000, 4_000_000)[()])
    assert len(one) == int(L // 50_000) + 1
    # consecutive resampled points are 50 km apart in the same metric
    px, py = one.px.to_numpy(), one.py.to_numpy()
    d = mercator.distance(px[:-1], py[:-1], px[1:], py[1:])
    assert np.allclose(d, 50_000.0, rtol=1e-9)
    two = out[out.fid == 2]
    assert len(two) == 1 and two.pt_seq.iloc[0] == 0
    assert two.px.iloc[0] == 100.0 and two.py.iloc[0] == 200.0


def test_ring_centroid_cols(spark):
    """Golden shapes + numpy shoelace parity for the JVM centroid fold."""
    import numpy as np
    from pyspark.sql import functions as F

    from geodesk_spark.operators import geometry_ops

    rng = np.random.default_rng(7)
    rings = {
        1: np.array([[0, 0], [4, 0], [4, 4], [0, 4]], dtype=np.float64),
        # L-shape: known centroid (.(2x4 rect) + (2x2 square)) / area 12
        2: np.array(
            [[0, 0], [4, 0], [4, 2], [2, 2], [2, 4], [0, 4]], dtype=np.float64
        ),
        # clockwise square (negative area): centroid still the center
        3: np.array([[0, 0], [0, 4], [4, 4], [4, 0]], dtype=np.float64),
    }
    # random convex rings (angle-sorted points)
    for fid in range(4, 20):
        pts = rng.uniform(-1e6, 1e6, size=(rng.integers(3, 9), 2))
        ang = np.arctan2(pts[:, 1] - pts[:, 1].mean(), pts[:, 0] - pts[:, 0].mean())
        rings[fid] = pts[np.argsort(ang)]

    rows = [
        (fid, [(float(x), float(y)) for x, y in r]) for fid, r in rings.items()
    ]
    df = spark.createDataFrame(
        rows, "fid long, ring array<struct<x:double,y:double>>"
    )
    a2, cx, cy = geometry_ops.ring_centroid_cols(F.col("ring"))
    out = {
        r["fid"]: r
        for r in df.select(
            "fid", a2.alias("a2"), cx.alias("cx"), cy.alias("cy")
        ).collect()
    }

    assert out[1]["a2"] == 32.0 and out[1]["cx"] == 2.0 and out[1]["cy"] == 2.0
    assert out[3]["a2"] == -32.0 and out[3]["cx"] == 2.0 and out[3]["cy"] == 2.0
    # L-shape: area 12; centroid = (8*(2,1) + 4*(1,3)) / 12
    assert out[2]["a2"] == 24.0
    assert abs(out[2]["cx"] - 20 / 12) < 1e-12 and abs(out[2]["cy"] - 20 / 12) < 1e-12

    for fid, r in rings.items():
        x, y = r[:, 0], r[:, 1]
        xj, yj = np.roll(x, -1), np.roll(y, -1)
        c = x * yj - xj * y
        a2_np = c.sum()
        cx_np = ((x + xj) * c).sum() / (3.0 * a2_np)
        cy_np = ((y + yj) * c).sum() / (3.0 * a2_np)
        assert abs(out[fid]["a2"] - a2_np) < 1e-6 * max(1.0, abs(a2_np))
        assert abs(out[fid]["cx"] - cx_np) < 1e-6 * max(1.0, abs(cx_np))
        assert abs(out[fid]["cy"] - cy_np) < 1e-6 * max(1.0, abs(cy_np))


# ------------------------------------------------- Douglas-Peucker simplification


def _dp_reference(pts, eps):
    """Plain recursive DP (different structure from the operator's
    explicit stack), exact ints."""
    def rec(i0, i1, keep):
        if i1 - i0 < 2:
            return
        dx, dy = pts[i1][0] - pts[i0][0], pts[i1][1] - pts[i0][1]
        best, c2b = -1, -1
        for j in range(i0 + 1, i1):
            c = dx * (pts[j][1] - pts[i0][1]) - dy * (pts[j][0] - pts[i0][0])
            if c * c > c2b:
                best, c2b = j, c * c
        if c2b > eps * eps * (dx * dx + dy * dy):
            keep.add(best)
            rec(i0, best, keep)
            rec(best, i1, keep)

    keep = {0, len(pts) - 1}
    rec(0, len(pts) - 1, keep)
    return sorted(keep)


def test_simplify_dp_matches_recursive_reference(spark):
    import numpy as np
    from geodesk_spark.operators import geometry_ops

    rng = np.random.default_rng(17)
    rows, expect = [], set()
    for lid in range(8):
        n = int(rng.integers(5, 60))
        pts = [(int(rng.integers(-30000, 30000)), int(rng.integers(-30000, 30000)))
               for _ in range(n)]
        rows += [(lid, s, x, y) for s, (x, y) in enumerate(pts)]
        expect |= {(lid, s) for s in _dp_reference(pts, 8000)}
    df = spark.createDataFrame(rows, "line_id long, seq long, x long, y long")
    got = {
        (r["line_id"], r["seq"])
        for r in geometry_ops.simplify_lines_dp(df, eps=8000).collect()
    }
    assert got == expect


def test_simplify_dp_hand_cases(spark):
    from geodesk_spark.operators import geometry_ops

    rows = (
        # near-straight: middle deviates 5 < eps -> endpoints only
        [(0, s, x, y) for s, (x, y) in enumerate([(0, 0), (500, 5), (1000, 0)])]
        # sharp corner: deviation 400 > eps -> corner kept
        + [(1, s, x, y) for s, (x, y) in enumerate([(0, 0), (500, 400), (1000, 0)])]
        # degenerate closed chord: simplifies to its endpoints
        + [(2, s, x, y) for s, (x, y) in enumerate([(0, 0), (300, 300), (0, 0)])]
    )
    df = spark.createDataFrame(rows, "line_id long, seq long, x long, y long")
    got = {
        (r["line_id"], r["seq"])
        for r in geometry_ops.simplify_lines_dp(df, eps=10).collect()
    }
    assert got == {(0, 0), (0, 2), (1, 0), (1, 1), (1, 2), (2, 0), (2, 2)}


def test_union_area_by_group_matches_raster_brute(spark):
    """Dissolve (coordinate-compression union area) vs a per-unit-pixel
    rasterized union on small coordinates, incl. nested / disjoint /
    identical / zero-width boxes."""
    rng = np.random.default_rng(7)
    rows = []
    for g in range(6):
        k = int(rng.integers(1, 12))
        for _ in range(k):
            x0, y0 = int(rng.integers(0, 40)), int(rng.integers(0, 40))
            rows.append((g, x0, y0, x0 + int(rng.integers(0, 20)), y0 + int(rng.integers(0, 20))))
    rows.append((0, 5, 5, 5, 30))          # zero-width
    rows.append((1, *rows[5][1:]))          # duplicate of an existing box
    df = spark.createDataFrame(rows, "g int, minx long, miny long, maxx long, maxy long")
    got = {
        r["g"]: r["union_area"]
        for r in geometry_ops.union_area_by_group(df, "g").collect()
    }
    exp = {}
    for g in sorted({r[0] for r in rows}):
        grid = np.zeros((70, 70), dtype=bool)
        for gg, x0, y0, x1, y1 in rows:
            if gg == g:
                grid[x0:x1, y0:y1] = True
        exp[g] = int(grid.sum())
    assert got == exp


def test_union_area_world_span_no_overflow(spark):
    """A world-spanning box: area (2^32)^2 exceeds int64; the decimal
    path must stay exact."""
    lo, hi = -(1 << 31), (1 << 31) - 1
    df = spark.createDataFrame(
        [(0, lo, lo, hi, hi), (0, 0, 0, 100, 100)],
        "g int, minx long, miny long, maxx long, maxy long",
    )
    [r] = geometry_ops.union_area_by_group(df, "g").collect()
    assert r["union_area"] == float((hi - lo) * (hi - lo))
