"""Polygon×polygon overlay intersection area (operators/overlay.py)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geodesk_spark.operators import overlay


def _ring(*pts):
    return [{"x": float(x), "y": float(y)} for x, y in pts]


def _sh_clip_numpy(subject, clip_ccw):
    """Independent pure-Python Sutherland–Hodgman replay (float64)."""
    out = [tuple(p) for p in subject]
    k = len(clip_ccw)
    for i in range(k):
        ax, ay = clip_ccw[i]
        bx, by = clip_ccw[(i + 1) % k]
        if len(out) < 3:
            return []
        ring, prev = [], out[-1]
        for cur in out:
            fs = (bx - ax) * (prev[1] - ay) - (by - ay) * (prev[0] - ax)
            fe = (bx - ax) * (cur[1] - ay) - (by - ay) * (cur[0] - ax)
            if (fs >= 0) != (fe >= 0):
                t = fs / (fs - fe)
                ring.append((prev[0] + t * (cur[0] - prev[0]), prev[1] + t * (cur[1] - prev[1])))
            if fe >= 0:
                ring.append(cur)
            prev = cur
        out = ring
    return out


def _shoelace(ring):
    if len(ring) < 3:
        return 0.0
    a = 0.0
    prev = ring[-1]
    for cur in ring:
        a += prev[0] * cur[1] - cur[0] * prev[1]
        prev = cur
    return abs(a) / 2


def _grid_area(poly_pred, x0, x1, y0, y1, n=400):
    """Rasterized area approximation, independent of any clipping code."""
    xs = np.linspace(x0, x1, n, endpoint=False) + (x1 - x0) / (2 * n)
    ys = np.linspace(y0, y1, n, endpoint=False) + (y1 - y0) / (2 * n)
    X, Y = np.meshgrid(xs, ys)
    frac = poly_pred(X, Y).mean()
    return frac * (x1 - x0) * (y1 - y0)


def _pip(ring):
    """Even-odd point-in-polygon vectorized over meshgrids."""
    ring = np.asarray(ring, dtype=float)

    def pred(X, Y):
        inside = np.zeros(X.shape, dtype=bool)
        n = len(ring)
        for i in range(n):
            x1, y1 = ring[i]
            x2, y2 = ring[(i + 1) % n]
            cond = (y1 > Y) != (y2 > Y)
            with np.errstate(divide="ignore", invalid="ignore"):
                xi = x1 + (Y - y1) / (y2 - y1) * (x2 - x1)
            inside ^= cond & (X < xi)
        return inside

    return pred


def test_overlay_hand_cases(spark):
    """Exact hand-computable intersections, both subject orientations,
    CW clip normalization, containment both ways, and disjoint."""
    subj = spark.createDataFrame(
        [
            (1, _ring((0, 0), (10, 0), (10, 10), (0, 10))),
            (2, _ring((0, 0), (0, 10), (10, 10), (10, 0))),
            (3, _ring((100, 100), (110, 100), (105, 110))),
        ],
        "sid long, ring array<struct<x:double,y:double>>",
    )
    clip = spark.createDataFrame(
        [
            (10, _ring((2, 2), (6, 2), (6, 6), (2, 6))),
            (11, _ring((10, 0), (0, 10), (-10, 0), (0, -10))),
            (12, _ring((2, 2), (2, 6), (6, 6), (6, 2))),
            (13, _ring((-20, -20), (20, -20), (20, 20), (-20, 20))),
        ],
        "cid long, cring array<struct<x:double,y:double>>",
    )
    got = {
        (r.sid, r.cid): r.inter_area
        for r in overlay.overlay_area(subj, clip, clip_k=4).collect()
    }
    expect = {}
    for s in (1, 2):
        expect.update({(s, 10): 16.0, (s, 11): 50.0, (s, 12): 16.0, (s, 13): 100.0})
    assert got == expect  # subject 3 disjoint from every zone -> absent


def test_overlay_matches_independent_replay(spark):
    """Random convex subjects × random convex quads: the Spark result
    must equal an independent pure-Python S-H replay bit-for-bit (same
    formula order), and track the rasterized area within grid error."""
    rng = np.random.default_rng(7)
    subjects, clips, ref = [], [], {}
    for s in range(12):
        ang = np.sort(rng.uniform(0, 2 * np.pi, 6))
        r = rng.uniform(3, 9)
        cx, cy = rng.uniform(-10, 10, 2)
        pts = [(cx + r * np.cos(a), cy + r * np.sin(a)) for a in ang]  # convex-ish CCW
        subjects.append((s, _ring(*pts)))
    for c in range(6):
        ang = np.sort(rng.uniform(0, 2 * np.pi, 4))
        r = rng.uniform(4, 10)
        cx, cy = rng.uniform(-8, 8, 2)
        pts = [(cx + r * np.cos(a), cy + r * np.sin(a)) for a in ang]
        clips.append((100 + c, _ring(*pts)))
    for s, sr in subjects:
        for c, cr in clips:
            spts = [(p["x"], p["y"]) for p in sr]
            cpts = [(p["x"], p["y"]) for p in cr]
            a = _shoelace(_sh_clip_numpy(spts, cpts))
            a = np.floor(a * 1e3 + 0.5) / 1e3
            if a > 0:
                ref[(s, c)] = a
    subj = spark.createDataFrame(subjects, "sid long, ring array<struct<x:double,y:double>>")
    clip = spark.createDataFrame(clips, "cid long, cring array<struct<x:double,y:double>>")
    got = {
        (r.sid, r.cid): r.inter_area
        for r in overlay.overlay_area(subj, clip, clip_k=4).collect()
    }
    assert got == ref
    # spot-check three pairs against the rasterized truth (clip-code-free)
    for (s, c), a in list(ref.items())[:3]:
        sr = dict(subjects)[s]
        cr = dict(clips)[c]
        sp, cp = _pip([(p["x"], p["y"]) for p in sr]), _pip([(p["x"], p["y"]) for p in cr])
        xs = [p["x"] for p in sr] + [p["x"] for p in cr]
        ys = [p["y"] for p in sr] + [p["y"] for p in cr]
        approx = _grid_area(
            lambda X, Y: sp(X, Y) & cp(X, Y), min(xs), max(xs), min(ys), max(ys)
        )
        assert a == pytest.approx(approx, rel=0.05)


def test_overlay_star_subject_area_law(spark):
    """Non-convex star subject: S-H emits bridge edges, but their
    shoelace contributions cancel — the AREA must still match the
    rasterized truth."""
    # 8-point star (alternating radius 10 / 4), CCW
    pts = []
    for i in range(8):
        a = 2 * np.pi * i / 8
        r = 10.0 if i % 2 == 0 else 4.0
        pts.append((r * np.cos(a), r * np.sin(a)))
    subj = spark.createDataFrame(
        [(1, _ring(*pts))], "sid long, ring array<struct<x:double,y:double>>"
    )
    clip = spark.createDataFrame(
        [(10, _ring((0, -12), (12, 0), (0, 12), (-12, 0)))],
        "cid long, cring array<struct<x:double,y:double>>",
    )
    got = overlay.overlay_area(subj, clip, clip_k=4).collect()
    assert len(got) == 1
    sp, cp = _pip(pts), _pip([(0, -12), (12, 0), (0, 12), (-12, 0)])
    approx = _grid_area(lambda X, Y: sp(X, Y) & cp(X, Y), -10, 10, -10, 10, n=600)
    assert got[0].inter_area == pytest.approx(approx, rel=0.03)


def test_areal_interpolate_hand_and_conservation(spark):
    """A subject half inside a zone contributes value/2; a fully-covered
    subject's contributions across disjoint tiling zones conserve its
    value to within one micro-unit per pair."""
    subj = spark.createDataFrame(
        [(1, 10.0, _ring((0, 0), (10, 0), (10, 10), (0, 10))),
         (2, 7.0, _ring((20, 0), (24, 0), (24, 4), (20, 4)))],
        "sid long, v double, ring array<struct<x:double,y:double>>",
    )
    clip = spark.createDataFrame(
        [(100, _ring((-50, -50), (5, -50), (5, 50), (-50, 50))),    # left half of subj 1
         (101, _ring((5, -50), (60, -50), (60, 50), (5, 50)))],     # right half + all of subj 2
        "cid long, cring array<struct<x:double,y:double>>",
    )
    got = {
        r.cid: (r.n_parts, r.value_micro_sum)
        for r in overlay.areal_interpolate(subj, clip, clip_k=4, value_col="v").collect()
    }
    assert got == {100: (1, 5_000_000), 101: (2, 5_000_000 + 7_000_000)}
    total = sum(v for _, v in got.values())
    assert abs(total - 17_000_000) <= 3  # one micro-unit slack per pair


def test_zone_line_length_hand_and_replay(spark):
    """Hand-computable clip lengths plus bit-exact parity against an
    independent pure-Python Cyrus-Beck replay on random pairs."""
    segs = spark.createDataFrame(
        [(1, -5.0, 5.0, 15.0, 5.0),     # horizontal through the square: inside 10
         (2, 2.0, 2.0, 8.0, 8.0),       # diagonal fully inside square
         (3, 50.0, 50.0, 60.0, 60.0),   # disjoint
         (4, 0.0, -20.0, 0.0, 20.0)],   # vertical through diamond: inside 20
        "seg_id long, x1 double, y1 double, x2 double, y2 double",
    )
    clip = spark.createDataFrame(
        [(10, _ring((0, 0), (10, 0), (10, 10), (0, 10))),
         (11, _ring((10, 0), (0, 10), (-10, 0), (0, -10)))],
        "cid long, cring array<struct<x:double,y:double>>",
    )
    got = {
        (r.seg_id, r.cid): r.len_in
        for r in overlay.zone_line_length(segs, clip, clip_k=4).collect()
    }
    assert got[(1, 10)] == 10.0
    assert got[(2, 10)] == pytest.approx(6 * np.sqrt(2), abs=1e-3)
    assert (3, 10) not in got and (3, 11) not in got
    assert got[(4, 11)] == 20.0
    # seg 1 through the diamond: chord of |x|+|y|<=10 at y=5 -> x in [-5,5] -> 10
    assert got[(1, 11)] == 10.0

    # random replay parity
    rng = np.random.default_rng(11)
    rsegs = [
        (100 + i, *rng.uniform(-15, 15, 4).tolist()) for i in range(40)
    ]
    rdf = spark.createDataFrame(
        rsegs, "seg_id long, x1 double, y1 double, x2 double, y2 double"
    )
    cpts = [(10, 0), (0, 10), (-10, 0), (0, -10)]

    def cb_len(x1, y1, x2, y2):
        t0, t1 = 0.0, 1.0
        for i in range(4):
            ax, ay = cpts[i]
            bx, by = cpts[(i + 1) % 4]
            f0 = (bx - ax) * (y1 - ay) - (by - ay) * (x1 - ax)
            f1 = (bx - ax) * (y2 - ay) - (by - ay) * (x2 - ax)
            if f0 == f1:
                if f0 < 0:
                    t0 = 2.0
            elif f0 < f1:
                t0 = max(t0, f0 / (f0 - f1))
            else:
                t1 = min(t1, f0 / (f0 - f1))
        if t1 <= t0:
            return 0.0
        ln = (t1 - t0) * np.sqrt((x2 - x1) ** 2 + (y2 - y1) ** 2)
        return np.floor(ln * 1e3 + 0.5) / 1e3

    ref = {}
    for s, x1, y1, x2, y2 in rsegs:
        ln = cb_len(x1, y1, x2, y2)
        if ln > 0:
            ref[(s, 11)] = ln
    clip1 = spark.createDataFrame(
        [(11, _ring(*cpts))], "cid long, cring array<struct<x:double,y:double>>"
    )
    got2 = {
        (r.seg_id, r.cid): r.len_in
        for r in overlay.zone_line_length(rdf, clip1, clip_k=4).collect()
    }
    assert got2 == ref


def test_overlay_general_nonconvex_zone(spark):
    """Non-convex zones via signed fan triangulation: an L-shaped zone's
    intersection with squares matches hand values and the rasterized
    truth; a convex zone matches overlay_area within per-triangle
    quantization."""
    # L-shape: 10x10 square minus its top-right 5x5 quadrant, CCW from origin
    L = [(0, 0), (10, 0), (10, 5), (5, 5), (5, 10), (0, 10)]
    subj = spark.createDataFrame(
        [(1, _ring((2, 2), (8, 2), (8, 8), (2, 8))),    # 6x6 square overlapping the notch
         (2, _ring((6, 6), (9, 6), (9, 9), (6, 9))),    # fully inside the notch -> 0
         (3, _ring((0, 0), (10, 0), (10, 10), (0, 10)))],  # covers the zone -> 75
        "sid long, ring array<struct<x:double,y:double>>",
    )
    clip = spark.createDataFrame(
        [(20, _ring(*L))], "cid string, cring array<struct<x:double,y:double>>"
    )
    got = {
        (r.sid, r.cid): r.inter_area
        for r in overlay.overlay_area_general(subj, clip, clip_k=6).collect()
    }
    # subject 1: 6x6=36 minus notch overlap [5,8]x[5,8]=9 -> 27
    assert got[(1, "20")] == 27.0
    assert (2, "20") not in got
    assert got[(3, "20")] == 75.0

    # convex-zone agreement with overlay_area (within (k-2) quanta)
    sq = spark.createDataFrame(
        [(30, _ring((1, 1), (9, 1), (9, 6), (5, 9), (1, 6)))],  # convex pentagon
        "cid string, cring array<struct<x:double,y:double>>",
    )
    g1 = {
        (r.sid, r.cid): r.inter_area
        for r in overlay.overlay_area_general(subj, sq, clip_k=5).collect()
    }
    g2 = {
        (r.sid, str(r.cid)): r.inter_area
        for r in overlay.overlay_area(subj, sq, clip_k=5).collect()
    }
    assert set(g1) == set(g2)
    for k in g1:
        assert abs(g1[k] - g2[k]) <= 3e-3 + 1e-9, (k, g1[k], g2[k])

    # CW L-shape must give the same areas (orientation-free contract)
    clip_cw = spark.createDataFrame(
        [(20, _ring(*reversed(L)))], "cid string, cring array<struct<x:double,y:double>>"
    )
    got_cw = {
        (r.sid, r.cid): r.inter_area
        for r in overlay.overlay_area_general(subj, clip_cw, clip_k=6).collect()
    }
    assert got_cw == got


def test_overlay_general_negative_fan_signs(spark):
    """A chevron zone whose fan triangulation from v1 contains a
    NEGATIVE-sign triangle (the notch): full coverage recovers the exact
    shoelace area, partial overlaps match the rasterized truth."""
    CH = [(0, 0), (10, 0), (10, 10), (5, 4), (0, 10)]  # area 70, notch on top
    subj = spark.createDataFrame(
        [(1, _ring((0, 0), (10, 0), (10, 10), (0, 10))),   # covers -> 70
         (2, _ring((4, 5), (6, 5), (6, 9), (4, 9))),       # straddles the notch
         (3, _ring((4, 8), (6, 8), (6, 9.5), (4, 9.5)))],  # fully in the notch -> 0
        "sid long, ring array<struct<x:double,y:double>>",
    )
    clip = spark.createDataFrame(
        [(40, _ring(*CH))], "cid string, cring array<struct<x:double,y:double>>"
    )
    got = {
        (r.sid, r.cid): r.inter_area
        for r in overlay.overlay_area_general(subj, clip, clip_k=5).collect()
    }
    assert got[(1, "40")] == 70.0
    assert (3, "40") not in got
    cp = _pip(CH)
    sp = _pip([(4, 5), (6, 5), (6, 9), (4, 9)])
    approx = _grid_area(lambda X, Y: cp(X, Y) & sp(X, Y), 4, 6, 5, 9, n=800)
    assert got[(2, "40")] == pytest.approx(approx, rel=0.05)


def test_zone_line_length_general_nonconvex(spark):
    """Signed fan decomposition for LINE length: segments through an
    L-shaped zone's notch count only their interior portions; full
    coverage of a crossing chord recovers the exact chord length."""
    L = [(0, 0), (10, 0), (10, 5), (5, 5), (5, 10), (0, 10)]
    segs = spark.createDataFrame(
        [(1, -2.0, 2.0, 12.0, 2.0),   # horizontal chord through the base: 10
         (2, -2.0, 8.0, 12.0, 8.0),   # chord at y=8: only x in [0,5] inside -> 5
         (3, 7.0, 6.0, 9.0, 9.0),     # fully inside the notch -> absent
         (4, 2.0, -3.0, 2.0, 13.0)],  # vertical chord at x=2: 10
        "seg_id long, x1 double, y1 double, x2 double, y2 double",
    )
    clip = spark.createDataFrame(
        [(20, _ring(*L))], "cid string, cring array<struct<x:double,y:double>>"
    )
    got = {
        (r.seg_id, r.cid): r.len_in
        for r in overlay.zone_line_length_general(segs, clip, clip_k=6).collect()
    }
    assert got[(1, "20")] == 10.0
    assert got[(2, "20")] == 5.0
    assert (3, "20") not in got
    assert got[(4, "20")] == 10.0


def test_areal_interpolate_general_hand(spark):
    """General-zone value transfer: a subject half inside an L-zone
    contributes value/2; zone totals conserve fully-covered subjects."""
    L = [(0, 0), (10, 0), (10, 5), (5, 5), (5, 10), (0, 10)]
    subj = spark.createDataFrame(
        # 4x4 square [1,5]x[1,5]: fully inside the L -> all 8.0
        # 4x4 square [3,7]x[3,7]: area 16, L-overlap = 16 - [5,7]x[5,7]=4 -> 12 -> 3/4 of 8
        [(1, 8.0, _ring((1, 1), (5, 1), (5, 5), (1, 5))),
         (2, 8.0, _ring((3, 3), (7, 3), (7, 7), (3, 7)))],
        "sid long, v double, ring array<struct<x:double,y:double>>",
    )
    clip = spark.createDataFrame(
        [(20, _ring(*L))], "cid string, cring array<struct<x:double,y:double>>"
    )
    got = {
        r.cid: (r.n_parts, r.value_micro_sum)
        for r in overlay.areal_interpolate_general(
            subj, clip, clip_k=6, value_col="v"
        ).collect()
    }
    assert got == {"20": (2, 8_000_000 + 6_000_000)}


def test_overlay_big_equals_broadcast(spark):
    """The cell-blocked big-big overlay must return EXACTLY the broadcast
    variant's rows — same pairs (exactly-once despite multi-cell
    sharing), same quantized areas — across cell sizes straddling the
    geometry scale.  A point zone and a collinear zone inside a subject
    ride along: both variants must drop them (the zone guard)."""
    rng = np.random.default_rng(23)
    subs, clips = [], []
    for s in range(15):
        ang = np.sort(rng.uniform(0, 2 * np.pi, 6))
        r = rng.uniform(3, 9)
        cx, cy = rng.uniform(-30, 30, 2)
        subs.append((s, _ring(*[(cx + r * np.cos(a), cy + r * np.sin(a)) for a in ang])))
    for c in range(8):
        ang = np.sort(rng.uniform(0, 2 * np.pi, 4))
        r = rng.uniform(4, 10)
        cx, cy = rng.uniform(-25, 25, 2)
        clips.append((100 + c, _ring(*[(cx + r * np.cos(a), cy + r * np.sin(a)) for a in ang])))
    # integer vertices: the collinear zone's shoelace sum is exactly 0
    (px, py), (lx, ly) = (
        (round(np.mean([p["x"] for p in ring])), round(np.mean([p["y"] for p in ring])))
        for _sid, ring in subs[:2]
    )
    clips.append((200, _ring(*[(px, py)] * 4)))  # point
    clips.append((201, _ring(*[(lx + d, ly + d) for d in (-1, 0, 1, 2)])))  # collinear
    subj = spark.createDataFrame(subs, "sid long, ring array<struct<x:double,y:double>>")
    clip = spark.createDataFrame(clips, "cid long, cring array<struct<x:double,y:double>>")
    want = sorted(
        (r.sid, r.cid, r.inter_area)
        for r in overlay.overlay_area(subj, clip, clip_k=4).collect()
    )
    assert want  # fixture sanity: some overlaps exist
    for cell in (4, 16, 64):  # smaller, comparable, larger than the shapes
        rows = overlay.overlay_area_big(subj, clip, clip_k=4, cell=cell).collect()
        got = sorted((r.sid, r.cid, r.inter_area) for r in rows)
        assert len(rows) == len({(r.sid, r.cid) for r in rows}), f"dups at cell={cell}"
        assert got == want, f"cell={cell}"


def test_degenerate_zone_contributes_nothing(spark):
    """The r5 fuzz finding (seed 9449): a DEGENERATE zone — all vertices
    coincident (a point) or collinear (a sliver of zero width) — has no
    interior, but its Sutherland–Hodgman half-planes are vacuous
    (cross = 0 keeps everything), so before the zone guard it
    "contained" whatever survived the bbox prefilter and the two
    engines disagreed on row membership.  Pin the fixed semantics on
    ALL THREE convex ops: degenerate zones yield zero rows, valid
    zones in the same frame are untouched."""
    import duckdb

    subj = spark.createDataFrame(
        [(1, _ring((0, 0), (10, 0), (10, 10), (0, 10)))],
        "sid long, ring array<struct<x:double,y:double>>",
    )
    segs = spark.createDataFrame(
        [(1, 0.0, 0.0, 10.0, 10.0)],
        "seg_id long, x1 double, y1 double, x2 double, y2 double",
    )
    clip = spark.createDataFrame(
        [
            (100, _ring((1, 1), (1, 1), (1, 1), (1, 1))),   # point
            (101, _ring((0, 0), (4, 4), (8, 8), (2, 2))),   # collinear
            (102, _ring((2, 2), (6, 2), (6, 6), (2, 6))),   # valid
        ],
        "cid long, cring array<struct<x:double,y:double>>",
    )
    got_area = {
        (r.sid, r.cid): r.inter_area
        for r in overlay.overlay_area(subj, clip, clip_k=4).collect()
    }
    assert got_area == {(1, 102): 16.0}
    got_len = {
        (r.seg_id, r.cid) for r in overlay.zone_line_length(segs, clip, 4).collect()
    }
    assert got_len == {(1, 102)}
    got_ai = overlay.areal_interpolate(subj, clip, 4, value_col="sid").collect()
    assert {r.cid for r in got_ai} == {102}

    # and the SQL twins drop the same zones (engine-parity on the guard)
    clip_sql = " union all ".join(
        f"select {c} as cid, [" + ", ".join(
            f"{{'x': {float(x)!r}, 'y': {float(y)!r}}}" for x, y in pts
        ) + "]::struct(x double, y double)[] as cr"
        for c, pts in [
            (100, [(1, 1)] * 4),
            (101, [(0, 0), (4, 4), (8, 8), (2, 2)]),
            (102, [(2, 2), (6, 2), (6, 6), (2, 6)]),
        ]
    )
    segs_sql = ("select 1 as seg_id, cast(0 as double) as x1, cast(0 as double) as y1,"
                " cast(10 as double) as x2, cast(10 as double) as y2")
    want = duckdb.sql(
        overlay.zone_line_length_sql(segs_sql, clip_sql, clip_k=4)
    ).fetchall()
    assert {(r[0], r[1]) for r in want} == {(1, 102)}
