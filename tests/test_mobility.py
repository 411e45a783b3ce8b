"""Mobility operators: co-location pairs and OD matrix vs brute force."""

import numpy as np

from geodesk_spark.operators import mobility


def _cell(v, grid_bits):
    return (int(v) + (1 << 31)) >> (32 - grid_bits)


def _cell_y(v, grid_bits):
    return ((1 << 31) - 1 - int(v)) >> (32 - grid_bits)


def test_colocation_pairs_matches_bruteforce(spark):
    rng = np.random.default_rng(17)
    g, bucket = 8, 1000
    rows = []
    for _ in range(400):
        rows.append(
            (
                int(rng.integers(0, 12)),               # user
                int(rng.integers(0, 5000)),             # ts_us
                int(rng.integers(-(1 << 28), 1 << 28)) & ~0xFFFFF,  # coarse x
                int(rng.integers(-(1 << 28), 1 << 28)) & ~0xFFFFF,
            )
        )
    df = spark.createDataFrame(rows, "user_id long, ts_us long, x long, y long")
    got = {
        (r["u1"], r["u2"]): r["n_buckets"]
        for r in mobility.colocation_pairs(
            df, bucket_us=bucket, grid_bits=g, min_buckets=2
        ).collect()
    }
    from collections import defaultdict

    seen = defaultdict(set)
    obs = {(u, ts // bucket, _cell(x, g), _cell_y(y, g)) for u, ts, x, y in rows}
    by_key = defaultdict(set)
    for u, tb, cx, cy in obs:
        by_key[(tb, cx, cy)].add(u)
    for (tb, cx, cy), us in by_key.items():
        us = sorted(us)
        for i in range(len(us)):
            for j in range(i + 1, len(us)):
                seen[(us[i], us[j])].add(tb)
    exp = {p: len(tbs) for p, tbs in seen.items() if len(tbs) >= 2}
    assert got == exp


def test_colocation_cell_cap_drops_hot_cell(spark):
    """A cell over max_users_per_cell is dropped entirely, not exploded."""
    rows = [(u, 0, 0, 0) for u in range(6)] + [(1, 5000, 1 << 30, 0), (2, 5000, 1 << 30, 0)]
    df = spark.createDataFrame(rows, "user_id long, ts_us long, x long, y long")
    got = {
        (r["u1"], r["u2"]): r["n_buckets"]
        for r in mobility.colocation_pairs(
            df, bucket_us=1000, grid_bits=8, min_buckets=1, max_users_per_cell=5
        ).collect()
    }
    # the 6-user cell is dropped; only the 2-user cell pair survives
    assert got == {(1, 2): 1}


def test_colocation_dropped_cells_side_output(spark):
    """with_dropped=True surfaces exactly the capped hot cells (the
    densest cells are often the signal — dropping must not be silent)."""
    rows = [(u, 0, 0, 0) for u in range(6)] + [(1, 5000, 1 << 30, 0), (2, 5000, 1 << 30, 0)]
    df = spark.createDataFrame(rows, "user_id long, ts_us long, x long, y long")
    pairs, dropped = mobility.colocation_pairs(
        df, bucket_us=1000, grid_bits=8, min_buckets=1, max_users_per_cell=5,
        with_dropped=True,
    )
    assert {(r["u1"], r["u2"]) for r in pairs.collect()} == {(1, 2)}
    d = dropped.collect()
    assert len(d) == 1 and d[0]["n_users"] == 6 and d[0]["tb"] == 0


def test_od_matrix_hand_case(spark):
    g = 6
    step = 1 << (32 - g)

    def at(cx, cy):
        return (cx * step - (1 << 31), (1 << 31) - 1 - cy * step)

    day = 100
    rows = []
    # user 1 day 0: cell (10,10) -> (12,11); two middle points elsewhere
    for i, (cx, cy) in enumerate([(10, 10), (20, 20), (11, 30), (12, 11)]):
        x, y = at(cx, cy)
        rows.append((1, i * 10, i, x, y))
    # user 1 day 1: single obs -> self loop at (5,5)
    x, y = at(5, 5)
    rows.append((1, day + 3, 10, x, y))
    # user 2 day 0: same trip as user 1
    x0, y0 = at(10, 10)
    x1, y1 = at(12, 11)
    rows.append((2, 1, 20, x0, y0))
    rows.append((2, 99, 21, x1, y1))
    # user 3: ts tie on the SAME ts broken by event_id
    rows.append((3, 50, 31, *at(7, 7)))
    rows.append((3, 50, 30, *at(8, 8)))
    df = spark.createDataFrame(rows, "user_id long, ts_us long, event_id long, x long, y long")
    got = {
        (r["o_gx"], r["o_gy"], r["d_gx"], r["d_gy"]): r["n_trips"]
        for r in mobility.od_matrix(df, day_us=day, grid_bits=g).collect()
    }
    assert got == {
        (10, 10, 12, 11): 2,
        (5, 5, 5, 5): 1,
        (8, 8, 7, 7): 1,
    }


def test_od_matrix_single_user_day_exchange(spark):
    """The docstring's shuffle claim, asserted on the plan: the trips
    stage reuses the window's (u, day) hash partitioning — exactly ONE
    exchange on user/day columns, and none between window and groupBy."""
    df = spark.createDataFrame(
        [(1, 10, 0, 5, 5), (1, 20, 1, 6, 6), (2, 10, 2, 7, 7)],
        "user_id long, ts_us long, event_id long, x long, y long",
    )
    out = mobility.od_matrix(df, day_us=100, grid_bits=6)
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    # exchanges that partition by the user/day pair
    uday = len(re.findall(r"hashpartitioning\(u#", plan))
    assert uday == 1, plan


def test_staypoints_hand_case(spark):
    """Runs are maximal per cell in time; revisits start new runs; dwell
    threshold filters; ts tie-break by event_id."""
    g = 8
    sub = 32 - g

    def at(cx, cy):
        return (cx << sub) - (1 << 31), (1 << 31) - 1 - (cy << sub)

    a, b = at(10, 10), at(20, 20)
    rows = [
        # user 1: cell A 0-100 (dwell 100), cell B 150-160 (dwell 10),
        # back to A 200-400 (new run, dwell 200)
        (1, 0, 0, *a), (1, 50, 1, *a), (1, 100, 2, *a),
        (1, 150, 3, *b), (1, 160, 4, *b),
        (1, 200, 5, *a), (1, 400, 6, *a),
        # user 2: single obs (dwell 0 -> filtered)
        (2, 0, 7, *a),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_us long, event_id long, x long, y long")
    got = sorted(
        ((r["u"], r["gx"], r["gy"], r["n_obs"], r["start_us"], r["end_us"], r["dwell_us"])
         for r in mobility.staypoints(df, min_duration_us=50, grid_bits=g).collect()),
        key=lambda t: (t[0], t[4]),
    )
    assert got == [
        (1, 10, 10, 3, 0, 100, 100),
        (1, 10, 10, 2, 200, 400, 200),
    ]


def test_map_match_compiles_on_driver_query_points(spark, monkeypatch):
    """map_match over the driver query's point frame (``_mm_points``: a
    windowed events frame, so the candidate join is not folded into a
    local relation) runs compiled.  With codegen fallback off, a
    generated method past janino's 64 KB limit raises instead of
    silently running interpreted."""
    import pandas as pd

    from geodesk_spark.driver_queries import graph_mobility as gm

    rng = np.random.default_rng(0)
    n = 3_000
    events = spark.createDataFrame(pd.DataFrame({
        "user_id": rng.integers(0, 300, n).astype("int64"),
        "ts": pd.to_datetime(rng.integers(0, 10**9, n), unit="s"),
        "event_id": np.arange(n, dtype="int64"),
    }))
    monkeypatch.setattr(gm.tables, "load_spread", lambda s, sf_dir, name: events)
    pts = gm._mm_points(spark, None)
    segs = spark.createDataFrame(
        gm._mm_segments(), "seg_id int, x1 long, y1 long, x2 long, y2 long"
    )
    old = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        got = mobility.map_match(
            pts, segs, gm.MM_RADIUS, sigma_m=gm.MM_SIGMA, beta_m=gm.MM_BETA,
            max_cands=gm.MM_CANDS,
        ).toPandas()
    finally:
        spark.conf.set("spark.sql.codegen.fallback", old)
    assert len(got) > 0
    assert not got.duplicated(["traj_id", "seq"]).any()
    assert set(got["seq"]) <= set(range(gm.MM_STEPS))


def test_map_match_matches_path_enumeration(spark):
    """HMM map matching equals brute-force enumeration of ALL candidate
    paths (the definitional check), and differs from greedy per-point
    snapping somewhere (sequence-awareness is real)."""
    import itertools

    import numpy as np

    from geodesk_spark.geo import mercator
    from geodesk_spark.operators import mobility
    from geodesk_spark.operators.knn import segment_candidates

    rng = np.random.default_rng(42)
    X0, Y0, S = 100_000_000, 5_000_000, 200_000
    segs = []
    sid = 0
    for r in range(5):
        for c in range(4):
            segs.append((sid, X0 + c * S, Y0 + r * S, X0 + (c + 1) * S, Y0 + r * S))
            sid += 1
    for c in range(5):
        for r in range(4):
            segs.append((sid, X0 + c * S, Y0 + r * S, X0 + c * S, Y0 + (r + 1) * S))
            sid += 1
    seg_df = spark.createDataFrame(
        segs, "seg_id int, x1 long, y1 long, x2 long, y2 long"
    )
    pts = []
    for traj in range(12):
        for seq in range(6):
            pts.append(
                (
                    traj,
                    seq,
                    int(X0 + rng.integers(0, 4 * S + 1)),
                    int(Y0 + rng.integers(0, 4 * S + 1)),
                )
            )
    # crafted trajectory: runs along the r=2 horizontal road with one
    # noisy blip at seq 3 sitting NEARER to a crossing vertical segment —
    # greedy snapping zig-zags onto it, the HMM's transition term holds
    # the road (verified by the same enumeration below)
    for seq in range(6):
        px, py = X0 + 107_000 + 30_000 * seq, Y0 + 2 * S + 2_000
        if seq == 3:
            px, py = X0 + 197_000, Y0 + 2 * S + 5_000
        pts.append((100, seq, px, py))
    pts_df = spark.createDataFrame(pts, "traj_id long, seq int, x long, y long")

    RADIUS, SIGMA, BETA, M = 1_000.0, 100.0, 100.0, 4
    got = (
        mobility.map_match(
            pts_df, seg_df, RADIUS, sigma_m=SIGMA, beta_m=BETA, max_cands=M
        )
        .toPandas()
        .sort_values(["traj_id", "seq"])
        .reset_index(drop=True)
    )
    assert len(got) == len(pts)  # radius covers every grid position

    # independent brute force: same candidates, enumerate every path
    cands = (
        segment_candidates(pts_df, seg_df, RADIUS, ["traj_id", "seq"])
        .toPandas()
        .sort_values(["traj_id", "seq", "dist_m", "seg_id"])
    )
    greedy_diff = 0
    for traj, tdf in cands.groupby("traj_id"):
        steps = [
            g.head(M).reset_index(drop=True) for _, g in tdf.groupby("seq", sort=True)
        ]
        best_score, best_path = -np.inf, None
        for path in itertools.product(*[range(len(g)) for g in steps]):
            sc = 0.0
            for t, j in enumerate(path):
                g = steps[t].iloc[j]
                sc += -(g["dist_m"] ** 2) / (2 * SIGMA * SIGMA)
                if t > 0:
                    p = steps[t - 1].iloc[path[t - 1]]
                    d_pp = float(
                        mercator.distance(p["px"], p["py"], g["px"], g["py"])[()]
                    )
                    d_proj = float(
                        mercator.distance(p["sx"], p["sy"], g["sx"], g["sy"])[()]
                    )
                    sc += -abs(d_pp - d_proj) / BETA
            if sc > best_score:
                best_score, best_path = sc, path
        want = [int(steps[t].iloc[j]["seg_id"]) for t, j in enumerate(best_path)]
        have = got[got["traj_id"] == traj].sort_values("seq")["seg_id"].tolist()
        assert have == want, f"traj {traj}: {have} != {want}"
        greedy = [int(g.iloc[0]["seg_id"]) for g in steps]  # per-point nearest
        if greedy != want:
            greedy_diff += 1
    assert greedy_diff > 0  # the HMM corrected at least one greedy zig-zag


def test_trajectory_hausdorff_matches_bruteforce(spark):
    import math

    from geodesk_spark.geo import mercator

    EC, W = mercator.EARTH_CIRCUMFERENCE, mercator.MAP_WIDTH
    rng = np.random.default_rng(23)
    g, M = 6, 5
    centers = [(-(1 << 28), 1 << 27), (1 << 29, -(1 << 28))]
    rows = []
    for u in range(8):
        cx, cy = centers[u % 2]
        for i in range(7):  # 7 points, cap M=5 must bite
            rows.append(
                (
                    u,
                    i * 100,
                    i,
                    cx + int(rng.integers(-(1 << 26), 1 << 26)),
                    cy + int(rng.integers(-(1 << 26), 1 << 26)),
                )
            )
    df = spark.createDataFrame(rows, "user_id long, ts_us long, event_id long, x long, y long")
    got = {
        (r["u1"], r["u2"]): r["hausdorff_m"]
        for r in mobility.trajectory_hausdorff_pairs(
            df, grid_bits=g, max_points=M
        ).collect()
    }

    def dm(p, q):
        dx, dy = p[0] - q[0], p[1] - q[1]
        t = (p[1] + q[1]) / 2 * 2 * math.pi / W
        return math.hypot(dx, dy) * EC / W / ((math.exp(t) + math.exp(-t)) / 2)

    pts = {}
    for u, ts, eid, x, y in rows:
        pts.setdefault(u, []).append((ts, eid, x, y))
    traj = {u: [(x, y) for _, _, x, y in sorted(v)[:M]] for u, v in pts.items()}
    cells = {
        u: {(_cell(x, g), _cell_y(y, g)) for x, y in v} for u, v in traj.items()
    }
    exp = {}
    for u1 in traj:
        for u2 in traj:
            if u1 < u2 and cells[u1] & cells[u2]:
                d = [[dm(p, q) for q in traj[u2]] for p in traj[u1]]
                h = max(
                    max(min(r) for r in d),
                    max(min(d[i][j] for i in range(len(d))) for j in range(len(d[0]))),
                )
                exp[(u1, u2)] = round(h, 3)
    assert set(got) == set(exp)
    for k in exp:
        assert abs(got[k] - exp[k]) < 1e-6, (k, got[k], exp[k])
    # same-center users must pair; cross-center (>>cell apart) must not
    assert (0, 2) in got and (1, 3) in got and (0, 1) not in got


def test_mann_kendall_cells_matches_zero_fill_bruteforce(spark):
    rng = np.random.default_rng(41)
    g, bucket = 8, 1000
    rows = []
    for _ in range(300):
        rows.append(
            (
                int(rng.integers(0, 20_000)),                      # ts_us
                int(rng.integers(-(1 << 28), 1 << 28)) & ~0xFFFFFF,
                int(rng.integers(-(1 << 28), 1 << 28)) & ~0xFFFFFF,
            )
        )
    df = spark.createDataFrame(rows, "ts_us long, x long, y long")
    got = {
        (r["gx"], r["gy"]): (r["n_total"], r["n_buckets"], r["mk_s"])
        for r in mobility.mann_kendall_cells(df, grid_bits=g, bucket_us=bucket).collect()
    }
    # brute force: dense zero-filled series over the GLOBAL bucket range
    from collections import Counter

    cnt = Counter()
    for ts, x, y in rows:
        cnt[(_cell(x, g), _cell_y(y, g), ts // bucket)] += 1
    tbs = [tb for _, _, tb in cnt]
    mn, mx = min(tbs), max(tbs)
    cells = {(cx, cy) for cx, cy, _ in cnt}
    exp = {}
    for cx, cy in cells:
        series = [cnt.get((cx, cy, t), 0) for t in range(mn, mx + 1)]
        s = sum(
            (0 if series[j] == series[i] else (1 if series[j] > series[i] else -1))
            for i in range(len(series))
            for j in range(i + 1, len(series))
        )
        exp[(cx, cy)] = (sum(series), sum(1 for v in series if v), s)
    assert got == exp
    # a strictly rising planted cell gets the max possible S
    rise = [(t * 1000 + k, 1 << 30, 1 << 30) for t in range(5) for k in range(t + 1)]
    df2 = spark.createDataFrame(rows + rise, "ts_us long, x long, y long")
    got2 = {
        (r["gx"], r["gy"]): r["mk_s"]
        for r in mobility.mann_kendall_cells(df2, grid_bits=g, bucket_us=bucket).collect()
    }
    cx, cy = _cell(1 << 30, g), _cell_y(1 << 30, g)
    T = max(max(tbs), 4) - min(min(tbs), 0) + 1
    # rising run occupies buckets 0..4 with counts 1..5; rest zeros
    series = [0] * T
    for t in range(5):
        series[t - min(min(tbs), 0)] = t + 1
    s = sum(
        (0 if series[j] == series[i] else (1 if series[j] > series[i] else -1))
        for i in range(T)
        for j in range(i + 1, T)
    )
    assert got2[(cx, cy)] == s


def test_trajectory_frechet_matches_bruteforce(spark):
    import math
    from functools import lru_cache

    from geodesk_spark.geo import mercator

    EC, W = mercator.EARTH_CIRCUMFERENCE, mercator.MAP_WIDTH
    rng = np.random.default_rng(29)
    g, M = 6, 6
    centers = [(-(1 << 28), 1 << 27), (1 << 29, -(1 << 28))]
    rows = []
    for u in range(8):
        cx, cy = centers[u % 2]
        for i in range(8):  # 8 points, cap M=6 must bite
            rows.append(
                (
                    u,
                    i * 100,
                    i,
                    cx + int(rng.integers(-(1 << 26), 1 << 26)),
                    cy + int(rng.integers(-(1 << 26), 1 << 26)),
                )
            )
    df = spark.createDataFrame(rows, "user_id long, ts_us long, event_id long, x long, y long")
    got = {
        (r["u1"], r["u2"]): r["frechet_m"]
        for r in mobility.trajectory_frechet_pairs(df, grid_bits=g, max_points=M).collect()
    }

    def dm(p, q):
        dx, dy = p[0] - q[0], p[1] - q[1]
        t = (p[1] + q[1]) / 2 * 2 * math.pi / W
        return math.hypot(dx, dy) * EC / W / ((math.exp(t) + math.exp(-t)) / 2)

    pts = {}
    for u, ts, eid, x, y in rows:
        pts.setdefault(u, []).append((ts, eid, x, y))
    traj = {u: [(x, y) for _, _, x, y in sorted(v)[:M]] for u, v in pts.items()}
    cells = {u: {(_cell(x, g), _cell_y(y, g)) for x, y in v} for u, v in traj.items()}

    def frechet(A, B):
        @lru_cache(maxsize=None)
        def c(i, j):
            d = dm(A[i], B[j])
            if i == 0 and j == 0:
                return d
            if i == 0:
                return max(d, c(0, j - 1))
            if j == 0:
                return max(d, c(i - 1, 0))
            return max(d, min(c(i - 1, j), c(i - 1, j - 1), c(i, j - 1)))

        return c(len(A) - 1, len(B) - 1)

    exp = {}
    for u1 in traj:
        for u2 in traj:
            if u1 < u2 and cells[u1] & cells[u2]:
                exp[(u1, u2)] = round(frechet(traj[u1], traj[u2]), 3)
    assert set(got) == set(exp)
    for k in exp:
        assert abs(got[k] - exp[k]) < 1e-6, (k, got[k], exp[k])
    # Fréchet >= Hausdorff on every pair (classical inequality)
    h = {
        (r["u1"], r["u2"]): r["hausdorff_m"]
        for r in mobility.trajectory_hausdorff_pairs(df, grid_bits=g, max_points=M).collect()
    }
    for k in got:
        assert got[k] >= h[k] - 1e-9


def test_teleport_flags_speed_law(spark):
    """Hand-built trajectory: slow hop unflagged, fast jump flagged,
    zero-dt duplicate with movement flagged, first ping never flagged."""
    from pyspark.sql import functions as F

    from geodesk_spark.geo import mercator
    from geodesk_spark.operators import mobility

    M = 1_000_000  # ~ meters-scale imp step near the equator
    rows = [
        # user 1: t in seconds->us; equatorial so imp~distance scale is uniform
        (1, 0 * M, 1, 0, 0),
        (1, 60 * M, 2, 1000, 0),       # tiny hop in 60 s -> slow
        (1, 120 * M, 3, 50_000_000, 0),  # huge jump in 60 s -> teleport
        (1, 120 * M, 4, 50_001_000, 0),  # zero-dt duplicate WITH movement -> flagged
        (2, 0 * M, 9, 7, 7),           # other user's first ping: unflagged
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts_us long, event_id long, x long, y long"
    )
    got = {
        r["id"]: (r["is_teleport"], r["dist_m"])
        for r in mobility.teleport_flags(df, vmax_mps=60.0).collect()
    }
    assert got[1][0] == 0 and got[1][1] is None  # first ping
    assert got[2][0] == 0
    assert got[3][0] == 1
    assert got[4][0] == 1  # zero dt, nonzero move
    assert got[9][0] == 0 and got[9][1] is None
    # dist of the 1000-imp hop matches the engine's Mercator meters
    exp = spark.range(1).select(
        mercator.distance_col(F.lit(1000), F.lit(0), F.lit(0), F.lit(0)).alias("d")
    ).collect()[0]["d"]
    assert got[2][1] == exp


def test_resample_time_hand_track(spark):
    """Hand-computable interpolation: ticks strictly inside (prev, cur],
    exact linear positions, zero-dt duplicates vanish, gaps interpolate
    across, first ping emits nothing."""
    from geodesk_spark.operators import mobility

    s = 10_000_000  # 10 s grid
    rows = [
        # user 1: pings at t=5s (x=0), 25s (x=200), 25s dup, 47s (x=420)
        (1, 5_000_000, 1, 0.0, 0.0),
        (1, 25_000_000, 2, 200.0, 40.0),
        (1, 25_000_000, 3, 200.0, 40.0),
        (1, 47_000_000, 4, 420.0, 84.0),
        # user 2: single ping -> nothing
        (2, 8_000_000, 5, 7.0, 7.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts_us long, event_id long, x double, y double"
    )
    got = {
        (r.user, r.tick_us): (r.x, r.y)
        for r in mobility.resample_time(df, step_s=10.0).collect()
    }
    # segment 5s->25s covers ticks 10s, 20s: x = 10·(t-5)/20... x(10)=50, x(20)=150
    # dup 25s->25s: empty; segment 25s->47s covers 30s, 40s:
    # x(30) = 200 + (5/22)·220 = 250, x(40) = 200 + (15/22)·220 = 350
    assert got[(1, 10_000_000)] == (50.0, 10.0)
    assert got[(1, 20_000_000)] == (150.0, 30.0)
    assert got[(1, 30_000_000)] == (250.0, 50.0)
    assert got[(1, 40_000_000)] == (350.0, 70.0)
    assert len(got) == 4  # nothing else: no tick at 25s? 20s<25s<30s -- none on grid
    # determinism under repartitioning
    got2 = {
        (r.user, r.tick_us): (r.x, r.y)
        for r in mobility.resample_time(df.repartition(7), step_s=10.0).collect()
    }
    assert got2 == got
