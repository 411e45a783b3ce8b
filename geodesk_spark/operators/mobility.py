"""Mobility analytics over located event streams — the spatio-temporal
layer above the tiling ops: co-location (contact) detection and
origin→destination flow rollups.

Both consume the same (user, time, x, y) shape the geofence and
sessionize operators use; cells come from the global lattice
(tiles_sink.grid_counts conventions) so one binning serves raster,
hotspot and mobility paths alike.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _cell_cols(x, y, grid_bits: int):
    sub = 32 - grid_bits
    gx = F.shiftright(x.cast("bigint") + (1 << 31), sub)
    gy = F.shiftright(F.lit((1 << 31) - 1) - y.cast("bigint"), sub)
    return gx, gy


def colocation_pairs(
    located: DataFrame,
    bucket_us: int,
    grid_bits: int = 10,
    min_buckets: int = 2,
    user_col: str = "user_id",
    ts_col: str = "ts_us",
    max_users_per_cell: int = 10_000,
    with_dropped: bool = False,
):
    """Co-location (contact) detection: pairs of users observed in the
    SAME lattice cell during the SAME time bucket, sustained over at
    least ``min_buckets`` distinct buckets — convoy/contact analytics.

    Scale shape: project to distinct (user, bucket, gx, gy) FIRST (the
    dedup collapses per-user event bursts, usually the dominant
    reduction), then a self-equi-join on (bucket, cell) with ``u1 < u2``
    — candidate pairs are quadratic only in the per-(bucket, cell)
    user count, never in the table.  A degenerate cell (stadium) is
    guarded by ``max_users_per_cell``: cells over the cap are excluded
    from pairing rather than silently exploding a task (the LSH
    bucket-cap rule).  Because the densest cells are often the signal,
    the exclusion is never silent-by-construction: pass
    ``with_dropped=True`` to get ``(pairs, dropped)`` where ``dropped``
    is the (tb, gx, gy, n_users) table of capped cells — route it to a
    side sink, raise the cap, or coarsen the bucket for exactly those
    cells (VERDICT r02 #4).  Final rollup counts DISTINCT buckets per
    pair, so multi-cell co-occurrence inside one bucket counts once.

    Returns (u1, u2, n_buckets), or that frame plus the dropped-cell
    frame when ``with_dropped``.
    """
    gx, gy = _cell_cols(F.col("x"), F.col("y"), grid_bits)
    obs = (
        located.select(
            F.col(user_col).alias("u"),
            F.expr(f"cast(({ts_col}) as bigint) div {bucket_us}").alias("tb"),
            gx.alias("gx"),
            gy.alias("gy"),
        )
        .distinct()
    )
    cnt = Window.partitionBy("tb", "gx", "gy")
    obs = obs.withColumn("_n", F.count("*").over(cnt))
    kept = obs.filter(F.col("_n") <= max_users_per_cell)
    a = kept.select("tb", "gx", "gy", F.col("u").alias("u1"))
    b = kept.select("tb", "gx", "gy", F.col("u").alias("u2"))
    pairs = a.join(b, ["tb", "gx", "gy"]).filter(F.col("u1") < F.col("u2"))
    out = (
        pairs.groupBy("u1", "u2")
        .agg(F.count_distinct("tb").alias("n_buckets"))
        .filter(F.col("n_buckets") >= min_buckets)
    )
    if not with_dropped:
        return out
    dropped = (
        obs.filter(F.col("_n") > max_users_per_cell)
        .groupBy("tb", "gx", "gy")
        .agg(F.count("*").alias("n_users"))
    )
    return out, dropped


def od_matrix(
    located: DataFrame,
    day_us: int = 86_400_000_000,
    grid_bits: int = 6,
    user_col: str = "user_id",
    ts_col: str = "ts_us",
    order_col: str = "event_id",
) -> DataFrame:
    """Origin→destination flow matrix: per (user, day), the cell of the
    FIRST and LAST observation become one O→D trip; flows aggregate
    trips per (origin cell, destination cell) — the standard mobility
    rollup (commute matrices, tile-to-tile demand).

    ONE shuffle: both ends come from two row_numbers over the SAME
    (user, day) partitioning (asc = origin, desc = destination,
    ``order_col`` tie-break), merged by conditional aggregation that
    REUSES that partitioning (no self-join, no second exchange — the
    sessionize pattern); the flow groupBy is over the tiny cell-pair
    domain.  A user seen once in a day contributes a self-loop O=D
    (kept: the honest count of stationary users; filter downstream if
    unwanted).

    Returns (o_gx, o_gy, d_gx, d_gy, n_trips).
    """
    gx, gy = _cell_cols(F.col("x"), F.col("y"), grid_bits)
    obs = located.select(
        F.col(user_col).alias("u"),
        F.expr(f"cast(({ts_col}) as bigint) div {day_us}").alias("day"),
        F.col(ts_col).alias("_ts"),
        F.col(order_col).alias("_ord"),
        gx.alias("gx"),
        gy.alias("gy"),
    )
    w = Window.partitionBy("u", "day")
    fwd = w.orderBy("_ts", "_ord")
    bwd = w.orderBy(F.col("_ts").desc(), F.col("_ord").desc())
    ends = obs.withColumn("_rf", F.row_number().over(fwd)).withColumn(
        "_rb", F.row_number().over(bwd)
    )
    pick = lambda flag, c: F.max(F.when(F.col(flag) == 1, F.col(c)))
    trips = ends.groupBy("u", "day").agg(
        pick("_rf", "gx").alias("o_gx"),
        pick("_rf", "gy").alias("o_gy"),
        pick("_rb", "gx").alias("d_gx"),
        pick("_rb", "gy").alias("d_gy"),
    )
    return (
        trips.groupBy("o_gx", "o_gy", "d_gx", "d_gy")
        .agg(F.count("*").alias("n_trips"))
    )


def staypoints(
    located: DataFrame,
    min_duration_us: int,
    grid_bits: int = 10,
    user_col: str = "user_id",
    ts_col: str = "ts_us",
    order_col: str = "event_id",
) -> DataFrame:
    """Stay-point detection: maximal runs of consecutive observations of
    a user inside ONE lattice cell, kept when the dwell (last ts − first
    ts of the run) reaches ``min_duration_us`` — the home/work/POI-visit
    primitive of mobility analytics.

    Gaps-and-islands on the CELL run (the sessionize pattern): one
    per-user window computes the lag cell and the running run index
    (sum of change flags); the per-(user, run) rollup reuses the
    window's hash partitioning — ONE shuffle total.  A cell revisited
    later is a NEW run (runs are maximal in time, not unique per cell).

    Returns (user, gx, gy, n_obs, start_us, end_us, dwell_us).
    """
    gx, gy = _cell_cols(F.col("x"), F.col("y"), grid_bits)
    obs = located.select(
        F.col(user_col).alias("u"),
        F.col(ts_col).alias("_ts"),
        F.col(order_col).alias("_ord"),
        gx.alias("gx"),
        gy.alias("gy"),
    )
    w = Window.partitionBy("u").orderBy("_ts", "_ord")
    changed = (
        (~F.col("gx").eqNullSafe(F.lag("gx").over(w)))
        | (~F.col("gy").eqNullSafe(F.lag("gy").over(w)))
    ).cast("int")
    runs = obs.withColumn("_run", F.sum(changed).over(w))
    return (
        runs.groupBy("u", "_run")
        .agg(
            # constant within a run by construction; min() for determinism
            F.min("gx").alias("gx"),
            F.min("gy").alias("gy"),
            F.count("*").alias("n_obs"),
            F.min("_ts").alias("start_us"),
            F.max("_ts").alias("end_us"),
        )
        .filter((F.col("end_us") - F.col("start_us")) >= min_duration_us)
        .select(
            F.col("u"),
            "gx",
            "gy",
            "n_obs",
            "start_us",
            "end_us",
            (F.col("end_us") - F.col("start_us")).alias("dwell_us"),
        )
    )


def map_match(
    points: DataFrame,
    segments: DataFrame,
    radius_m: float,
    sigma_m: float = 50.0,
    beta_m: float = 200.0,
    max_cands: int = 4,
    traj_col: str = "traj_id",
    seq_col: str = "seq",
    seg_id: str = "seg_id",
) -> DataFrame:
    """HMM map matching (Newson & Krumm 2009, the standard formulation):
    assign every trajectory point the road segment that maximizes the
    joint emission × transition likelihood along the whole trajectory —
    the sequence-aware upgrade of ``knn.snap_to_segments`` (which picks
    the per-point nearest and zig-zags at intersections).

    - emission(point, seg)  = −dist² / (2·σ²)    (log space, Gaussian GPS noise)
    - transition(i → j)     = −|d(pₜ₋₁,pₜ) − d(projᵢ,projⱼ)| / β
      (the straight-line surrogate for route distance — the published
      simplification when no routable graph is attached)

    ``points`` needs (traj_col, seq_col, x, y); ``segments``
    (seg_id, x1, y1, x2, y2).  Returns (traj_col, seq_col, seg_id) for
    every point with ≥1 candidate within ``radius_m``; candidate-less
    points drop out (their step contributes no lattice column).

    Plan shape: candidates = the snap_to_segments broadcast bbox join
    (planet-scale road networks: swap in cell-blocked candidates à la
    ``distance_join``), then a bounded per-point top-``max_cands``
    window, then ONE ``applyInPandas`` per trajectory for the Viterbi
    decode — the DP state is inherently per-trajectory, trajectories
    are bounded (10³-10⁴ points) while the corpus is not, so the
    trajectory is the correct parallel grain at 10^12 rows.  All float
    math is plain IEEE doubles in the documented op order, so an
    unrolled-CTE SQL oracle reproduces the decode bit-for-bit."""
    import numpy as np
    import pandas as pd

    from geodesk_spark.geo import mercator
    from geodesk_spark.operators.knn import segment_candidates

    cand = segment_candidates(
        points, segments, radius_m, [traj_col, seq_col], seg_id=seg_id,
        max_cands=max_cands,
    ).drop("t")
    two_sig2 = 2.0 * sigma_m * sigma_m
    beta = float(beta_m)

    def decode(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([seq_col, seg_id], kind="mergesort")
        steps = [g for _, g in pdf.groupby(seq_col, sort=True)]
        # forward pass
        emis = [-(g["dist_m"].to_numpy() ** 2) / two_sig2 for g in steps]
        score = emis[0]
        bps: list[np.ndarray] = []
        for t in range(1, len(steps)):
            prev, cur = steps[t - 1], steps[t]
            d_pp = mercator.distance(
                prev["px"].iloc[0], prev["py"].iloc[0],
                cur["px"].iloc[0], cur["py"].iloc[0],
            )[()]
            d_proj = mercator.distance(
                prev["sx"].to_numpy()[:, None], prev["sy"].to_numpy()[:, None],
                cur["sx"].to_numpy()[None, :], cur["sy"].to_numpy()[None, :],
            )
            tot = score[:, None] + (-np.abs(d_pp - d_proj) / beta)
            bp = np.argmax(tot, axis=0)
            bps.append(bp)
            score = tot[bp, np.arange(tot.shape[1])] + emis[t]
        # backtrack
        j = int(np.argmax(score))
        picks = [j]
        for bp in reversed(bps):
            j = int(bp[j])
            picks.append(j)
        picks.reverse()
        return pd.DataFrame(
            {
                traj_col: [key[0]] * len(steps),
                seq_col: [g[seq_col].iloc[0] for g in steps],
                seg_id: [
                    steps[t][seg_id].iloc[picks[t]] for t in range(len(steps))
                ],
            }
        )

    fields = {f.name: f.dataType.simpleString() for f in cand.schema.fields}
    schema = (
        f"{traj_col} {fields[traj_col]}, {seq_col} {fields[seq_col]}, "
        f"{seg_id} {fields[seg_id]}"
    )
    return cand.groupBy(traj_col).applyInPandas(decode, schema=schema)


def trajectory_hausdorff_pairs(
    located: DataFrame,
    grid_bits: int = 4,
    max_points: int = 12,
    user_col: str = "user_id",
    ts_col: str = "ts_us",
    order_col: str = "event_id",
    max_users_per_cell: int = 10_000,
) -> DataFrame:
    """Trajectory-similarity join: symmetric discrete Hausdorff distance
    (meters, Mercator-scaled) between every candidate pair of user
    trajectories — the shape-similarity primitive behind route
    clustering, anomalous-trip detection and trajectory dedup.

    Scale shape (the dedup-banding recipe applied to trajectories):
    1. Cap each trajectory to its first ``max_points`` observations
       (row_number per user) — at real scale resample first
       (geometry_ops.resample_line) so the cap is a uniform sketch, not
       a prefix; the cap bounds every pair's distance matrix at
       max_points² rows.
    2. Candidate pairs = users sharing ≥1 coarse lattice cell
       (grid_bits), u1 < u2 — trajectories that never come near each
       other are never compared (Hausdorff ≥ cell distance, so far
       pairs are dull by construction).  Cells with more than
       ``max_users_per_cell`` users are excluded from pairing (the
       colocation_pairs hot-cell rule) so one stadium cell cannot go
       quadratic.
    3. ONE point×point join builds each pair's distance matrix; each
       matrix row then plays BOTH directed roles via a 2-way explode
       (side 0 = indexed by u1's point, side 1 = by u2's), and

           H(A,B) = max(h_AB, h_BA)
                  = max over (side, idx) of  min over the other side of d

       collapses to groupBy(pair, side, idx).min → groupBy(pair).max —
       the symmetric Hausdorff in ONE pass over the matrix, no
       double-scan of the join.

    All distance math is JVM (mercator.distance_col); the result is
    round(·, 3) — transcendental output, so engine-native round per the
    repo's rounding discipline.  Returns (u1, u2, hausdorff_m).
    """
    m = _pair_point_matrix(
        located, grid_bits, max_points, user_col, ts_col, order_col,
        max_users_per_cell,
    ).select(
        "u1",
        "u2",
        "d",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("side"), F.col("ia").alias("idx")),
                F.struct(F.lit(1).alias("side"), F.col("ib").alias("idx")),
            )
        ).alias("r"),
    )
    return (
        m.groupBy("u1", "u2", "r.side", "r.idx")
        .agg(F.min("d").alias("md"))
        .groupBy("u1", "u2")
        .agg(F.round(F.max("md"), 3).alias("hausdorff_m"))
    )


def _pair_point_matrix(
    located: DataFrame,
    grid_bits: int,
    max_points: int,
    user_col: str,
    ts_col: str,
    order_col: str,
    max_users_per_cell: int,
) -> DataFrame:
    """Shared trajectory-pair machinery (Hausdorff / Fréchet): cap each
    user's trajectory to its first ``max_points`` observations, block
    candidate pairs by shared coarse cell (hot-cell capped), and emit
    each pair's full point×point distance matrix (u1, u2, ia, ib, d)
    with d in Mercator-scaled meters.  ia/ib are 1-based row_number
    positions along each trajectory."""
    from geodesk_spark.geo import mercator

    w = Window.partitionBy("u").orderBy("_ts", "_ord")
    pts = (
        located.select(
            F.col(user_col).alias("u"),
            F.col(ts_col).alias("_ts"),
            F.col(order_col).alias("_ord"),
            "x",
            "y",
        )
        .withColumn("idx", F.row_number().over(w))
        .filter(F.col("idx") <= max_points)
        .select("u", "idx", "x", "y")
    )
    gx, gy = _cell_cols(F.col("x"), F.col("y"), grid_bits)
    cells = pts.select("u", gx.alias("gx"), gy.alias("gy")).distinct()
    per_cell = Window.partitionBy("gx", "gy")
    cells = cells.withColumn("_n", F.count("*").over(per_cell)).filter(
        F.col("_n") <= max_users_per_cell
    )
    pairs = (
        cells.select("gx", "gy", F.col("u").alias("u1"))
        .join(cells.select("gx", "gy", F.col("u").alias("u2")), ["gx", "gy"])
        .filter(F.col("u1") < F.col("u2"))
        .select("u1", "u2")
        .distinct()
    )
    a = pts.select(F.col("u").alias("u1"), F.col("idx").alias("ia"),
                   F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = pts.select(F.col("u").alias("u2"), F.col("idx").alias("ib"),
                   F.col("x").alias("xb"), F.col("y").alias("yb"))
    return (
        pairs.join(a, "u1")
        .join(b, "u2")
        .select(
            "u1",
            "u2",
            "ia",
            "ib",
            mercator.distance_col(
                F.col("xa"), F.col("ya"), F.col("xb"), F.col("yb")
            ).alias("d"),
        )
    )


def trajectory_frechet_pairs(
    located: DataFrame,
    grid_bits: int = 4,
    max_points: int = 12,
    user_col: str = "user_id",
    ts_col: str = "ts_us",
    order_col: str = "event_id",
    max_users_per_cell: int = 10_000,
) -> DataFrame:
    """Order-AWARE trajectory similarity: discrete Fréchet distance
    (meters) between candidate trajectory pairs — the dog-leash metric.
    Hausdorff asks "do the point sets overlap"; Fréchet asks "can the
    two paths be walked IN ORDER staying close" — the right metric for
    route equivalence (an out-and-back and a one-way line share a
    Hausdorff of ~0 but a large Fréchet).

    Candidates and distance matrices come from the same blocked
    machinery as trajectory_hausdorff_pairs (_pair_point_matrix); the
    minimax DP

        c[i][j] = max(d[i][j], min(c[i-1][j], c[i-1][j-1], c[i][j-1]))

    runs per pair in ONE applyInPandas over the (u1, u2) grouping — the
    per-pair kernel grain (matrices are ≤ max_points², constant-sized;
    the DP is inherently sequential per pair, embarrassingly parallel
    across pairs).  The oracle unrolls the SAME recurrence by
    anti-diagonal as 2·max_points−1 chained CTEs — set-based, no
    recursion, independently proving the kernel.

    Returns (u1, u2, frechet_m) with round(·, 3).
    """
    import numpy as np
    import pandas as pd

    m = _pair_point_matrix(
        located, grid_bits, max_points, user_col, ts_col, order_col,
        max_users_per_cell,
    )

    def dp(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        na = int(pdf["ia"].max())
        nb = int(pdf["ib"].max())
        D = np.empty((na, nb), dtype=np.float64)
        D[pdf["ia"].to_numpy() - 1, pdf["ib"].to_numpy() - 1] = pdf["d"].to_numpy()
        c = np.empty_like(D)
        for i in range(na):
            for j in range(nb):
                if i == 0 and j == 0:
                    prev = D[0, 0]
                elif i == 0:
                    prev = c[0, j - 1]
                elif j == 0:
                    prev = c[i - 1, 0]
                else:
                    prev = min(c[i - 1, j], c[i - 1, j - 1], c[i, j - 1])
                c[i, j] = max(D[i, j], prev)
        return pd.DataFrame(
            {"u1": [key[0]], "u2": [key[1]], "frechet_m": [round(c[na - 1, nb - 1], 3)]}
        )

    f1 = {f.name: f.dataType.simpleString() for f in m.schema.fields}
    return m.groupBy("u1", "u2").applyInPandas(
        dp, schema=f"u1 {f1['u1']}, u2 {f1['u2']}, frechet_m double"
    )


def mann_kendall_cells(
    located: DataFrame,
    grid_bits: int = 6,
    bucket_us: int = 86_400_000_000,
    ts_col: str = "ts_us",
) -> DataFrame:
    """Per-cell Mann-Kendall trend statistic over the bucketed count
    time series — the TEMPORAL half of emerging-hotspot analysis (is
    this cell's activity rising or falling, monotone-trend-wise, not
    just hot right now):

        S = Σ_{i<j} sign(x_j − x_i)

    over ALL buckets of the GLOBAL [min_tb, max_tb] range, where absent
    (gx, gy, tb) buckets count as x = 0.  Everything is integer-exact
    (sign sums), so S is bit-identical across partitionings and engines.

    Zero-skip evaluation — the scale trick: materializing the dense
    cell×bucket cube just to hold zeros is O(cells·T); instead
    S = S_nz + Σ_t (zeros_before(t) − zeros_after(t)) over the NONZERO
    buckets only (zero–zero pairs contribute sign(0)=0; a nonzero
    bucket beats every earlier zero and loses to every later one,
    counts come free from row_number), so the only quadratic term is
    the per-cell nonzero-pair join — bounded by the time-range length
    T, a constant, never by data volume.  One binning shuffle, one
    bounded self-join, one broadcast min/max row.

    Returns (gx, gy, n_total, n_buckets, mk_s).
    """
    gx, gy = _cell_cols(F.col("x"), F.col("y"), grid_bits)
    stc = (
        located.select(
            gx.alias("gx"),
            gy.alias("gy"),
            F.expr(f"cast(({ts_col}) as bigint) div {bucket_us}").alias("tb"),
        )
        .groupBy("gx", "gy", "tb")
        .agg(F.count("*").alias("n"))
    )
    stats = stc.agg(F.min("tb").alias("mn"), F.max("tb").alias("mx"))
    a = stc.select("gx", "gy", F.col("tb").alias("ta"), F.col("n").alias("na"))
    b = stc.select("gx", "gy", F.col("tb").alias("tbb"), F.col("n").alias("nb"))
    s_nz = (
        a.join(b, ["gx", "gy"])
        .filter(F.col("ta") < F.col("tbb"))
        .groupBy("gx", "gy")
        .agg(F.sum(F.signum(F.col("nb") - F.col("na"))).cast("long").alias("s_nz"))
    )
    w = Window.partitionBy("gx", "gy").orderBy("tb")
    cnt = Window.partitionBy("gx", "gy")
    adj = (
        stc.withColumn("rn", F.row_number().over(w))
        .withColumn("nb_cell", F.count("*").over(cnt))
        .crossJoin(F.broadcast(stats))
        .groupBy("gx", "gy")
        .agg(
            F.sum(
                (F.col("tb") - F.col("mn") - (F.col("rn") - 1))
                - (F.col("mx") - F.col("tb") - (F.col("nb_cell") - F.col("rn")))
            ).alias("adj"),
            F.sum("n").alias("n_total"),
            F.max("nb_cell").alias("n_buckets"),
        )
    )
    return (
        adj.join(s_nz, ["gx", "gy"], "left")
        .select(
            "gx",
            "gy",
            "n_total",
            "n_buckets",
            (F.coalesce(F.col("s_nz"), F.lit(0)) + F.col("adj")).cast("long").alias("mk_s"),
        )
    )


def teleport_flags(
    located: DataFrame,
    vmax_mps: float = 60.0,
    user_col: str = "user_id",
    ts_col: str = "ts_us",
    id_col: str = "event_id",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """GPS-cleaning outlier detection: flag pings whose implied speed
    from the user's PREVIOUS ping exceeds ``vmax_mps`` — the standard
    teleport/multipath filter run before any trajectory operator
    (staypoints, map matching, OD flows all degrade on raw GPS).

    One window shuffle (per-user lag ordered by ts then id for a
    deterministic total order); distance is the engine's Mercator
    meters (mercator.distance_col).  The speed test is expressed
    MULTIPLICATIVELY — dist_m > vmax · Δt — so a zero-Δt duplicate
    ping with movement flags cleanly instead of dividing by zero.
    First ping per user: dist_m null, never flagged.

    Output: (user, id, dist_m, is_teleport) — dist_m raw doubles (both
    engines compute the identical IEEE expression; no rounding step).
    """
    from geodesk_spark.geo import mercator

    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    px, py, pts = (F.lag(c).over(w) for c in (x_col, y_col, ts_col))
    dist = mercator.distance_col(F.col(x_col), F.col(y_col), px, py)
    budget = F.lit(float(vmax_mps)) * (F.col(ts_col) - pts).cast("double") / F.lit(1e6)
    return located.select(
        F.col(user_col).alias("user"),
        F.col(id_col).alias("id"),
        dist.alias("dist_m"),
        F.coalesce((dist > budget).cast("int"), F.lit(0)).alias("is_teleport"),
    )


def resample_time(
    located: DataFrame,
    step_s: float = 60.0,
    user_col: str = "user_id",
    ts_col: str = "ts_us",
    id_col: str = "event_id",
    x_col: str = "x",
    y_col: str = "y",
    quant: int = 4,
) -> DataFrame:
    """Temporal trajectory resampling: per-user positions linearly
    interpolated onto a fixed epoch grid — the normalization step
    before any fixed-rate trajectory analytics (OD flows at uniform
    cadence, co-location at shared ticks, model features at fixed Δt).

    Semantics: for each consecutive ping pair (prev→cur) in the user's
    (ts, id)-ordered track, emit every grid tick tk = k·step with
    prev.ts < tk ≤ cur.ts, positioned at the linear interpolation
    along the pair.  The half-open interval makes tick ownership
    unique, so (user, tick) never duplicates; zero-Δt duplicate pings
    own an empty interval and vanish without any division guard.

    Determinism: grid indices use exact INTEGER division on epoch
    micros (both engines' int64 `div`); the interpolation factor and
    coordinates are pure ±/×/÷ on exactly-cast small integers — IEEE
    bit-identical; outputs floor-form quantized at 10^-quant.

    Scale shape: ONE per-user window shuffle (same order as
    teleport_flags), then a map-side sequence-explode — fan-out is
    bounded by track duration / step, never by table size.  Gaps are
    interpolated across by construction; cap them upstream with
    teleport_flags / staypoints if long-gap interpolation is unwanted.

    Output: (user, tick_us, x, y).
    """
    step_us = int(round(float(step_s) * 1e6))
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    seg = located.select(
        F.col(user_col).alias("user"),
        F.col(ts_col).alias("_ts"),
        F.col(x_col).cast("double").alias("_x"),
        F.col(y_col).cast("double").alias("_y"),
        F.lag(x_col).over(w).cast("double").alias("_px"),
        F.lag(y_col).over(w).cast("double").alias("_py"),
        F.lag(ts_col).over(w).alias("_pts"),
    ).filter(F.col("_pts").isNotNull() & (F.col("_ts") > F.col("_pts")))
    kmin = F.expr(f"_pts div {step_us}") + F.lit(1)
    kmax = F.expr(f"_ts div {step_us}")
    seg = (
        seg.withColumn("_kmin", kmin)
        .withColumn("_kmax", kmax)
        .filter(F.col("_kmax") >= F.col("_kmin"))  # sequence(1,0) DESCENDS — guard first
        .withColumn("_k", F.explode(F.sequence(F.col("_kmin"), F.col("_kmax"))))
    )
    tk = F.col("_k") * F.lit(step_us)
    f = (tk - F.col("_pts")).cast("double") / (F.col("_ts") - F.col("_pts")).cast("double")
    q = float(10 ** int(quant))

    def r(c):
        return F.floor(c * F.lit(q) + F.lit(0.5)) / F.lit(q)

    return seg.select(
        "user",
        tk.alias("tick_us"),
        r(F.col("_px") + f * (F.col("_x") - F.col("_px"))).alias("x"),
        r(F.col("_py") + f * (F.col("_y") - F.col("_py"))).alias("y"),
    )


def resample_time_sql(
    pts_cte: str,
    step_s: float = 60.0,
    quant: int = 4,
) -> str:
    """DuckDB twin of resample_time — ``pts_cte`` yields
    (user_id, ts_us, event_id, x, y); identical op order."""
    step_us = int(round(float(step_s) * 1e6))
    q = float(10 ** int(quant))
    fx = f"(cast(px as double) + f * (cast(x as double) - cast(px as double)))"
    fy = f"(cast(py as double) + f * (cast(y as double) - cast(py as double)))"
    return f"""
      with pts as ({pts_cte}),
      l as (select user_id, ts_us, x, y,
                   lag(x) over w as px, lag(y) over w as py,
                   lag(ts_us) over w as pts
            from pts
            window w as (partition by user_id order by ts_us, event_id)),
      seg as (select * from l where pts is not null and ts_us > pts),
      ks as (select user_id, ts_us, x, y, px, py, pts,
                    pts // {step_us} + 1 as kmin, ts_us // {step_us} as kmax
             from seg
             where ts_us // {step_us} >= pts // {step_us} + 1),
      ex as (select *, unnest(generate_series(kmin, kmax)) as k from ks),
      ip as (select user_id, k * {step_us} as tick_us, x, y, px, py, pts,
                    cast(k * {step_us} - pts as double)
                      / cast(ts_us - pts as double) as f
             from ex)
      select user_id as user, tick_us,
             floor({fx} * {q!r} + 0.5) / {q!r} as x,
             floor({fy} * {q!r} + 0.5) / {q!r} as y
      from ip
    """
