"""kNN over point features via cell-ring expansion (BASELINE north_star).

The reference's nearest-neighbour surface is ``maxMetersFromXY`` — a
radius filter (PointDistanceFilter.java:28-122).  kNN is built on the
same primitive the way the north star prescribes: expand a square
candidate window of pyramid cells around each query point until the
k-th neighbour is provably inside the window, then take the top-k by
exact Mercator-scaled distance.

Window → cells uses the SAME pyramid the tiling layer uses: the zoom
level adapts so a window never enumerates more than ~32×32 cells —
dense areas search a handful of z12 cells, ocean queries escalate to
z10/z8/… exactly like the reference's sparse tile tree keeps per-level
fan-out bounded (TileIndexWalker.java:85-107).

Spark shape (no per-query scans):

1. One bounded hash sample of the points (the ``SAMPLE_ROWS`` smallest
   ``xxhash64(id)``, :func:`_point_sample`) sizes the first window from
   the estimated corpus size and gives each query a cap box:
   ``CAP_SCALE`` × its Chebyshev distance to its ``CAP_RANK``-th nearest
   sample point (:func:`_caps`).  Per round, each active query's
   candidate cell cover is generated as columns (``explode(sequence(...))``
   over its clamped cell ranges) and carries the query's cap.  Every
   round's Column expressions are built once per session and round
   shape (``_round_exprs``), not once per call.
2. Broadcast the (cell, query, cap, in-small-window) table; candidates
   are a pure-JVM broadcast hash join against the point's pyramid cell
   id whose condition also keeps only points inside the query's cap box
   (an int64 box test), exact Mercator distance as a codegen'd column —
   no Python workers anywhere.
3. ``Window.partitionBy(_qid).orderBy(dist)`` + row_number ≤ k;
   Spark cuts each query's top-k inside every map task (a partial
   ``WindowGroupLimit``) before the shuffle, so at most k rows per query
   per task move.  ``_qid`` is a dense int the driver assigns per
   distinct query id, so that sort compares ints.
4. The round's ranked top-k is collected and the completion proof runs
   on the driver.  Queries whose k-th distance is NOT provably inside
   their window widen the window and re-run (only those queries),
   uncapped.  A dense query's cap box holds a few thousand points where
   its window holds its whole city, so it ranks those instead.

Acceptance proof: all points within Chebyshev radius
``min(radius_imps, cap)`` of (qx,qy) are candidates — the cap box is
itself a Chebyshev window around the query — so if kth_dist_m ≤ that
radius × (min meters-per-imp anywhere in the window), the top-k is
exact.  The world-window round is never capped, so every query still
terminates exactly.

Scale contract: the query side is dimension-sized.  The query rows and
the k·|queries| ranked rows of a round must fit on the driver; the
points are the table-sized side.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T_

from geodesk_spark.geo import mercator, tile as T
from geodesk_spark.operators.tiling import session_exprs

I32_MAX = (1 << 31) - 1
I32_MIN = -(1 << 31)

# the point sample behind the first window and the per-query caps
SAMPLE_ROWS = 4096
CAP_RANK = 4  # a cap reaches at least this many sample points
CAP_SCALE = 2
CAP_FLOOR = 1 << 16  # one z16 cell: duplicate points give no zero box
NO_CAP = 1 << 32  # wider than any |Δx| or |Δy| in imps
MAX_CELLS_PER_AXIS = 32  # a window's cover is at most this many cells wide


def _window_zoom(radius_imps: int) -> int:
    """Pyramid-adaptive zoom: coarsen until the window spans
    ≤ ``MAX_CELLS_PER_AXIS`` cells per axis."""
    zoom = T.MAX_ZOOM
    while zoom > 0 and ((2 * radius_imps) >> (32 - zoom)) + 1 > MAX_CELLS_PER_AXIS:
        zoom -= 2  # pyramid steps of 2, like the default level set
    return zoom


def _cells_at_zoom(qx: int, qy: int, radius_imps: int, zoom: int) -> np.ndarray:
    x0, x1 = max(qx - radius_imps, I32_MIN), min(qx + radius_imps, I32_MAX)
    y0, y1 = max(qy - radius_imps, I32_MIN), min(qy + radius_imps, I32_MAX)
    c0, c1 = int(T.column_from_x(x0, zoom)[()]), int(T.column_from_x(x1, zoom)[()])
    r0, r1 = int(T.row_from_y(y1, zoom)[()]), int(T.row_from_y(y0, zoom)[()])
    cols = np.arange(c0, c1 + 1, dtype=np.int64)
    rows = np.arange(r0, r1 + 1, dtype=np.int64)
    cc, rr = np.meshgrid(cols, rows)
    return ((zoom << 24) | (rr.ravel() << 12) | cc.ravel()).astype(np.int64)


def _guarantee_m(qy: int, radius_imps: int) -> float:
    """Max distance provably covered: radius × min meters/imp in the window."""
    ys = [max(qy - radius_imps, I32_MIN), min(qy + radius_imps, I32_MAX)]
    m_per_imp = min(float(mercator.meters_at_y(y)[()]) for y in ys)
    return radius_imps * m_per_imp


def _query_frame(spark, queries: list[tuple[str, float, float]]) -> DataFrame:
    """[(query_id, lon, lat), ...] → (query_id string, x long, y long) in imps."""
    qrows = [
        (qid, int(mercator.x_from_lon(lon)[()]), int(mercator.y_from_lat(lat)[()]))
        for qid, lon, lat in queries
    ]
    # from pandas, the rows cross Arrow into a LocalRelation inside the
    # plan; a list would become an RDD scan that costs a Spark job per use
    return spark.createDataFrame(
        pd.DataFrame(qrows, columns=["query_id", "x", "y"]),
        "query_id string, x long, y long",
    )


def knn(
    points: DataFrame,
    queries: list[tuple[str, float, float]],
    k: int,
    init_radius_imps: int | str = "auto",
    id_col: str = "image_id",
    assert_unique_ids: bool = False,
) -> DataFrame:
    """queries: [(query_id, lon, lat), ...] → (query_id, id, dist_m, rank).

    The interactive front end of :func:`knn_join`: the query list is
    projected to imp coordinates and handed to it, so both entry points
    share one engine (r02 carried a second, driver-loop implementation
    here; ``test_knn_join_matches_knn`` pinned the two row-for-row equal
    before it was removed).

    ``id_col`` must be unique per point — it is the deterministic
    tie-break for equal distances.  Pass ``assert_unique_ids=True`` to
    pay one aggregate up front and fail fast on duplicates (off by
    default: the check is a full shuffle of the fact table).
    """
    if assert_unique_ids:
        dup = (
            points.groupBy(id_col).count().filter(F.col("count") > 1).limit(1).count()
        )
        if dup:
            raise ValueError(f"knn: id column {id_col!r} has duplicate values")
    qdf = _query_frame(points.sparkSession, queries)
    return knn_join(
        points, qdf, k, init_radius_imps=init_radius_imps, id_col=id_col
    ).select("query_id", id_col, "dist_m", "rank")


def _point_sample(points: DataFrame, id_col: str) -> tuple[np.ndarray, int]:
    """One bounded, deterministic sample of ``points`` → ((m, 2) int64
    imp x/y, n): the ``SAMPLE_ROWS`` rows with the smallest
    ``xxhash64(id_col)`` (ties by id), and the corpus size.

    ONE Spark job with no Exchange: the ordered limit plans as
    ``TakeOrderedAndProject``, which keeps a heap of at most
    ``SAMPLE_ROWS`` rows per task, so the sample is bounded at any scale
    and does not depend on partitioning (a ``sample(fraction)`` is not
    bounded on the fact table).  Below ``SAMPLE_ROWS`` rows it is the
    whole corpus and n is exact; otherwise n is the KMV estimate
    (m − 1) / u, u the largest sampled hash mapped to (0, 1] (≈1.6 %
    relative error at 4,096 rows) — the figure the ``count()`` job this
    replaces gave exactly."""
    ex = session_exprs(points, ("knn_sample", id_col), lambda: {
        "cols": [F.col("x"), F.col("y"), F.xxhash64(F.col(id_col)).alias("_h"), F.col(id_col)],
        "order": [F.col("_h"), F.col(id_col)],
    })
    rows = points.select(ex["cols"]).orderBy(ex["order"]).limit(SAMPLE_ROWS).collect()
    xy = np.array([(r[0], r[1]) for r in rows], dtype=np.int64).reshape(-1, 2)
    if len(rows) < SAMPLE_ROWS:
        return xy, len(rows)
    u = (rows[-1][2] + (1 << 63) + 1) / 2.0**64
    return xy, int((SAMPLE_ROWS - 1) / u)


def _auto_radius(k: int, n: int) -> int:
    """Density-derived initial window radius (VERDICT r03 #2): size the
    Chebyshev window so a globally-uniform corpus of ``n`` points puts
    ~6k points inside it — E[pts in (2r)²] = 6k ⇒ r = W·sqrt(6k/n)/2 —
    so virtually every query completes in ROUND ONE (each extra round is
    a full fact scan + candidate window).  ``n`` is
    :func:`_point_sample`'s estimate: the radius only needs
    order-of-magnitude density.  Locally non-uniform data (ocean/polar
    windows) still escalates through the exact guarantee, and dense
    queries are bounded by their caps (:func:`_caps`), so this is a pure
    schedule heuristic — results are provably exact either way.
    Clamped to [1<<18, 1<<28]: the floor keeps dense-city windows from
    degenerating below cell granularity, the cap keeps a near-empty
    corpus from starting at a near-world window (escalation reaches the
    world anyway)."""
    r = int(mercator.MAP_WIDTH * float(np.sqrt(6.0 * k / max(n, 1))) / 2)
    return min(max(r, 1 << 18), 1 << 28)


def _caps(sample: np.ndarray, n: int, k: int, qx: np.ndarray, qy: np.ndarray) -> np.ndarray:
    """Per-query cap radius in imps (int64, ``NO_CAP`` for none):
    ``CAP_SCALE`` × the Chebyshev distance from (qx, qy) to its
    ``rank``-th nearest sample point, floored at ``CAP_FLOOR``.

    ``rank`` is ``CAP_RANK``, raised to k × the sampled fraction m/n, so
    the cap box is expected to hold ≥ CAP_SCALE² × k points (a sample
    that is the whole corpus ranks the k-th point itself).  No caps when
    the sample holds fewer than ``rank`` points.  One chunked numpy pass
    over (queries × sample), ≤ 4 M distances per chunk."""
    m = len(sample)
    rank = max(CAP_RANK, -(-k * m // max(n, 1)))
    caps = np.full(len(qx), NO_CAP, dtype=np.int64)
    if m < rank:
        return caps
    step = max(1, (1 << 22) // m)
    for i in range(0, len(qx), step):
        d = np.maximum(
            np.abs(sample[:, 0] - qx[i : i + step, None]),
            np.abs(sample[:, 1] - qy[i : i + step, None]),
        )
        kth = np.partition(d, rank - 1, axis=1)[:, rank - 1]
        caps[i : i + step] = np.maximum(CAP_SCALE * kth, CAP_FLOOR)
    return caps


# the per-round query frame: a driver-assigned int per distinct query id,
# the query point and its cap radius in imps
_ACTIVE_SCHEMA = T_.StructType(
    [
        T_.StructField("_qid", T_.IntegerType()),
        T_.StructField("_qx", T_.LongType()),
        T_.StructField("_qy", T_.LongType()),
        T_.StructField("_capr", T_.LongType()),
    ]
)


def _round_exprs(points: DataFrame, zoom: int, radius: int, big: int, id_col: str, k: int) -> dict:
    """Column expressions of one :func:`knn_join` round, built once per
    (session, zoom, radius, big, id_col, k) in ``tiling._EXPR_CACHE``:
    the cover's row/column ranges and cell key, the small-window flag,
    the probe's tile, the cap box test, the Mercator distance, and the
    top-k window and its filter.  Each expression node costs a py4j
    round trip to build; rebuilt on every call they were most of a warm
    call's round trips."""

    def build():
        shift = 32 - zoom
        qx, qy, capr = F.col("_qx"), F.col("_qy"), F.col("_capr")
        lo, hi = F.lit(I32_MIN).cast("long"), F.lit(I32_MAX).cast("long")

        def col_range(rad):
            r, off = F.lit(rad).cast("long"), F.lit(1 << 31).cast("long")
            x0, x1 = F.greatest(qx - r, lo), F.least(qx + r, hi)
            return (
                F.shiftright(x0 + off, shift).cast("int"),
                F.shiftright(x1 + off, shift).cast("int"),
            )

        def row_range(rad):
            r = F.lit(rad).cast("long")
            y0, y1 = F.greatest(qy - r, lo), F.least(qy + r, hi)
            return (
                F.shiftright(hi - y1, shift).cast("int"),
                F.shiftright(hi - y0, shift).cast("int"),
            )

        bc0, bc1 = col_range(big)
        br0, br1 = row_range(big)
        sc0, sc1 = col_range(radius)
        sr0, sr1 = row_range(radius)
        row, col = F.col("_row"), F.col("_col")
        qid, dist = F.col("_qid"), F.col("dist_m")
        w = Window.partitionBy("_qid").orderBy(dist.asc(), F.col(id_col).asc())
        return {
            "rows": F.explode(F.sequence(br0, br1)),
            "cols": F.explode(F.sequence(bc0, bc1)),
            "cover": [
                (
                    F.lit(zoom << 24).cast("long")
                    + F.shiftleft(row.cast("long"), 12)
                    + col.cast("long")
                ).alias("_qcell"),
                qid,
                qx,
                qy,
                capr,
                ((col >= sc0) & (col <= sc1) & (row >= sr0) & (row <= sr1)).alias("small"),
            ],
            "tile": T.tile_col(F.col("x"), F.col("y"), zoom).cast("long"),
            # int64 only, so the join condition it is pushed into stays small
            "box": (F.abs(F.col("x").cast("long") - qx) <= capr)
            & (F.abs(F.col("y").cast("long") - qy) <= capr),
            "dist": mercator.distance_col(F.col("x"), F.col("y"), qx, qy),
            "cand": [F.col(id_col), qid, dist, F.col("small")],
            "rank": F.row_number().over(w),
            "top_k": F.col("rank_all") <= k,
        }

    return session_exprs(points, ("knn_round", zoom, radius, big, id_col, k), build)


def knn_join(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    init_radius_imps: int | str = "auto",
    id_col: str = "image_id",
    query_id: str = "query_id",
) -> DataFrame:
    """kNN join: exact k nearest ``points`` for every row of the
    ``queries`` DataFrame → (id, query_id, dist_m, rank).

    The query side is dimension-sized: its rows and the k·|queries|
    ranked rows of a round are collected to the driver, which runs all
    control flow (completion proof, output, next active set) — ONE Spark
    action per round.  The points stay a DataFrame end to end.

    1. Per round, every active query shares one radius (init × 16^round),
       so the window zoom is a compile-time constant and the candidate
       cell cover is generated AS COLUMNS — two chained
       ``explode(sequence(...))`` over the clamped col/row ranges, with
       the in-small-window flag a pure range test.  The cover is a
       ``LocalRelation`` built from the driver's active rows.
    2. Candidates = one broadcast hash join of the points on the cell id,
       with exact Mercator distance.  The join condition also keeps only
       points inside each query's cap box (:func:`_caps`), so a query in
       a dense city ranks the few thousand points around it, not the
       city.  They are ranked by ONE ``row_number()`` window per query
       under the ``rank <= k`` filter, so Spark places a partial
       ``WindowGroupLimit`` before the ``Exchange``: each map task keeps
       only its top k rows per query, and the shuffle moves at most
       k × |queries| × tasks rows however many candidates the window
       holds.  The small window needs no rank of its own — it is proven
       only when all k surviving rows are small, and then their small
       rank is the overall one.
    3. The collected top-k is proven on the driver: the k-th distance
       must lie inside min(window, cap) (:func:`_guarantee_m`).  A query
       that is not proven re-runs in the next round, uncapped.

    The init radius comes from the sample's corpus-size estimate
    (:func:`_auto_radius`).  The radius schedule
    doubles-twice per probe (window r and 4r share one scan) and
    multiplies 16× per round, capping at the world window, so the loop
    is bounded at 4 rounds from the default init radius and every query
    terminates (a world window is never capped and makes every point a
    candidate).  Semantics match :func:`knn` exactly: same pyramid, same
    acceptance proof, same (dist, id) deterministic tie-break.

    Planning is cheap on a warm session: each round's Column
    expressions (:func:`_round_exprs`) are built once per session and
    round shape, so a warm call makes a few hundred py4j round trips,
    not thousands.  Each distinct query id maps to a dense ``int`` on
    the driver; rounds rank and shuffle on that ``_qid``, and the ids are
    mapped back when the output frame is built, so the output's query-id
    values and type are the input's.

    ``queries`` must carry (``query_id``, x, y) with imp-space coords;
    ``id_col`` must be unique per point (the tie-break).
    """
    sample, n = _point_sample(points, id_col)
    if init_radius_imps == "auto":
        init_radius_imps = _auto_radius(k, n)
    sel = session_exprs(points, ("knn_select", id_col, query_id), lambda: {
        "pts": [F.col(id_col), F.col("x"), F.col("y")],
        "query": [
            F.col(query_id).alias("_qid"),
            F.col("x").cast("long").alias("_qx"),
            F.col("y").cast("long").alias("_qy"),
        ],
    })
    pts = points.select(sel["pts"])
    qsel = queries.select(sel["query"])

    # radius schedule: (r, 4r) per round, 16× between rounds, final round
    # capped at the world window (everything becomes a candidate)
    schedule = []
    radius = init_radius_imps
    while True:
        big = min(radius * 4, 1 << 31)
        schedule.append((radius, big))
        if big >= (1 << 31):
            break
        radius *= 16

    spark = points.sparkSession
    # rounds rank and shuffle on a dense int per distinct query id (an
    # int sort key is cheaper than a string one); the ids come back when
    # the output frame is built
    qid_type = qsel.schema["_qid"].dataType
    qrows = qsel.collect()
    qids = list(dict.fromkeys(r[0] for r in qrows))  # first-seen order
    qidx = {qid: i for i, qid in enumerate(qids)}
    caps = _caps(
        sample, n, k,
        np.array([r[1] for r in qrows], dtype=np.int64),
        np.array([r[2] for r in qrows], dtype=np.int64),
    )
    act_rows = [(qidx[qid], qx, qy, int(c)) for (qid, qx, qy), c in zip(qrows, caps)]
    collected_rows: list = []
    for radius, big in schedule:
        if not act_rows:
            break
        ex = _round_exprs(points, _window_zoom(big), radius, big, id_col, k)
        final_round = big >= (1 << 31)
        if final_round:  # the world window is never capped
            act_rows = [(qi, qx, qy, NO_CAP) for qi, qx, qy, _ in act_rows]
        # a LocalRelation, not an RDD scan: the broadcast build then
        # needs no job of its own (see _query_frame)
        active = spark.createDataFrame(
            pd.DataFrame(act_rows, columns=_ACTIVE_SCHEMA.names), _ACTIVE_SCHEMA
        )
        cover = (
            active.withColumn("_row", ex["rows"])
            .withColumn("_col", ex["cols"])
            .select(ex["cover"])
        )
        # the cap box is an int filter that Spark pushes into the join
        # condition; never a dist_m filter (CLAUDE.md, 64 KB methods)
        cand = (
            pts.withColumn("_qcell", ex["tile"])
            .join(F.broadcast(cover), "_qcell")
            .filter(ex["box"])
            .withColumn("dist_m", ex["dist"])
            .select(ex["cand"])
        )
        # row_number must stay the window's ONLY function (docstring step
        # 2): a second one blocks the partial WindowGroupLimit, and every
        # candidate row is shuffled again
        ranked = cand.withColumn("rank_all", ex["rank"]).filter(ex["top_k"])
        rows = ranked.collect()  # the round's ONE action: ≤ k·|queries| rows
        by_q: dict = {}
        for r in rows:
            by_q.setdefault(r["_qid"], []).append(r)
        next_act = []
        for qi, qx, qy, capr in act_rows:
            rs = by_q.get(qi, [])
            small_rows = [r for r in rs if r["small"]]
            kth_s = max((r["dist_m"] for r in small_rows), default=None)
            kth_a = max((r["dist_m"] for r in rs), default=None)
            # the cap box is a Chebyshev window too: the query's
            # candidates are every point within min(window, cap)
            ok_s = (
                len(small_rows) >= k
                and kth_s is not None
                and kth_s <= _guarantee_m(qy, min(radius, capr))
            )
            ok_a = (
                len(rs) >= k
                and kth_a is not None
                and kth_a <= _guarantee_m(qy, min(big, capr))
            )
            if ok_s or ok_a or final_round:
                collected_rows.extend(
                    (r[id_col], qids[qi], r["dist_m"], int(r["rank_all"])) for r in rs
                )
            else:
                next_act.append((qi, qx, qy, NO_CAP))
        act_rows = next_act

    out_schema = T_.StructType(
        [
            pts.schema[id_col],
            T_.StructField(query_id, qid_type),
            T_.StructField("dist_m", T_.DoubleType()),
            T_.StructField("rank", T_.IntegerType()),
        ]
    )
    return spark.createDataFrame(
        pd.DataFrame(collected_rows, columns=out_schema.names), out_schema
    )


def distance_join(
    points: DataFrame,
    targets: list[tuple[str, float, float]],
    meters: float,
    id_col: str = "image_id",
) -> DataFrame:
    """Table-to-dimension distance join: every point within ``meters`` of
    each target → (id, target_id, dist_m).

    Generalizes the reference's single-target radius filter
    (PointDistanceFilter.java:28-122) to a broadcast join: per target,
    the Chebyshev box of deltaFromMeters(meters, target_y) imps is
    covered with pyramid cells (zoom adaptive per target); candidates
    come from ONE pure-JVM broadcast hash join on exploded cell ids.
    The exact test mirrors the reference: bbox first (the deltaFromMeters
    box IS the semantics, Box.java:421), then Mercator distance ≤ m —
    all codegen'd columns.
    """
    spark = points.sparkSession
    rows = []
    zooms = set()
    for tid, lon, lat in targets:
        qx = int(mercator.x_from_lon(lon)[()])
        qy = int(mercator.y_from_lat(lat)[()])
        delta = int(np.ceil(float(mercator.delta_from_meters(meters, qy)[()])))
        zoom = _window_zoom(delta)
        zooms.add(zoom)
        for c in _cells_at_zoom(qx, qy, delta, zoom).tolist():
            rows.append((int(c), tid, qx, qy, delta))
    tcells = spark.createDataFrame(
        pd.DataFrame(rows, columns=["_qcell", "target_id", "qx", "qy", "delta"]),
        schema="_qcell long, target_id string, qx long, qy long, delta long",
    )
    probe = points.select(id_col, "x", "y").withColumn(
        "_qcell",
        F.explode(
            F.array(
                *[T.tile_col(F.col("x"), F.col("y"), z).cast("long") for z in sorted(zooms)]
            )
        ),
    )
    xd = F.col("x").cast("long")
    yd = F.col("y").cast("long")
    return (
        probe.join(F.broadcast(tcells), "_qcell")
        .filter(
            (F.abs(xd - F.col("qx")) <= F.col("delta"))
            & (F.abs(yd - F.col("qy")) <= F.col("delta"))
        )
        .withColumn(
            "dist_m",
            mercator.distance_col(F.col("x"), F.col("y"), F.col("qx"), F.col("qy")),
        )
        .filter(F.col("dist_m") <= meters)
        .select(id_col, "target_id", "dist_m")
    )


def segment_candidates(
    points: DataFrame,
    segs: DataFrame,
    meters: float,
    point_cols: list[str],
    seg_id: str = "seg_id",
    slack: float = 1.5,
    max_cands: int | None = None,
) -> DataFrame:
    """Point × segment candidates within ``meters`` — the shared front
    half of ``snap_to_segments`` (argmin) and ``mobility.map_match``
    (HMM lattice).  ``points`` needs (point_cols…, x, y); returns
    (point_cols…, px, py, seg_id, t, sx, sy, dist_m) with the clamped
    int64-exact projection and exact Mercator foot distance (expression
    order documented in snap_to_segments — its oracle mirrors this).

    ``max_cands`` keeps only each point's nearest ``max_cands`` by
    (dist_m, seg_id), ranked by one ``row_number()`` window BEFORE the
    ``dist_m <= meters`` filter.  That filter drops a suffix of every
    point's order, so the ranks are the same as filtering first; but a
    filter below the window is pushed into the join condition with the
    foot point written out at every use inside the distance polynomial,
    and the stage feeding the window's sort then overflows janino's
    64 KB method limit (interpreted fallback)."""
    p = points.select(
        *point_cols, F.col("x").alias("px"), F.col("y").alias("py")
    )
    s = segs.select(
        seg_id, "x1", "y1", "x2", "y2",
        F.least("x1", "x2").alias("_sminx"),
        F.greatest("x1", "x2").alias("_smaxx"),
        F.least("y1", "y2").alias("_sminy"),
        F.greatest("y1", "y2").alias("_smaxy"),
    )
    delta = mercator.delta_from_meters_col(
        F.lit(float(meters)), F.col("py")
    ) * F.lit(float(slack))
    cand = p.join(
        F.broadcast(s),
        (F.col("px") >= F.col("_sminx") - delta)
        & (F.col("px") <= F.col("_smaxx") + delta)
        & (F.col("py") >= F.col("_sminy") - delta)
        & (F.col("py") <= F.col("_smaxy") + delta),
    )
    abx, aby = F.col("x2") - F.col("x1"), F.col("y2") - F.col("y1")
    apx, apy = F.col("px") - F.col("x1"), F.col("py") - F.col("y1")
    dot = apx * abx + apy * aby
    len2 = abx * abx + aby * aby
    t = F.when(len2 == 0, F.lit(0.0)).otherwise(
        F.least(F.greatest(dot / len2, F.lit(0.0)), F.lit(1.0))
    )
    sx = F.col("x1") + t * abx
    sy = F.col("y1") + t * aby
    # the foot point is projected BEFORE the distance reads it: written
    # inline, every use of sx/sy inside the distance polynomial copies the
    # projection (same float ops either way, so the same bits)
    foot = cand.select(
        *point_cols, "px", "py", seg_id,
        t.alias("t"), sx.alias("sx"), sy.alias("sy"),
    ).withColumn(
        "dist_m", mercator.distance_col(F.col("px"), F.col("py"), F.col("sx"), F.col("sy"))
    )
    if max_cands is not None:
        w = Window.partitionBy(*point_cols).orderBy(F.asc("dist_m"), F.asc(seg_id))
        foot = (
            foot.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= max_cands)
            .drop("_rk")
        )
    return foot.filter(F.col("dist_m") <= meters)


def snap_to_segments(
    points: DataFrame,
    segs: DataFrame,
    meters: float,
    point_id: str = "image_id",
    seg_id: str = "seg_id",
    slack: float = 1.5,
) -> DataFrame:
    """Map-matching primitive: snap each point to the nearest segment
    within ``meters`` → (point_id, seg_id, t, sx, sy, dist_m).

    Extends the reference's radius filter (PointDistanceFilter.java:
    28-122) from point targets to a segment layer: the foot point is
    the clamped projection onto the segment *in imp space* — Mercator
    is conformal, so the local scale is isotropic and the imp-space
    projection IS the metric projection for segments short relative to
    their latitude span — then the exact Mercator distance to that foot
    point (Mercator.java:194-201).

    Plan shape: ONE broadcast join (the segment layer is dimension-
    sized; for planet-scale layers use the cell-blocked ``distance_join``
    candidates instead), candidate filter = segment bbox expanded by
    ``delta_from_meters(meters, point_y) × slack`` — a strict superset
    of the radius ball whenever cosh(y_seg)/cosh(y_pt) ≤ slack, i.e.
    for any sane radius — then argmin per point via one bounded window
    (tie-break on seg id).  Dot products stay in exact int64 (|Δseg| ≤
    2²⁶ imps for derived layers keeps them < 2⁶⁰); the t = dot/len²
    division is the only float step before the distance itself, so an
    oracle mirroring the op order is hash-exact.
    """
    return segment_candidates(
        points, segs, meters, [point_id], seg_id=seg_id, slack=slack, max_cands=1
    ).drop("px", "py")


def idw_interpolate(
    points: DataFrame,
    queries: list[tuple[str, float, float]],
    k: int = 8,
    val_col: str = "v",
    id_col: str = "image_id",
) -> DataFrame:
    """Inverse-distance-weighted interpolation at query locations — the
    classic spatial-interpolation consumer of kNN: estimate a field value
    at (lon, lat) as the 1/d²-weighted mean of its k nearest samples.

    value(q) = Σᵢ vᵢ/d²ᵢ ÷ Σᵢ 1/d²ᵢ over the exact kNN set, where d² is
    the squared imp-space distance (exact-hit guard: d² floored at 1, so
    a sample ON the query point dominates without a division by zero).

    Determinism contract: both folds run in RANK order (knn's ranking is
    itself deterministic), every float op is fixed-order, so the result
    is bit-reproducible across partitionings and engines.

    Scale shape: the kNN candidate machinery does all the heavy lifting
    (broadcast cell windows, one bounded rank shuffle); the value
    join-back broadcasts the tiny (query, neighbor) table against the
    fact table, and the final fold groups k·|queries| rows.  Returns
    (query_id, idw_value, n_samples).
    """
    # project the query list ONCE and share the frame between the kNN
    # candidate machinery and the value join-back (r03 review: knn()
    # used to re-project the same list internally)
    qdf = _query_frame(points.sparkSession, queries)
    nn = knn_join(points, qdf, k, id_col=id_col).select("query_id", id_col, "rank")
    j = (
        points.select(id_col, "x", "y", F.col(val_col).cast("double").alias("v"))
        .join(F.broadcast(nn), id_col)
        .join(
            F.broadcast(
                qdf.select("query_id", F.col("x").alias("qx"), F.col("y").alias("qy"))
            ),
            "query_id",
        )
    )
    dx = (F.col("x") - F.col("qx")).cast("double")
    dy = (F.col("y") - F.col("qy")).cast("double")
    d2 = F.greatest(dx * dx + dy * dy, F.lit(1.0))
    terms = j.select(
        "query_id",
        F.struct(F.col("rank"), (F.col("v") / d2).alias("t"), (F.lit(1.0) / d2).alias("w")).alias("s"),
    )
    acc0 = F.lit(0.0)
    return (
        terms.groupBy("query_id")
        .agg(F.sort_array(F.collect_list("s")).alias("ss"))
        .select(
            "query_id",
            (
                F.aggregate("ss", acc0, lambda a, s: a + s["t"])
                / F.aggregate("ss", acc0, lambda a, s: a + s["w"])
            ).alias("idw_value"),
            F.size("ss").alias("n_samples"),
        )
    )


def route_measure(
    points: DataFrame,
    route_segs: DataFrame,
    meters: float,
    point_id: str = "pid",
    route_col: str = "route_id",
    seq_col: str = "seq",
    slack: float = 1.5,
) -> DataFrame:
    """Linear referencing: locate each point ALONG its nearest route —
    the step after map matching that turns snapped positions into
    route-relative measures (km-posts, progress along a trajectory,
    offset joins between datasets referenced to the same network).

    ``route_segs`` carries (route_id, seq, x1, y1, x2, y2) with seq
    ordering the segments along the route (seq < 2^20).  Each point
    snaps to the globally nearest segment within ``meters``
    (snap_to_segments machinery: one broadcast join + one bounded
    window), then

        measure_um = prefix_um(route, seq) + floor(t · len_um + 0.5)

    where len_um is the segment's Mercator length floor-quantized to
    integer MICRO-METERS and prefix_um its exclusive running sum.  The
    prefix sum is over BIGINTS — exact under any association, so
    engines whose window sums tree-reduce (DuckDB) agree bit-for-bit
    with Spark's sequential fold; a float prefix here would be the
    ln-sum mistake from the transcendental law.  t quantizes to
    micro-units.  Lengths use det_cosh scale (bit-identical libm-free
    cosh), so every emitted integer is engine-independent.

    Returns (point_id, route_id, seq, t_micro, dist_m, measure_um);
    dist_m is raw — callers quantize at the output boundary.
    """
    from geodesk_spark.geo import mercator

    len_m = mercator.distance_col(
        F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2")
    )
    w = (
        Window.partitionBy(route_col)
        .orderBy(seq_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    segs = (
        route_segs.withColumn("_len_m", len_m)
        .withColumn("len_um", F.expr("cast(floor(_len_m * 1e6 + 0.5) as bigint)"))
        .withColumn(
            "prefix_um",
            F.coalesce(F.sum("len_um").over(w), F.lit(0).cast("long")),
        )
        .withColumn(
            "seg_id",
            F.col(route_col).cast("long") * F.lit(1 << 20).cast("long") + F.col(seq_col),
        )
    )
    snapped = snap_to_segments(
        points,
        segs.select("seg_id", "x1", "y1", "x2", "y2"),
        meters,
        point_id=point_id,
        seg_id="seg_id",
        slack=slack,
    )
    j = snapped.join(
        F.broadcast(segs.select("seg_id", route_col, seq_col, "len_um", "prefix_um")),
        "seg_id",
    )
    t_micro = F.expr("cast(floor(t * 1e6 + 0.5) as bigint)")
    measure = F.col("prefix_um") + F.expr("cast(floor(t * len_um + 0.5) as bigint)")
    return j.select(
        point_id,
        route_col,
        seq_col,
        t_micro.alias("t_micro"),
        "dist_m",
        measure.alias("measure_um"),
    )
