"""Driver-contract query builders; registry.py assembles them into QUERIES."""

from __future__ import annotations

from geodesk_spark.driver_queries.common import (
    CAIRO,
    CAIRO_XY,
    EC,
    F,
    HEX_R,
    HEX_RING,
    KNN_K,
    KNN_QUERIES,
    T,
    W,
    _DERIVED_SQL,
    _derived_orders,
    _dist_sql,
    _hexagon,
    knn_mod,
    lat_expr,
    lon_expr,
    math,
    mercator,
    np,
    pip,
    spatial_join,
    tables,
    tile_expr,
    x_expr,
    y_expr,
)

def _q_bbox(spark, sf_dir):
    """in(bbox) restriction (WorldView.java:73-76) as a pushed-down filter."""
    df = tables.with_derived_points(tables.load_spread(spark, sf_dir, "customer"), "c_custkey")
    qminx, qminy, qmaxx, qmaxy = -(1 << 29), -(1 << 28), 1 << 30, 1 << 29
    out = spatial_join.bbox_query(df, qminx, qminy, qmaxx, qmaxy)
    return out.select(F.col("c_custkey").alias("key")).orderBy("key")


_SQL_BBOX = f"""
  with pts as (
    select c_custkey as key,
           {x_expr(lon_expr("c_custkey"))} as x,
           {y_expr(lat_expr("c_custkey"))} as y
    from customer)
  select key from pts
  where x >= {-(1 << 29)} and x <= {1 << 30} and y >= {-(1 << 28)} and y <= {1 << 29}
  order by key
"""


def _q_bbox_antimeridian(spark, sf_dir):
    """Antimeridian-crossing box (Box.java:16-19,76-79): minx > maxx →
    disjunctive x-test, still a pushed-down scan filter."""
    df = tables.with_derived_points(tables.load_spread(spark, sf_dir, "customer"), "c_custkey")
    qminx, qminy, qmaxx, qmaxy = (1 << 30), -(1 << 29), -(1 << 30), 1 << 29
    out = spatial_join.bbox_query(df, qminx, qminy, qmaxx, qmaxy)
    return out.select(F.col("c_custkey").alias("key")).orderBy("key")


_SQL_BBOX_ANTIMERIDIAN = f"""
  with pts as (
    select c_custkey as key,
           {x_expr(lon_expr("c_custkey"))} as x,
           {y_expr(lat_expr("c_custkey"))} as y
    from customer)
  select key from pts
  where (x >= {1 << 30} or x <= {-(1 << 30)})
    and y >= {-(1 << 29)} and y <= {1 << 29}
  order by key
"""


def _q_distance(spark, sf_dir):
    """maxMetersFromLonLat radius filter (PointDistanceFilter.java:28-122)."""
    df = _derived_orders(spark, sf_dir)
    out = spatial_join.within_distance(df, CAIRO[0], CAIRO[1], 2_000_000.0, keep_cols=["o_orderkey"])
    return out.select(F.col("o_orderkey").alias("key"))


# Conservative bbox prefilter radius (exactness lives in the _dist_sql
# predicate); det-scale so it matches the engine's delta bit for bit.
_DELTA_SQL = repr(float(mercator.delta_from_meters(2_000_000.0, CAIRO_XY[1])[()]))


_SQL_DISTANCE = f"""
  with pts as ({_DERIVED_SQL})
  select o_orderkey as key from pts
  where x >= {CAIRO_XY[0]} - {_DELTA_SQL} and x <= {CAIRO_XY[0]} + {_DELTA_SQL}
    and y >= {CAIRO_XY[1]} - {_DELTA_SQL} and y <= {CAIRO_XY[1]} + {_DELTA_SQL}
    and {_dist_sql('x', 'y', str(CAIRO_XY[0]), str(CAIRO_XY[1]))} <= 2000000.0
"""


DJ_TARGETS = [("t_cairo", 31.24, 30.04), ("t_nyc", -74.01, 40.71), ("t_tokyo", 139.69, 35.69)]


DJ_METERS = 800_000.0


def _q_distance_join(spark, sf_dir):
    """Distance JOIN (multi-target PointDistanceFilter generalization):
    orders-derived points × 3 city targets within 800 km."""
    df = _derived_orders(spark, sf_dir)
    out = knn_mod.distance_join(df.select(F.col("o_orderkey").alias("image_id"), "x", "y"),
                                DJ_TARGETS, DJ_METERS, id_col="image_id")
    return out.select(
        F.col("image_id").alias("key"), "target_id",
        F.round("dist_m", 4).alias("dist_m"),
    ).orderBy("key", "target_id")


def _distance_join_sql() -> str:
    parts = []
    for tid, lon, lat in DJ_TARGETS:
        qx = int(mercator.x_from_lon(lon)[()])
        qy = int(mercator.y_from_lat(lat)[()])
        delta = int(np.ceil(float(mercator.delta_from_meters(DJ_METERS, qy)[()])))
        parts.append(f"""
          select o_orderkey as key, '{tid}' as target_id,
                 round({_dist_sql('x', 'y', str(qx), str(qy))}, 4) as dist_m
          from pts
          where abs(x - ({qx})) <= {delta} and abs(y - ({qy})) <= {delta}
            and {_dist_sql('x', 'y', str(qx), str(qy))} <= {DJ_METERS}""")
    u = " union all ".join(parts)
    return f"""
      with pts as ({_DERIVED_SQL})
      select * from ({u}) order by key, target_id
    """


SNAP_M = 600_000.0


def _q_snap_segments(spark, sf_dir):
    """Map matching: snap customer points to the nearest supplier-derived
    segment within 600 km (knn.snap_to_segments — one broadcast join +
    one bounded window; clamped int64 projection, exact Mercator foot
    distance)."""
    pts = tables.with_derived_points(
        tables.load_spread(spark, sf_dir, "customer"), "c_custkey"
    )
    segs = tables.with_derived_segments(
        tables.load_spread(spark, sf_dir, "supplier"), "s_suppkey"
    )
    out = knn_mod.snap_to_segments(
        pts.select(F.col("c_custkey").alias("key"), "x", "y"),
        segs.select(F.col("s_suppkey").alias("seg_id"), "x1", "y1", "x2", "y2"),
        SNAP_M,
        point_id="key",
        seg_id="seg_id",
    )
    # sx/sy are rational (x1 + t*Δ with t a clamped integer-dot ratio) so
    # ties at 4 dp are REAL — floor-form per the CLAUDE.md invariant.
    # dist_m is transcendental (sinh/asinh chain): ties measure-zero, round ok.
    r4 = lambda c: F.floor(F.col(c) * F.lit(1e4) + F.lit(0.5)) / F.lit(1e4)
    return out.select(
        "key", "seg_id", "t",
        r4("sx").alias("sx"), r4("sy").alias("sy"),
        F.round("dist_m", 4).alias("dist_m"),
    )


def _snap_sql() -> str:
    ddx, ddy = tables.segment_delta_exprs("s_suppkey")
    # delta_from_meters_col(M, py) * slack — conservative bbox prefilter
    # (det-scale keeps it aligned with the Column side's widened bbox).
    scale = mercator.scale_sql("py")
    delta = f"((cast({SNAP_M!r} as double) * {W!r} / {EC!r} * {scale}) * 1.5)"
    return f"""
      with pts as (
        select c_custkey as key,
               {x_expr(lon_expr("c_custkey"))} as px,
               {y_expr(lat_expr("c_custkey"))} as py
        from customer
      ),
      segs as (
        select s_suppkey as seg_id, x as x1, y as y1,
               least(greatest(x + {ddx}, -2147483648), 2147483647) as x2,
               least(greatest(y + {ddy}, -2147483648), 2147483647) as y2
        from (select s_suppkey,
                     {x_expr(lon_expr("s_suppkey"))} as x,
                     {y_expr(lat_expr("s_suppkey"))} as y
              from supplier) sp
      ),
      cand as (
        select key, seg_id, px, py, x1, y1, x2, y2,
               (x2 - x1) as abx, (y2 - y1) as aby,
               (px - x1) as apx, (py - y1) as apy
        from pts, segs
        where px >= least(x1, x2) - {delta} and px <= greatest(x1, x2) + {delta}
          and py >= least(y1, y2) - {delta} and py <= greatest(y1, y2) + {delta}
      ),
      tt as (
        select key, seg_id, px, py, x1, y1, abx, aby,
               case when (abx * abx + aby * aby) = 0 then 0.0
                    else least(greatest((apx * abx + apy * aby)
                                        / (abx * abx + aby * aby), 0.0), 1.0)
               end as t
        from cand
      ),
      sn as (
        select key, seg_id, t,
               x1 + t * abx as sx, y1 + t * aby as sy, px, py
        from tt
      ),
      d as (
        select key, seg_id, t, sx, sy,
               {_dist_sql('px', 'py', 'sx', 'sy')} as dist_m
        from sn
      ),
      r as (
        select *, row_number() over
                 (partition by key order by dist_m asc, seg_id asc) as rnk
        from d where dist_m <= {SNAP_M!r}
      )
      select key, seg_id, t,
             floor(sx * 1e4 + 0.5) / 1e4 as sx,
             floor(sy * 1e4 + 0.5) / 1e4 as sy,
             round(dist_m, 4) as dist_m
      from r where rnk = 1
    """


def _q_pip(spark, sf_dir):
    """containing(point) — the flagship three-band broadcast PIP join
    (ContainsPointFilter.java:26-72, AbstractRelateFilter.java:61-72)."""
    df = _derived_orders(spark, sf_dir).withColumn("x", F.col("x").cast("int")).withColumn(
        "y", F.col("y").cast("int")
    )
    prepared = [spatial_join.prepare_polygon("hex_cairo", pip.pack_rings([HEX_RING]))]
    out = spatial_join.contains_points(df.select("o_orderkey", "x", "y"), prepared, keep_cols=["o_orderkey"])
    return out.select(F.col("o_orderkey").alias("key"), "poly_id")


def _hex_halfplane_sql() -> str:
    clauses = []
    for i in range(6):
        x1, y1 = HEX_RING[i]
        x2, y2 = HEX_RING[i + 1]
        clauses.append(
            f"(({x2 - x1!r}) * (y - ({y1!r})) - ({y2 - y1!r}) * (x - ({x1!r})) >= 0)"
        )
    return " and ".join(clauses)


_SQL_PIP = f"""
  with pts as ({_DERIVED_SQL})
  select o_orderkey as key, 'hex_cairo' as poly_id from pts
  where {_hex_halfplane_sql()}
"""


def _hex_grid_layer() -> list[tuple[str, np.ndarray]]:
    """4×4 grid of disjoint hexagons (centers 4R/3R apart) — a multi-
    polygon layer for the big-big shuffle join; vertices are integer-
    valued floats, exact in both engines."""
    polys = []
    for i in range(4):
        for j in range(4):
            cx = CAIRO_XY[0] + (i - 2) * 4 * HEX_R
            cy = CAIRO_XY[1] + (j - 2) * 3 * HEX_R
            polys.append((f"hex_{i}_{j}", _hexagon(cx, cy, HEX_R)))
    return polys


def _q_pip_partitioned(spark, sf_dir):
    """containing(point) with a DataFrame layer — the shuffle big-big
    path (operators/bigjoin.py): distributed Arrow layer prep, cell-id
    shuffle equi-join, exact ray-cast fold over a segment COLUMN (no
    broadcast, no plan literals).  Same three-band semantics as pip_join
    (Filter.filterForTile, FastTileFilter.java:40-60)."""
    from geodesk_spark.operators import bigjoin

    df = _derived_orders(spark, sf_dir).withColumn("x", F.col("x").cast("int")).withColumn(
        "y", F.col("y").cast("int")
    )
    rows = [(pid, bytearray(pip.pack_rings([ring]))) for pid, ring in _hex_grid_layer()]
    ldf = spark.createDataFrame(rows, schema="poly_id string, rings binary")
    out = bigjoin.contains_points_big(
        df.select("o_orderkey", "x", "y"), ldf, keep_cols=["o_orderkey"]
    )
    return out.select(F.col("o_orderkey").alias("key"), "poly_id")


def _pip_partitioned_sql() -> str:
    branches = []
    for pid, ring in _hex_grid_layer():
        clauses = []
        for i in range(6):
            x1, y1 = ring[i]
            x2, y2 = ring[i + 1]
            clauses.append(
                f"(({x2 - x1!r}) * (y - ({y1!r})) - ({y2 - y1!r}) * (x - ({x1!r})) >= 0)"
            )
        branches.append(
            f"select o_orderkey as key, '{pid}' as poly_id from pts where "
            + " and ".join(clauses)
        )
    return f"with pts as ({_DERIVED_SQL}) " + " union all ".join(branches)


ZONAL_GRID_BITS = 7


def _q_zonal(spark, sf_dir):
    """Zonal statistics (tiles_sink.zonal_stats): the order-point density
    raster aggregated per hex-grid polygon zone by the center rule --
    grid_counts -> exact cell centers -> flagship broadcast PIP ->
    per-zone rollup."""
    from geodesk_spark.operators import tiles_sink

    df = _derived_orders(spark, sf_dir)
    prepared = [
        spatial_join.prepare_polygon(pid, pip.pack_rings([ring]))
        for pid, ring in _hex_grid_layer()
    ]
    return tiles_sink.zonal_stats(df, prepared, grid_bits=ZONAL_GRID_BITS)


def _zonal_sql() -> str:
    step = 1 << (32 - ZONAL_GRID_BITS)
    branches = []
    for pid, ring in _hex_grid_layer():
        clauses = []
        for i in range(6):
            x1, y1 = ring[i]
            x2, y2 = ring[i + 1]
            clauses.append(
                f"(({x2 - x1!r}) * (y - ({y1!r})) - ({y2 - y1!r}) * (x - ({x1!r})) >= 0)"
            )
        branches.append(
            f"select '{pid}' as poly_id, n from centers where "
            + " and ".join(clauses)
        )
    return f"""
      with pts as ({_DERIVED_SQL}),
      cells as (select cast(floor((x + 2147483648) / {step}) as bigint) as gx,
                       cast(floor((2147483647 - y) / {step}) as bigint) as gy,
                       count(*) as n
                from pts group by 1, 2),
      centers as (select n,
                         cast(gx * {step} + {step // 2} - 2147483648 as bigint) as x,
                         cast(2147483647 - (gy * {step} + {step // 2}) as bigint) as y
                  from cells),
      hits as ({" union all ".join(branches)})
      select poly_id, count(*) as n_cells, sum(n) as sum_val, max(n) as max_val
      from hits group by poly_id
    """


def _q_incr_rollup(spark, sf_dir):
    """Incremental tile-rollup maintenance (checkpoint.merge_rollup): a
    90% base slice is rolled up once, the 10% delta batch folds in
    WITHOUT rescanning base facts; the oracle is the full recompute --
    merge(rollup(A), B) == rollup(A ∪ B) exactly."""
    from geodesk_spark.streaming import checkpoint

    df = _derived_orders(spark, sf_dir).withColumn(
        "tile", T.tile_col(F.col("x"), F.col("y"), 8).cast("bigint")
    )
    base = df.filter(F.col("o_orderkey") % 10 != 0)
    delta = df.filter(F.col("o_orderkey") % 10 == 0)
    sums = {"n": "1", "sum_price": "cast(o_totalprice as decimal(18,2))"}
    base_roll = base.groupBy("tile").agg(
        *[F.sum(F.expr(e)).alias(o) for o, e in sums.items()]
    )
    merged = checkpoint.merge_rollup(base_roll, delta, ["tile"], sums)
    return merged.select(
        "tile", "n", F.col("sum_price").cast("double").alias("sum_price")
    )


_SQL_INCR_ROLLUP = f"""
  with pts as (
    select o_orderkey, o_totalprice,
           {x_expr(lon_expr("o_orderkey"))} as x,
           {y_expr(lat_expr("o_orderkey"))} as y
    from orders
  )
  select {tile_expr('x', 'y', 8)} as tile, count(*) as n,
         cast(sum(cast(o_totalprice as decimal(18,2))) as double) as sum_price
  from pts group by 1
"""


def _q_quadkeys(spark, sf_dir):
    """Quadkey encode (geo/tile.quadkey_col): the Bing string form of the
    quad pyramid -- prefix = ancestor, making it a range-scannable
    storage key; pure codegen digit arithmetic."""
    df = _derived_orders(spark, sf_dir).withColumn(
        "tile", T.tile_col(F.col("x"), F.col("y"), 8)
    )
    return df.select(
        "o_orderkey", T.quadkey_col(F.col("tile"), 8).alias("qk")
    )


def _quadkey_sql() -> str:
    step = 1 << (32 - 8)
    col = f"cast(floor((x + 2147483648) / {step}) as bigint)"
    row = f"cast(floor((2147483647 - y) / {step}) as bigint)"
    return f"""
      with pts as ({_DERIVED_SQL})
      select o_orderkey, {T.quadkey_sql(col, row, 8)} as qk from pts
    """


def _q_knn(spark, sf_dir):
    """kNN via cell-ring expansion (north star; built on PointDistanceFilter
    semantics).  Exact — the oracle is brute-force window top-k."""
    df = _derived_orders(spark, sf_dir).withColumn("key", F.col("o_orderkey").cast("string"))
    out = knn_mod.knn(df.select("key", "x", "y"), KNN_QUERIES, k=KNN_K, id_col="key")
    return out.select("query_id", "key", F.col("rank").cast("int").alias("rank"))


def _knn_sql() -> str:
    qrows = []
    for qid, lon, lat in KNN_QUERIES:
        qx = int(mercator.x_from_lon(lon)[()])
        qy = int(mercator.y_from_lat(lat)[()])
        qrows.append(f"select '{qid}' as query_id, {qx} as qx, {qy} as qy")
    qtable = " union all ".join(qrows)
    return f"""
      with pts as ({_DERIVED_SQL}), q as ({qtable}),
      d as (
        select q.query_id, cast(pts.o_orderkey as varchar) as key,
               {_dist_sql('pts.x', 'pts.y', 'q.qx', 'q.qy')} as dist_m
        from pts cross join q
      )
      select query_id, key, cast(rank as int) as rank from (
        select query_id, key, row_number() over (partition by query_id order by dist_m asc, key asc) as rank
        from d
      ) where rank <= {KNN_K}
    """


KNNJ_K = 5


KNNJ_MOD = 97


def _q_knn_join(spark, sf_dir):
    """kNN join (knn.knn_join): the exact 5 nearest order-derived points
    for EVERY customer-derived query row — knn_cellring with a DataFrame
    query side (VERDICT r02 #3).  The query side is dimension-sized: the
    rounds collect its rows and their top-k to the driver.  Oracle =
    brute-force cross-join window top-k."""
    pts = _derived_orders(spark, sf_dir).withColumn(
        "key", F.col("o_orderkey").cast("string")
    )
    qs = (
        tables.with_derived_points(
            tables.load_spread(spark, sf_dir, "customer"), "c_custkey"
        )
        .filter(F.col("c_custkey") % KNNJ_MOD == 0)
        .select(
            F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("query_id"),
            "x",
            "y",
        )
    )
    out = knn_mod.knn_join(pts.select("key", "x", "y"), qs, k=KNNJ_K, id_col="key")
    return out.select(
        "query_id", "key", "dist_m", F.col("rank").cast("int").alias("rank")
    )


def _knn_join_sql() -> str:
    return f"""
      with pts as ({_DERIVED_SQL}),
      qs as (
        select 'c' || cast(c_custkey as varchar) as query_id,
               {x_expr(lon_expr("c_custkey"))} as qx,
               {y_expr(lat_expr("c_custkey"))} as qy
        from customer where c_custkey % {KNNJ_MOD} = 0
      ),
      d as (
        select qs.query_id, cast(pts.o_orderkey as varchar) as key,
               {_dist_sql('pts.x', 'pts.y', 'qs.qx', 'qs.qy')} as dist_m
        from pts cross join qs
      )
      select query_id, key, dist_m, cast(rank as int) as rank from (
        select query_id, key, dist_m,
               row_number() over (partition by query_id order by dist_m asc, key asc) as rank
        from d
      ) where rank <= {KNNJ_K}
    """


IDW_K = 8


def _q_idw(spark, sf_dir):
    """IDW spatial interpolation (knn.idw_interpolate): 1/d²-weighted mean
    of the exact kNN set at each query point, rank-ordered folds, exact-hit
    guard — the classic interpolation consumer of the kNN north star."""
    df = _derived_orders(spark, sf_dir).withColumn("key", F.col("o_orderkey").cast("string"))
    pts = df.select("key", "x", "y", F.col("o_totalprice").cast("double").alias("v"))
    out = knn_mod.idw_interpolate(pts, KNN_QUERIES, k=IDW_K, val_col="v", id_col="key")
    return out.select(
        "query_id", "idw_value", F.col("n_samples").cast("int").alias("n_samples")
    )


def _idw_sql() -> str:
    qrows = []
    for qid, lon, lat in KNN_QUERIES:
        qx = int(mercator.x_from_lon(lon)[()])
        qy = int(mercator.y_from_lat(lat)[()])
        qrows.append(f"select '{qid}' as query_id, {qx} as qx, {qy} as qy")
    qtable = " union all ".join(qrows)
    return f"""
      with pts as (
        select o_orderkey, cast(o_totalprice as double) as v,
               {x_expr(lon_expr("o_orderkey"))} as x,
               {y_expr(lat_expr("o_orderkey"))} as y
        from orders
      ), q as ({qtable}),
      d as (
        select q.query_id, cast(pts.o_orderkey as varchar) as key, pts.v,
               pts.x, pts.y, q.qx, q.qy,
               {_dist_sql('pts.x', 'pts.y', 'q.qx', 'q.qy')} as dist_m
        from pts cross join q
      ),
      r as (
        select *, row_number() over (partition by query_id
                                     order by dist_m asc, key asc) as rank
        from d
      ),
      t as (
        select query_id, rank, v,
               greatest(cast(x - qx as double) * cast(x - qx as double)
                        + cast(y - qy as double) * cast(y - qy as double),
                        1.0) as d2
        from r where rank <= {IDW_K}
      ),
      f as (
        select query_id,
               list_sum(list(v / d2 order by rank)) as num,
               list_sum(list(1.0 / d2 order by rank)) as den,
               count(*) as n
        from t group by query_id
      )
      select query_id, num / den as idw_value, cast(n as int) as n_samples from f
    """




def _q_tile_diff(spark, sf_dir):
    """Dirty-tile detection (checkpoint.diff_rollup): diff the z8 tile
    rollup of the 90% base slice against the full table -- the
    added/changed tile set is exactly what an incremental re-render
    touches after the 10% ingest.  Measures compared exactly (count +
    decimal sum); doubles only in the output projection."""
    from geodesk_spark.streaming import checkpoint

    df = _derived_orders(spark, sf_dir).withColumn(
        "tile", T.tile_col(F.col("x"), F.col("y"), 8).cast("bigint")
    )
    aggs = [
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("sp"),
    ]
    old = df.filter(F.col("o_orderkey") % 10 != 0).groupBy("tile").agg(*aggs)
    new = df.groupBy("tile").agg(*aggs)
    d = checkpoint.diff_rollup(old, new, ["tile"], ["n", "sp"])
    return d.select(
        "tile",
        "status",
        "n_old",
        "n_new",
        F.col("sp_old").cast("double").alias("sp_old"),
        F.col("sp_new").cast("double").alias("sp_new"),
    )


_SQL_TILE_DIFF = f"""
  with pts as (
    select o_orderkey, o_totalprice,
           {x_expr(lon_expr("o_orderkey"))} as x,
           {y_expr(lat_expr("o_orderkey"))} as y
    from orders
  ),
  t as (select {tile_expr('x', 'y', 8)} as tile, o_orderkey, o_totalprice from pts),
  o as (select tile, count(*) as n, sum(cast(o_totalprice as decimal(18,2))) as sp
        from t where o_orderkey % 10 <> 0 group by 1),
  nn as (select tile, count(*) as n, sum(cast(o_totalprice as decimal(18,2))) as sp
         from t group by 1)
  select coalesce(o.tile, nn.tile) as tile,
         case when o.tile is null then 'added'
              when nn.tile is null then 'removed'
              when o.n is distinct from nn.n or o.sp is distinct from nn.sp
                then 'changed'
              else 'same' end as status,
         o.n as n_old, nn.n as n_new,
         cast(o.sp as double) as sp_old, cast(nn.sp as double) as sp_new
  from o full outer join nn on o.tile = nn.tile
"""


RM_ROUTES = 4
RM_SNAP_M = 3_000_000.0  # 3000 km: routes cluster near 4 base areas


def _q_route_measure(spark, sf_dir):
    """Linear referencing (knn.route_measure): snap customers to the
    nearest route segment within 3000 km, then the distance ALONG the
    route — bigint micro-meter prefix sums (exact under any
    association; DuckDB window sums tree-reduce) + det_cosh lengths, so
    every emitted integer is engine-independent.  Routes are derived
    random-walk polylines (steps ±2^20 imps keep every dot product
    int64-exact; vertices clamp to the int32 world box)."""
    from pyspark.sql import Window

    pts = tables.with_derived_points(
        tables.load_spread(spark, sf_dir, "customer"), "c_custkey"
    ).select(F.col("c_custkey").alias("key"), "x", "y")
    sp = tables.load_spread(spark, sf_dir, "supplier")
    k = F.col("s_suppkey").cast("long")
    sp = sp.select(
        "s_suppkey",
        (k % RM_ROUTES).alias("route_id"),
        ((k * 104729) % 2097152 - 1048576).alias("ddx"),
        ((k * 130363) % 2097152 - 1048576).alias("ddy"),
    )
    w = Window.partitionBy("route_id").orderBy("s_suppkey")
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    clamp = lambda c: F.least(
        F.greatest(c, F.lit(-(1 << 31)).cast("long")),
        F.lit((1 << 31) - 1).cast("long"),
    )
    sp = (
        sp.withColumn("_bx", F.expr(x_expr(lon_expr("route_id"))))
        .withColumn("_by", F.expr(y_expr(lat_expr("route_id"))))
        .withColumn("vx", clamp(F.col("_bx") + F.sum("ddx").over(wc)))
        .withColumn("vy", clamp(F.col("_by") + F.sum("ddy").over(wc)))
        .withColumn("seq", F.row_number().over(w).cast("long"))
    )
    segs = (
        sp.withColumn("x2", F.lead("vx").over(w))
        .withColumn("y2", F.lead("vy").over(w))
        .filter(F.col("x2").isNotNull())
        .select(
            "route_id", "seq",
            F.col("vx").alias("x1"), F.col("vy").alias("y1"), "x2", "y2",
        )
    )
    out = knn_mod.route_measure(pts, segs, RM_SNAP_M, point_id="key")
    return out.select(
        "key", "route_id", "seq", "t_micro",
        F.round("dist_m", 4).alias("dist_m"),  # transcendental: ties measure-zero
        "measure_um",
    )


def _route_measure_sql() -> str:
    scale = mercator.scale_sql("py")
    delta = f"((cast({RM_SNAP_M!r} as double) * {W!r} / {EC!r} * {scale}) * 1.5)"
    clamp = lambda c: f"least(greatest({c}, -2147483648), 2147483647)"
    return f"""
      with pts as (
        select c_custkey as key,
               {x_expr(lon_expr("c_custkey"))} as px,
               {y_expr(lat_expr("c_custkey"))} as py
        from customer),
      sp0 as (
        select s_suppkey, s_suppkey % {RM_ROUTES} as route_id,
               (s_suppkey * 104729) % 2097152 - 1048576 as ddx,
               (s_suppkey * 130363) % 2097152 - 1048576 as ddy
        from supplier),
      sp as (
        select s_suppkey, route_id,
               {clamp(f"{x_expr(lon_expr('route_id'))} + cast(sum(ddx) over wc as bigint)")} as vx,
               {clamp(f"{y_expr(lat_expr('route_id'))} + cast(sum(ddy) over wc as bigint)")} as vy,
               cast(row_number() over w as bigint) as seq
        from sp0
        window w as (partition by route_id order by s_suppkey),
               wc as (partition by route_id order by s_suppkey
                      rows between unbounded preceding and current row)),
      segs0 as (
        select route_id, seq, vx as x1, vy as y1,
               lead(vx) over w as x2, lead(vy) over w as y2
        from sp
        window w as (partition by route_id order by seq)),
      segs1 as (select * from segs0 where x2 is not null),
      segs as (
        select *,
               cast(floor({_dist_sql('x1', 'y1', 'x2', 'y2')} * 1e6 + 0.5) as bigint)
                 as len_um,
               route_id * cast({1 << 20} as bigint) + seq as seg_id
        from segs1),
      pref as (
        select *,
               cast(coalesce(sum(len_um) over (partition by route_id order by seq
                          rows between unbounded preceding and 1 preceding),
                        0) as bigint) as prefix_um
        from segs),
      cand as (
        select key, seg_id, px, py, x1, y1, x2, y2,
               (x2 - x1) as abx, (y2 - y1) as aby,
               (px - x1) as apx, (py - y1) as apy
        from pts, pref
        where px >= least(x1, x2) - {delta} and px <= greatest(x1, x2) + {delta}
          and py >= least(y1, y2) - {delta} and py <= greatest(y1, y2) + {delta}),
      tt as (
        select key, seg_id, px, py, x1, y1, abx, aby,
               case when (abx * abx + aby * aby) = 0 then 0.0
                    else least(greatest((apx * abx + apy * aby)
                                        / (abx * abx + aby * aby), 0.0), 1.0)
               end as t
        from cand),
      sn as (
        select key, seg_id, t, x1 + t * abx as sx, y1 + t * aby as sy, px, py
        from tt),
      d as (
        select key, seg_id, t, sx, sy,
               {_dist_sql('px', 'py', 'sx', 'sy')} as dist_m
        from sn),
      r as (
        select *, row_number() over
                 (partition by key order by dist_m asc, seg_id asc) as rnk
        from d where dist_m <= {RM_SNAP_M!r})
      select r.key, p.route_id, p.seq,
             cast(floor(r.t * 1e6 + 0.5) as bigint) as t_micro,
             round(r.dist_m, 4) as dist_m,
             p.prefix_um + cast(floor(r.t * p.len_um + 0.5) as bigint) as measure_um
      from r join pref p using (seg_id)
      where r.rnk = 1
    """
