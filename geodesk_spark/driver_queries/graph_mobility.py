"""Driver-contract query builders; registry.py assembles them into QUERIES."""

from __future__ import annotations

from geodesk_spark.driver_queries.common import (
    F,
    _DERIVED_SQL,
    _derived_orders,
    _part_features,
    lat_expr,
    lon_expr,
    tables,
    x_expr,
    y_expr,
)

def _q_pagerank(spark, sf_dir):
    """Integer PageRank over the user→target interaction graph
    (graph.pagerank_integer): 5 exact-integer iterations, one shuffle
    join per round; oracle = the loop unrolled as chained CTEs."""
    from geodesk_spark.operators import graph as graph_mod

    e = tables.load_spread(spark, sf_dir, "events").select(
        F.col("user_id").alias("src"), (F.col("event_id") % 50).alias("dst")
    )
    # dimension-sized graph: lazy 10-join plan beats 10 blocking rounds
    return graph_mod.pagerank_integer(e, iters=5, materialize=False)


def _pagerank_sql() -> str:
    from geodesk_spark.operators import graph as graph_mod

    return graph_mod.pagerank_integer_sql(
        "select user_id as src, event_id % 50 as dst from events", iters=5
    )


SSSP_SOURCES = [0, 7]


SSSP_ROUNDS = 4


_SSSP_EDGES_SQL = (
    "select user_id as src, (event_id % 500) + 1000 as dst, 1 + (event_id % 97) as w from events "
    "union all "
    "select (event_id % 500) + 1000 as src, user_id as dst, 1 + (event_id % 97) as w from events"
)


def _q_sssp(spark, sf_dir):
    """Bounded-round SSSP (graph.sssp_rounds): ≤4-hop integer shortest
    paths from two sources over the undirected user↔target interaction
    graph — delta-frontier Bellman-Ford, one shuffle join per round;
    oracle = the frontier-free relaxation unrolled as chained CTEs."""
    from geodesk_spark.operators import graph as graph_mod

    ev = tables.load_spread(spark, sf_dir, "events")
    fwd = ev.select(
        F.col("user_id").alias("src"),
        ((F.col("event_id") % 500) + 1000).alias("dst"),
        (F.lit(1) + F.col("event_id") % 97).alias("w"),
    )
    e = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    return graph_mod.sssp_rounds(
        e, SSSP_SOURCES, rounds=SSSP_ROUNDS, materialize=False
    )


def _sssp_sql() -> str:
    from geodesk_spark.operators import graph as graph_mod

    return graph_mod.sssp_rounds_sql(_SSSP_EDGES_SQL, SSSP_SOURCES, rounds=SSSP_ROUNDS)


ISO_THRESHOLDS = [60, 150, 300]


def _q_isochrone(spark, sf_dir):
    """Isochrone reachability polygons (graph.isochrone_bands): SSSP
    over the interaction graph → cumulative cost bands → convex hull
    per band (exact integer cross products).  Node coordinates come
    from the same derived-point recipe keyed on the node id, so the
    whole chain is integer-deterministic end-to-end."""
    from geodesk_spark.operators import graph as graph_mod

    ev = tables.load_spread(spark, sf_dir, "events")
    fwd = ev.select(
        F.col("user_id").alias("src"),
        ((F.col("event_id") % 500) + 1000).alias("dst"),
        (F.lit(1) + F.col("event_id") % 97).alias("w"),
    )
    e = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    dist = graph_mod.sssp_rounds(
        e, SSSP_SOURCES, rounds=SSSP_ROUNDS, materialize=False
    )
    nodes = tables.with_derived_points(dist.select("node"), "node").select(
        "node", "x", "y"
    )
    return graph_mod.isochrone_bands(dist, nodes, ISO_THRESHOLDS).select(
        "band", "x", "y"
    )


def _isochrone_sql() -> str:
    from geodesk_spark.operators import graph as graph_mod

    sssp = graph_mod.sssp_rounds_sql(_SSSP_EDGES_SQL, SSSP_SOURCES, rounds=SSSP_ROUNDS)
    bands = ",".join(f"({t})" for t in ISO_THRESHOLDS)
    return f"""
      with d as ({sssp}),
      nd as (select node, dist,
                    {x_expr(lon_expr("node"))} as x,
                    {y_expr(lat_expr("node"))} as y
             from d),
      bands(band) as (values {bands}),
      bp as (select distinct cast(band as bigint) as band, x, y
             from nd join bands on nd.dist <= bands.band),
      verts as (
        select distinct a.band, a.x, a.y
        from bp a join bp b
          on a.band = b.band and (a.x <> b.x or a.y <> b.y)
        where not exists (
          select 1 from bp c
          where c.band = a.band
            and (c.x <> a.x or c.y <> a.y)
            and (c.x <> b.x or c.y <> b.y)
            and cast(b.x - a.x as hugeint) * (c.y - a.y)
                - cast(b.y - a.y as hugeint) * (c.x - a.x) <= 0)),
      singles as (select band, min(x) as x, min(y) as y
                  from bp group by band having count(*) = 1)
      select band, x, y from verts
      union all
      select band, x, y from singles
    """


GEOFENCES = [
    ("A", -(1 << 30), -(1 << 29), -(1 << 28), (1 << 29)),
    ("B", 0, 0, (1 << 29), (1 << 30)),
    ("C", (1 << 29), -(1 << 30), (1 << 30), 0),
]


def _fence_case_col(x, y):
    c = None
    for fid, minx, miny, maxx, maxy in GEOFENCES:
        cond = (x >= minx) & (x < maxx) & (y >= miny) & (y < maxy)
        c = F.when(cond, F.lit(fid)) if c is None else c.when(cond, F.lit(fid))
    return c


def _q_geofence(spark, sf_dir):
    """Geofence enter/exit/switch stream (relational.geofence_transitions):
    per-event bbox fence assignment (first-match, pure Catalyst) -> per-user
    lag window; ONE shuffle, null-safe state compare."""
    from geodesk_spark.operators import relational

    ev = tables.with_derived_points(
        tables.load_spread(spark, sf_dir, "events"), "event_id"
    )
    located = ev.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_id",
        _fence_case_col(F.col("x"), F.col("y")).alias("fence_id"),
    )
    return relational.geofence_transitions(located, ts_col="ts_us").select(
        "user_id", "ts_us", "event_id", "prev_fence", "fence", "kind"
    )


def _geofence_sql() -> str:
    fence_case = "case " + " ".join(
        f"when x >= {minx} and x < {maxx} and y >= {miny} and y < {maxy} then '{fid}'"
        for fid, minx, miny, maxx, maxy in GEOFENCES
    ) + " end"
    return f"""
      with pts as (
        select user_id, epoch_us(ts) as ts_us, event_id,
               {x_expr(lon_expr("event_id"))} as x,
               {y_expr(lat_expr("event_id"))} as y
        from events
      ),
      located as (select user_id, ts_us, event_id, {fence_case} as fence_id from pts),
      lagged as (
        select user_id, ts_us, event_id, fence_id,
               lag(fence_id) over (partition by user_id order by ts_us, event_id) as prev_fence
        from located
      )
      select user_id, ts_us, event_id, prev_fence, fence_id as fence,
             case when fence_id is null then 'exit'
                  when prev_fence is null then 'enter'
                  else 'switch' end as kind
      from lagged
      where fence_id is distinct from prev_fence
    """


COLOC_BUCKET_US = 86_400_000_000  # 1 day


COLOC_GRID_BITS = 5


COLOC_MIN_BUCKETS = 2


COLOC_KEY = "user_id * 7919 + (event_id % 16)"


OD_GRID_BITS = 5


_EVENTS_LOCATED_SQL = f"""
        select user_id, epoch_us(ts) as ts_us, event_id,
               {x_expr(lon_expr("event_id"))} as x,
               {y_expr(lat_expr("event_id"))} as y
        from events
"""


def _located_events(spark, sf_dir):
    ev = tables.with_derived_points(tables.load_spread(spark, sf_dir, "events"), "event_id")
    return ev.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_id",
        "x",
        "y",
    )


def _q_colocation(spark, sf_dir):
    """Co-location contact pairs (mobility.colocation_pairs): users sharing
    a z5-lattice cell within the same day bucket in >= 2 distinct buckets;
    distinct-first self-join, hot-cell cap guard."""
    from geodesk_spark.operators import mobility

    ev = tables.with_derived_points(
        tables.load_spread(spark, sf_dir, "events"), COLOC_KEY
    )
    located = ev.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_id",
        "x",
        "y",
    )
    return mobility.colocation_pairs(
        located,
        bucket_us=COLOC_BUCKET_US,
        grid_bits=COLOC_GRID_BITS,
        min_buckets=COLOC_MIN_BUCKETS,
    )


def _colocation_sql() -> str:
    sub = 1 << (32 - COLOC_GRID_BITS)
    located = f"""
        select user_id, epoch_us(ts) as ts_us, event_id,
               {x_expr(lon_expr(COLOC_KEY))} as x,
               {y_expr(lat_expr(COLOC_KEY))} as y
        from events
    """
    return f"""
      with pts as ({located}),
      obs as (select distinct user_id as u, ts_us // {COLOC_BUCKET_US} as tb,
                     cast(floor((x + 2147483648) / {sub}) as bigint) as gx,
                     cast(floor((2147483647 - y) / {sub}) as bigint) as gy
              from pts),
      ok as (select tb, gx, gy from obs group by tb, gx, gy having count(*) <= 10000),
      o2 as (select obs.* from obs join ok using (tb, gx, gy)),
      pairs as (select a.u as u1, b.u as u2, a.tb
                from o2 a join o2 b
                  on a.tb = b.tb and a.gx = b.gx and a.gy = b.gy and a.u < b.u)
      select u1, u2, count(distinct tb) as n_buckets
      from pairs group by u1, u2
      having count(distinct tb) >= {COLOC_MIN_BUCKETS}
    """


def _q_od_matrix(spark, sf_dir):
    """Origin->destination flow matrix (mobility.od_matrix): per (user, day)
    first/last z5 cell as one trip, conditional aggregation reusing the
    window partitioning -- one shuffle to trips."""
    from geodesk_spark.operators import mobility

    return mobility.od_matrix(_located_events(spark, sf_dir), grid_bits=OD_GRID_BITS)


def _od_matrix_sql() -> str:
    sub = 1 << (32 - OD_GRID_BITS)
    return f"""
      with pts as ({_EVENTS_LOCATED_SQL}),
      obs as (select user_id as u, ts_us // 86400000000 as day, ts_us, event_id,
                     cast(floor((x + 2147483648) / {sub}) as bigint) as gx,
                     cast(floor((2147483647 - y) / {sub}) as bigint) as gy
              from pts),
      r as (select *,
                   row_number() over (partition by u, day order by ts_us, event_id) as rf,
                   row_number() over (partition by u, day order by ts_us desc, event_id desc) as rb
            from obs),
      trips as (select u, day,
                       max(case when rf = 1 then gx end) as o_gx,
                       max(case when rf = 1 then gy end) as o_gy,
                       max(case when rb = 1 then gx end) as d_gx,
                       max(case when rb = 1 then gy end) as d_gy
                from r group by u, day)
      select o_gx, o_gy, d_gx, d_gy, count(*) as n_trips
      from trips group by o_gx, o_gy, d_gx, d_gy
    """


STAY_MIN_US = 3_600_000_000  # 1 hour dwell


STAY_GRID_BITS = 8


STAY_KEY_SPARK = "user_id * 7919 + (event_id div 1024)"


STAY_KEY_SQL = "user_id * 7919 + (event_id // 1024)"


def _q_staypoints(spark, sf_dir):
    """Stay-point detection (mobility.staypoints): maximal same-cell runs
    per user with >= 1 h dwell -- gaps-and-islands, ONE shuffle (the
    rollup reuses the window partitioning)."""
    from geodesk_spark.operators import mobility

    ev = tables.with_derived_points(
        tables.load_spread(spark, sf_dir, "events"), STAY_KEY_SPARK
    )
    located = ev.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_id",
        "x",
        "y",
    )
    return mobility.staypoints(
        located, min_duration_us=STAY_MIN_US, grid_bits=STAY_GRID_BITS
    )


def _staypoints_sql() -> str:
    sub = 1 << (32 - STAY_GRID_BITS)
    return f"""
      with pts as (
        select user_id as u, epoch_us(ts) as ts_us, event_id,
               {x_expr(lon_expr(STAY_KEY_SQL))} as x,
               {y_expr(lat_expr(STAY_KEY_SQL))} as y
        from events
      ),
      obs as (select u, ts_us, event_id,
                     cast(floor((x + 2147483648) / {sub}) as bigint) as gx,
                     cast(floor((2147483647 - y) / {sub}) as bigint) as gy
              from pts),
      l as (select *, lag(gx) over w as pgx, lag(gy) over w as pgy from obs
            window w as (partition by u order by ts_us, event_id)),
      r as (select *, sum(case when pgx is distinct from gx
                                 or pgy is distinct from gy
                           then 1 else 0 end)
                     over (partition by u order by ts_us, event_id) as run
            from l)
      select u, min(gx) as gx, min(gy) as gy, count(*) as n_obs,
             min(ts_us) as start_us, max(ts_us) as end_us,
             max(ts_us) - min(ts_us) as dwell_us
      from r group by u, run
      having max(ts_us) - min(ts_us) >= {STAY_MIN_US}
    """


def _q_triangles(spark, sf_dir):
    """Per-node triangle counts via degree-ordered orientation
    (graph.triangle_counts, O(m^1.5) wedge join); oracle counts
    triangles the INDEPENDENT way — a<b<c triple join with no
    orientation."""
    from geodesk_spark.operators import graph as graph_mod

    o = tables.load_spread(spark, sf_dir, "orders")
    k = F.col("o_orderkey").cast("long")
    e = o.select((k % 200).alias("a"), (F.expr("(o_orderkey div 200)") % 200).alias("b"))
    return graph_mod.triangle_counts(e)


_SQL_TRIANGLES = """
  with e0 as (select o_orderkey % 200 as a, (o_orderkey // 200) % 200 as b
              from orders),
  und as (select distinct least(a, b) as u, greatest(a, b) as v
          from e0 where a <> b),
  t as (
    select e1.u as a, e1.v as b, e2.v as c
    from und e1
    join und e2 on e2.u = e1.v
    join und e3 on e3.u = e1.u and e3.v = e2.v
  )
  select node, count(*) as n_tri
  from (select a as node from t union all select b from t union all select c from t) n
  group by node
"""


_LINREG_T0_US = 1_704_067_200_000_000  # 2024-01-01 in epoch micros


def _q_linreg_trend(spark, sf_dir):
    """Exact per-user OLS value trend (stats.group_linreg): decimal-sum
    closed form, one aggregation — the drift-detection rollup."""
    from geodesk_spark.operators import stats

    e = tables.load_spread(spark, sf_dir, "events").select(
        "user_id",
        (F.unix_micros(F.col("ts").cast("timestamp")) - F.lit(_LINREG_T0_US)).alias("xr"),
        "value",
    )
    return stats.group_linreg(e, "user_id", "xr", "value")


def _linreg_sql() -> str:
    from geodesk_spark.operators import stats

    return stats.group_linreg_sql(
        f"(select user_id, epoch_us(ts) - {_LINREG_T0_US} as xr, value from events) e",
        "user_id",
        "xr",
        "value",
    )


def _q_theil_sen(spark, sf_dir):
    """Per-user Theil–Sen robust trend (stats.theil_sen): the
    median-of-pairwise-slopes drift detector that shrugs off the wild
    outliers OLS chases — the robust sibling of linreg_user_trend on
    the same event stream.  Pairwise slopes are single IEEE divisions
    of exact integers; medians are order statistics — deterministic
    end-to-end."""
    from geodesk_spark.operators import stats

    e = tables.load_spread(spark, sf_dir, "events").select(
        (F.col("user_id") % 50).alias("grp"),
        (F.col("event_id") % 997).alias("x"),
        # planted linear signal + bounded noise + sparse huge outliers
        (
            F.col("event_id") % 997 * 7
            + (F.col("event_id") * 48271) % 41
            + F.when(F.col("event_id") % 97 == 0, F.lit(100000)).otherwise(F.lit(0))
        ).alias("y"),
    )
    return stats.theil_sen(e, "grp", "x", "y", cap=120)


def _theil_sen_sql() -> str:
    from geodesk_spark.operators import stats

    rel = """(select user_id % 50 as grp, event_id % 997 as x,
              event_id % 997 * 7 + (event_id * 48271) % 41
              + case when event_id % 97 = 0 then 100000 else 0 end as y
              from events) t"""
    return stats.theil_sen_sql(rel, "grp", cap=120)


RIPLEY_RADII = (1 << 21, 1 << 23, 1 << 25, 1 << 27)


def _q_ripley(spark, sf_dir):
    """Ripley's K pair-count table (stats.ripley_pair_counts) over the
    derived order points: exact unordered pair counts within each radius
    via ONE grid-blocked halo self-join + ONE conditional aggregation —
    the point-pattern clustering statistic, all integer, K-normalization
    left as the driver-side scalar it is."""
    from geodesk_spark.operators import stats

    pts = _derived_orders(spark, sf_dir).select(
        F.col("o_orderkey").alias("id"), "x", "y"
    )
    return stats.ripley_pair_counts(pts, RIPLEY_RADII)


def _ripley_sql() -> str:
    from geodesk_spark.operators import stats

    rel = f"select o_orderkey as id, x, y from ({_DERIVED_SQL}) p"
    return stats.ripley_pair_counts_sql(rel, RIPLEY_RADII)


def _q_event_transitions(spark, sf_dir):
    """Event-type transition counts (relational.event_transitions):
    one per-user lead window over exact microseconds + one rollup."""
    from geodesk_spark.operators import relational

    e = tables.load_spread(spark, sf_dir, "events")
    return relational.event_transitions(e)


def _event_transitions_sql() -> str:
    from geodesk_spark.operators import relational

    return relational.event_transitions_sql(
        "select user_id, event_id, ts, event_type from events"
    )


def _q_markov_stationary(spark, sf_dir):
    """Stationary distribution of the event-type Markov chain
    (relational.event_markov_stationary): exact integer fixed-point
    power iteration on the transition counts — no float anywhere; the
    oracle unrolls the identical iteration as hugeint CTEs."""
    from geodesk_spark.operators import relational

    e = tables.load_spread(spark, sf_dir, "events")
    return relational.event_markov_stationary(e)


def _markov_stationary_sql() -> str:
    from geodesk_spark.operators import relational

    return relational.event_markov_stationary_sql(
        "select user_id, event_id, ts, event_type from events"
    )


COHORT_BUCKET_US = 7 * 86_400 * 1_000_000


def _q_cohort(spark, sf_dir):
    """Cohort retention (relational.cohort_retention): weekly first-seen
    cohorts × active-age cells over the event stream — one fact rollup,
    one user-key join, exact integer epochs."""
    from geodesk_spark.operators import relational

    e = tables.load_spread(spark, sf_dir, "events")
    return relational.cohort_retention(e, COHORT_BUCKET_US)


def _cohort_sql() -> str:
    from geodesk_spark.operators import relational

    return relational.cohort_retention_sql(
        "select user_id, ts from events", COHORT_BUCKET_US
    )


FUNNEL_STEPS = ["view", "click", "purchase"]
FUNNEL_WITHIN_US = 6 * 3600 * 1_000_000


def _q_funnel(spark, sf_dir):
    """First-touch funnel (relational.funnel_conversion): the
    view→click→purchase chain per user, each step strictly after the
    previous match, completion within 6h of the anchor — k−1 user-key
    min-joins over dimension-sized step rollups, exact integer
    microseconds end-to-end."""
    from geodesk_spark.operators import relational

    e = tables.load_spread(spark, sf_dir, "events")
    return relational.funnel_conversion(e, FUNNEL_STEPS, FUNNEL_WITHIN_US)


def _funnel_sql() -> str:
    from geodesk_spark.operators import relational

    return relational.funnel_conversion_sql(
        "select user_id, event_type, ts from events", FUNNEL_STEPS, FUNNEL_WITHIN_US
    )


SPREAD_EPS = 1 << 24
SPREAD_ROUNDS = 3


def _q_label_spread(spark, sf_dir):
    """Label spreading (graph.label_spread): 5% seed labels flow over
    the eps-neighbor graph of the derived points by exact integer
    majority votes (packed arg-max, ties to the smallest label) — the
    pseudo-labeling curation step, one join + two rollups per round."""
    from geodesk_spark.operators import graph as graph_mod

    pts = _derived_orders(spark, sf_dir)
    nodes = pts.select(
        F.col("o_orderkey").alias("id"),
        F.when(F.col("o_orderkey") % 20 == 0, F.col("o_orderkey") % 7).alias("label"),
    )
    step = float(SPREAD_EPS)
    cx = F.floor((F.col("x") + F.lit(2147483648.0)) / F.lit(step)).cast("long")
    cy = F.floor((F.lit(2147483647.0) - F.col("y")) / F.lit(step)).cast("long")
    c = pts.select(
        F.col("o_orderkey").alias("_id"),
        F.col("x").cast("long").alias("_x"),
        F.col("y").cast("long").alias("_y"),
        cx.alias("_cx"),
        cy.alias("_cy"),
    )
    halo = F.explode(
        F.array(
            *[
                F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
            ]
        )
    ).alias("h")
    rep = c.select("_id", "_x", "_y", "_cx", "_cy", halo).select(
        F.col("_id").alias("_id2"),
        F.col("_x").alias("_x2"),
        F.col("_y").alias("_y2"),
        (F.col("_cx") + F.col("h.dx")).alias("_cx"),
        (F.col("_cy") + F.col("h.dy")).alias("_cy"),
    )
    d2 = (F.col("_x") - F.col("_x2")) * (F.col("_x") - F.col("_x2")) + (
        F.col("_y") - F.col("_y2")
    ) * (F.col("_y") - F.col("_y2"))
    edges = (
        c.join(rep, ["_cx", "_cy"])
        .filter(F.col("_id") < F.col("_id2"))
        .filter((d2 > 0) & (d2 <= F.lit(SPREAD_EPS * SPREAD_EPS)))
        .select(F.col("_id").alias("a"), F.col("_id2").alias("b"))
    )
    return graph_mod.label_spread(nodes, edges, rounds=SPREAD_ROUNDS)


def _label_spread_sql() -> str:
    from geodesk_spark.operators import graph as graph_mod

    step = float(SPREAD_EPS)
    nodes_rel = f"""select o_orderkey as id,
             case when o_orderkey % 20 = 0 then o_orderkey % 7 end as label
      from ({_DERIVED_SQL}) p"""
    halo = ",".join(f"({dx},{dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1))
    edges_rel = f"""
      with src as ({_DERIVED_SQL}),
      c as materialized (
        select o_orderkey as id, cast(x as bigint) as x, cast(y as bigint) as y,
               cast(floor((x + 2147483648.0) / {step!r}) as bigint) as cx,
               cast(floor((2147483647.0 - y) / {step!r}) as bigint) as cy
        from src),
      rep as (select id as id2, x as x2, y as y2, cx + dx as cx, cy + dy as cy
              from c cross join (values {halo}) h(dx, dy))
      select a.id as a, b.id2 as b
      from c a join rep b on a.cx = b.cx and a.cy = b.cy and a.id < b.id2
      where (a.x - b.x2) * (a.x - b.x2) + (a.y - b.y2) * (a.y - b.y2) > 0
        and (a.x - b.x2) * (a.x - b.x2) + (a.y - b.y2) * (a.y - b.y2)
            <= {SPREAD_EPS * SPREAD_EPS}"""
    return graph_mod.label_spread_sql(nodes_rel, edges_rel, rounds=SPREAD_ROUNDS)


VARIOGRAM_LAGS = (1 << 22, 1 << 24, 1 << 26, 1 << 27)


def _q_semivariogram(spark, sf_dir):
    """Empirical semivariogram (stats.semivariogram): per lag bin the
    exact integer pair count and Σ(Δz)² over the derived order points
    with an integer value channel — the kriging precursor, one halo
    self-join + one conditional aggregation."""
    from geodesk_spark.operators import stats

    pts = _derived_orders(spark, sf_dir).select(
        F.col("o_orderkey").alias("id"),
        "x",
        "y",
        (F.col("o_orderkey") % 1000).alias("v"),
    )
    return stats.semivariogram(pts, VARIOGRAM_LAGS)


def _semivariogram_sql() -> str:
    from geodesk_spark.operators import stats

    rel = (
        f"select o_orderkey as id, x, y, o_orderkey % 1000 as v "
        f"from ({_DERIVED_SQL}) p"
    )
    return stats.semivariogram_sql(rel, VARIOGRAM_LAGS)


def _q_tag_stats(spark, sf_dir):
    """taginfo-style key statistics over the GOQL feature view
    (operators/tags.tag_stats): per key — feature count, distinct
    values, dominant value; two bounded shuffles."""
    from geodesk_spark.operators import tags as tags_mod

    return tags_mod.tag_stats(_part_features(spark, sf_dir))


_SQL_TAG_STATS = """
  with kv as (
    select 'brand' as k, p_brand as v from part
    union all select 'type', p_type from part
    union all select 'size', cast(p_size as varchar) from part
    union all select 'big', 'yes' from part where p_size > 25
  ),
  g as (select k, v, count(*) as c from kv group by 1, 2),
  r as (select *, row_number() over (partition by k order by c desc, v) as rn
        from g)
  select k as tag_key, cast(sum(c) as bigint) as n_features,
         cast(count(*) as int) as n_values,
         max(case when rn = 1 then v end) as top_value,
         cast(max(case when rn = 1 then c end) as bigint) as top_n
  from r group by k
"""


SESSION_GAP_US = 3_600_000_000  # 1 h


def _q_sessionize(spark, sf_dir):
    """Gaps-and-islands sessionization (relational.sessionize): per-user
    sessions split on >1 h silence; one shuffle (the rollup reuses the
    window's user partitioning)."""
    from geodesk_spark.operators import relational

    e = tables.load_spread(spark, sf_dir, "events")
    return relational.sessionize(e, gap_us=SESSION_GAP_US)


_SQL_SESSIONIZE = f"""
  with f as (
    select user_id, event_id, value, epoch_us(ts) as us,
           lag(epoch_us(ts)) over (partition by user_id
                                   order by epoch_us(ts), event_id) as prev
    from events),
  s as (
    select *, cast(sum(case when prev is null or us - prev > {SESSION_GAP_US}
                       then 1 else 0 end)
                over (partition by user_id order by us, event_id) as int)
              as session_idx
    from f)
  select user_id, session_idx, cast(count(*) as int) as n_events,
         min(us) as start_us, max(us) as end_us,
         cast(sum(cast(value as decimal(18,4))) as double) as sum_value
  from s group by user_id, session_idx
"""


WSAMPLE_K = 200




# HMM map matching: synthetic Manhattan road grid near the equator plus
# trajectory points scattered inside it by a portable integer LCG on
# event_id — every position is within MM_RADIUS of some road, so no
# lattice column is empty and the unrolled oracle needs no gap handling.
MM_X0, MM_Y0, MM_S = 100_000_000, 5_000_000, 200_000
MM_RADIUS, MM_SIGMA, MM_BETA = 1_000.0, 100.0, 100.0
MM_CANDS, MM_STEPS = 4, 6


def _mm_segments() -> list[tuple[int, int, int, int, int]]:
    segs, sid = [], 0
    for r in range(5):
        for c in range(4):
            segs.append(
                (sid, MM_X0 + c * MM_S, MM_Y0 + r * MM_S,
                 MM_X0 + (c + 1) * MM_S, MM_Y0 + r * MM_S)
            )
            sid += 1
    for c in range(5):
        for r in range(4):
            segs.append(
                (sid, MM_X0 + c * MM_S, MM_Y0 + r * MM_S,
                 MM_X0 + c * MM_S, MM_Y0 + (r + 1) * MM_S)
            )
            sid += 1
    return segs


def _mm_points(spark, sf_dir):
    from pyspark.sql import Window

    ev = tables.load_spread(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id")
    w = wu.orderBy("ts", "event_id")
    ev = ev.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(wu)
    )
    span = 4 * MM_S + 1
    return ev.filter((F.col("rn") <= MM_STEPS) & (F.col("n") >= MM_STEPS)).select(
        F.col("user_id").alias("traj_id"),
        (F.col("rn") - 1).cast("int").alias("seq"),
        (
            F.lit(MM_X0)
            + ((F.col("event_id") * F.lit(1103515245) + F.lit(12345)) % F.lit(2147483647))
            % F.lit(span)
        ).alias("x"),
        (
            F.lit(MM_Y0)
            + ((F.col("event_id") * F.lit(69069) + F.lit(1)) % F.lit(2147483647))
            % F.lit(span)
        ).alias("y"),
    )


def _q_map_match(spark, sf_dir):
    """HMM map matching (mobility.map_match, Newson & Krumm 2009): each
    user's first 6 events become a trajectory inside a synthetic road
    grid; Viterbi decoding assigns every point the segment maximizing
    emission (−d²/2σ²) × transition (−|Δpoint−Δproj|/β) along the whole
    path.  The oracle unrolls the 6-step forward pass + backtrack as
    chained CTEs (the Lloyd-trainer precedent) with identical float op
    order, so the decode matches bit-for-bit."""
    from geodesk_spark.operators import mobility

    pts = _mm_points(spark, sf_dir)
    segs = spark.createDataFrame(
        _mm_segments(), "seg_id int, x1 long, y1 long, x2 long, y2 long"
    )
    out = mobility.map_match(
        pts, segs, MM_RADIUS, sigma_m=MM_SIGMA, beta_m=MM_BETA, max_cands=MM_CANDS
    )
    return out.select("traj_id", "seq", "seg_id")


def _map_match_sql() -> str:
    from geodesk_spark.driver_queries.common import _dist_sql

    span = 4 * MM_S + 1
    vals = ", ".join(
        f"({sid}, {x1}, {y1}, {x2}, {y2})" for sid, x1, y1, x2, y2 in _mm_segments()
    )
    dpp = _dist_sql("prev.px", "prev.py", "cur.px", "cur.py")
    dproj = _dist_sql("prev.sx", "prev.sy", "cur.sx", "cur.sy")
    step = f"prev.score - abs({dpp} - {dproj}) / {MM_BETA!r}"
    v_ctes = []
    for t in range(1, MM_STEPS):
        # the row surviving QUALIFY carries the MAX step value, so
        # score = step + emis ≡ max_i(score_i + trans_ij) + emis_j; the
        # prev.seg_id tie-break mirrors np.argmax's first-index rule
        # materialized: each v is referenced twice (v{t+1} and b{t});
        # without the hint DuckDB re-BINDS the whole chain per reference
        # — exponential tree growth that OOMs the binder now that
        # _dist_sql carries the det_cosh polynomial.
        v_ctes.append(f"""
      v{t} as materialized (
        select cur.traj, cur.seg_id, cur.px, cur.py, cur.sx, cur.sy,
               ({step}) + cur.emis as score,
               prev.seg_id as bp
        from (select * from e where seq = {t}) cur
        join v{t - 1} prev on prev.traj = cur.traj
        qualify row_number() over (partition by cur.traj, cur.seg_id
                                   order by ({step}) desc, prev.seg_id) = 1
      )""")
    last = MM_STEPS - 1
    b_ctes = [f"""
      b{last} as (
        select traj, seg_id, bp from v{last}
        qualify row_number() over (partition by traj
                                   order by score desc, seg_id) = 1
      )"""]
    for t in range(last - 1, 0, -1):
        b_ctes.append(f"""
      b{t} as (
        select v.traj, v.seg_id, v.bp
        from v{t} v join b{t + 1} nxt on v.traj = nxt.traj and v.seg_id = nxt.bp
      )""")
    sel = [f"select traj, {t} as seq, seg_id from b{t}" for t in range(1, MM_STEPS)]
    sel.append("select traj, 0 as seq, bp as seg_id from b1")
    return f"""
      with ev as (
        select user_id, event_id,
               row_number() over (partition by user_id
                                  order by ts, event_id) as rn,
               count(*) over (partition by user_id) as n
        from events
      ),
      pts as (
        select user_id as traj, cast(rn - 1 as int) as seq,
               {MM_X0} + ((event_id * 1103515245 + 12345) % 2147483647) % {span} as px,
               {MM_Y0} + ((event_id * 69069 + 1) % 2147483647) % {span} as py
        from ev where rn <= {MM_STEPS} and n >= {MM_STEPS}
      ),
      segs as (
        select seg_id, cast(x1 as bigint) as x1, cast(y1 as bigint) as y1,
               cast(x2 as bigint) as x2, cast(y2 as bigint) as y2
        from (values {vals}) raw(seg_id, x1, y1, x2, y2)
      ),
      c0 as (
        select p.traj, p.seq, p.px, p.py, s.seg_id, s.x1, s.y1,
               (s.x2 - s.x1) as abx, (s.y2 - s.y1) as aby,
               (p.px - s.x1) as apx, (p.py - s.y1) as apy
        from pts p cross join segs s
      ),
      tt as (
        select traj, seq, px, py, seg_id, x1, y1, abx, aby,
               case when (abx * abx + aby * aby) = 0 then 0.0
                    else least(greatest((apx * abx + apy * aby)
                                        / (abx * abx + aby * aby), 0.0), 1.0)
               end as t
        from c0
      ),
      sn as (
        select traj, seq, px, py, seg_id,
               x1 + t * abx as sx, y1 + t * aby as sy
        from tt
      ),
      d as (
        select traj, seq, px, py, seg_id, sx, sy,
               {_dist_sql('px', 'py', 'sx', 'sy')} as dist_m
        from sn
      ),
      cand as (
        select * from (
          select *, row_number() over (partition by traj, seq
                                       order by dist_m, seg_id) as rk
          from d where dist_m <= {MM_RADIUS!r}
        ) where rk <= {MM_CANDS}
      ),
      e as materialized (
        select traj, seq, seg_id, px, py, sx, sy,
               -(dist_m * dist_m) / {2.0 * MM_SIGMA * MM_SIGMA!r} as emis
        from cand
      ),
      v0 as (
        select traj, seg_id, px, py, sx, sy, emis as score
        from e where seq = 0
      ),
      {", ".join(v_ctes)},
      {", ".join(b_ctes)}
      select traj as traj_id, seq, seg_id
      from ({" union all ".join(sel)})
    """


HAUS_GRID_BITS = 4


HAUS_MAX_POINTS = 8


def _q_trajectory_hausdorff(spark, sf_dir):
    """Trajectory-similarity join (mobility.trajectory_hausdorff_pairs):
    symmetric discrete Hausdorff distance in meters between candidate
    user-trajectory pairs (users sharing a z4 cell), each trajectory
    capped to its first 8 observations; the one-pass side-explode
    computes both directed distances from a single point-matrix scan."""
    from geodesk_spark.operators import mobility

    return mobility.trajectory_hausdorff_pairs(
        _located_events(spark, sf_dir),
        grid_bits=HAUS_GRID_BITS,
        max_points=HAUS_MAX_POINTS,
    )


def _trajectory_hausdorff_sql() -> str:
    from geodesk_spark.driver_queries.common import _dist_sql

    sub = 1 << (32 - HAUS_GRID_BITS)
    d = _dist_sql("a.x", "a.y", "b.x", "b.y")
    return f"""
      with pts as ({_EVENTS_LOCATED_SQL}),
      rn as (select user_id as u, x, y,
                    row_number() over (partition by user_id
                                       order by ts_us, event_id) as idx
             from pts),
      p as (select * from rn where idx <= {HAUS_MAX_POINTS}),
      cells as (select distinct u,
                       cast(floor((x + 2147483648) / {sub}) as bigint) as gx,
                       cast(floor((2147483647 - y) / {sub}) as bigint) as gy
                from p),
      ok as (select gx, gy from cells group by gx, gy having count(*) <= 10000),
      c2 as (select cells.* from cells join ok using (gx, gy)),
      pairs as (select distinct a.u as u1, b.u as u2
                from c2 a join c2 b on a.gx = b.gx and a.gy = b.gy and a.u < b.u),
      m as (select pr.u1, pr.u2, a.idx as ia, b.idx as ib, {d} as d
            from pairs pr
            join p a on a.u = pr.u1
            join p b on b.u = pr.u2),
      dab as (select u1, u2, max(md) as h
              from (select u1, u2, ia, min(d) as md from m group by 1, 2, 3)
              group by 1, 2),
      dba as (select u1, u2, max(md) as h
              from (select u1, u2, ib, min(d) as md from m group by 1, 2, 3)
              group by 1, 2)
      select dab.u1, dab.u2,
             round(greatest(dab.h, dba.h), 3) as hausdorff_m
      from dab join dba on dab.u1 = dba.u1 and dab.u2 = dba.u2
    """


EMERGE_GRID_BITS = 5


EMERGE_BUCKET_US = 86_400_000_000


def _q_emerging_hotspots(spark, sf_dir):
    """Emerging-hotspot analysis: Getis-Ord Gi* of the total event
    density (tiles_sink.hotspot_gi_star, the SPATIAL half) joined with
    the per-cell Mann-Kendall trend S over daily buckets
    (mobility.mann_kendall_cells, the TEMPORAL half) -- the standard
    space-time 'which cells are hot AND rising' classification.  MK is
    integer-exact; the oracle derives it INDEPENDENTLY from the dense
    zero-filled cube (the engine uses the zero-skip identity)."""
    from geodesk_spark.operators import mobility, tiles_sink

    located = _located_events(spark, sf_dir)
    hot = tiles_sink.hotspot_gi_star(
        located.select("x", "y"), grid_bits=EMERGE_GRID_BITS
    )
    mk = mobility.mann_kendall_cells(
        located, grid_bits=EMERGE_GRID_BITS, bucket_us=EMERGE_BUCKET_US
    )
    return hot.join(mk, ["gx", "gy"]).select(
        "gx", "gy", "n", "gi_star", "n_buckets", "mk_s"
    )


def _emerging_hotspots_sql() -> str:
    sub = 1 << (32 - EMERGE_GRID_BITS)
    xbar = "(cast(sx as double) / cast(n_tot as double))"
    var = f"(cast(sxx as double) / cast(n_tot as double) - {xbar} * {xbar})"
    denom = (
        f"(sqrt({var}) * sqrt(cast(n_tot * n_i - n_i * n_i as double)"
        f" / (cast(n_tot as double) - 1.0)))"
    )
    gi = (
        f"case when {var} <= 0.0 then null"
        f" when {denom} = 0.0 then null"
        f" else (cast(s_i as double) - {xbar} * cast(n_i as double)) / {denom} end"
    )
    return f"""
      with pts as ({_EVENTS_LOCATED_SQL}),
      stc as (select cast(floor((x + 2147483648) / {sub}) as bigint) as gx,
                     cast(floor((2147483647 - y) / {sub}) as bigint) as gy,
                     ts_us // {EMERGE_BUCKET_US} as tb,
                     count(*) as n
              from pts group by 1, 2, 3),
      cells as (select gx, gy, sum(n) as n from stc group by 1, 2),
      nbsum as (select c.gx, c.gy, c.n,
                       sum(nb.n) as s_i, count(*) as n_i
                from cells c join cells nb
                  on nb.gx between c.gx - 1 and c.gx + 1
                 and nb.gy between c.gy - 1 and c.gy + 1
                group by c.gx, c.gy, c.n),
      stats as (select count(*) as n_tot, sum(n) as sx, sum(n * n) as sxx from cells),
      hot as (select gx, gy, n, {gi} as gi_star from nbsum cross join stats),
      rng as (select min(tb) as mn, max(tb) as mx from stc),
      cube as (select c.gx, c.gy, t.tb,
                      coalesce(s.n, 0) as n0
               from (select distinct gx, gy from stc) c
               cross join (select unnest(generate_series(mn, mx)) as tb from rng) t
               left join stc s on s.gx = c.gx and s.gy = c.gy and s.tb = t.tb),
      mk as (select a.gx, a.gy,
                    cast(sum(sign(b.n0 - a.n0)) as bigint) as mk_s
             from cube a join cube b
               on a.gx = b.gx and a.gy = b.gy and a.tb < b.tb
             group by 1, 2),
      nb2 as (select gx, gy, count(*) as n_buckets from stc group by 1, 2)
      select hot.gx, hot.gy, hot.n, hot.gi_star, nb2.n_buckets, mk.mk_s
      from hot
      join mk on mk.gx = hot.gx and mk.gy = hot.gy
      join nb2 on nb2.gx = hot.gx and nb2.gy = hot.gy
    """


FRECH_MAX_POINTS = 6


def _q_trajectory_frechet(spark, sf_dir):
    """Order-aware trajectory similarity (mobility.trajectory_frechet_pairs):
    discrete Frechet (dog-leash) distance between candidate pairs --
    same cell-blocked matrix machinery as the Hausdorff join, minimax
    DP per pair in one applyInPandas; oracle = the SAME recurrence
    unrolled by anti-diagonal as 2M-1 chained CTEs (set-based, no
    recursion, kernel-independent)."""
    from geodesk_spark.operators import mobility

    return mobility.trajectory_frechet_pairs(
        _located_events(spark, sf_dir),
        grid_bits=HAUS_GRID_BITS,
        max_points=FRECH_MAX_POINTS,
    )


def _trajectory_frechet_sql() -> str:
    from geodesk_spark.driver_queries.common import _dist_sql

    sub = 1 << (32 - HAUS_GRID_BITS)
    d = _dist_sql("a.x", "a.y", "b.x", "b.y")
    m = FRECH_MAX_POINTS
    on = (
        "on {p}.u1 = m.u1 and {p}.u2 = m.u2 "
        "and {p}.ia = m.ia - {di} and {p}.ib = m.ib - {dj}"
    )
    diags = []
    for k in range(2, 2 * m + 1):
        if k == 2:
            diags.append(
                "c_2 as materialized (select u1, u2, ia, ib, d as c from m where ia + ib = 2)"
            )
            continue
        joins = [
            f"left join c_{k-1} p1 " + on.format(p="p1", di=1, dj=0),
            f"left join c_{k-1} p2 " + on.format(p="p2", di=0, dj=1),
        ]
        prevs = "p1.c, p2.c"
        if k >= 4:
            joins.append(f"left join c_{k-2} p3 " + on.format(p="p3", di=1, dj=1))
            prevs += ", p3.c"
        diags.append(
            f"""c_{k} as materialized (
        select m.u1, m.u2, m.ia, m.ib,
               greatest(m.d, least({prevs})) as c
        from m {' '.join(joins)}
        where m.ia + m.ib = {k})"""
        )
    call = " union all ".join(f"select * from c_{k}" for k in range(2, 2 * m + 1))
    return f"""
      with pts as ({_EVENTS_LOCATED_SQL}),
      rn as (select user_id as u, x, y,
                    row_number() over (partition by user_id
                                       order by ts_us, event_id) as idx
             from pts),
      p as (select * from rn where idx <= {m}),
      cells as (select distinct u,
                       cast(floor((x + 2147483648) / {sub}) as bigint) as gx,
                       cast(floor((2147483647 - y) / {sub}) as bigint) as gy
                from p),
      ok as (select gx, gy from cells group by gx, gy having count(*) <= 10000),
      c2cells as (select cells.* from cells join ok using (gx, gy)),
      pairs as (select distinct a.u as u1, b.u as u2
                from c2cells a join c2cells b
                  on a.gx = b.gx and a.gy = b.gy and a.u < b.u),
      m as materialized (select pr.u1, pr.u2, a.idx as ia, b.idx as ib, {d} as d
            from pairs pr
            join p a on a.u = pr.u1
            join p b on b.u = pr.u2),
      {', '.join(diags)},
      ext as (select u1, u2, max(ia) as ma, max(ib) as mb from m group by 1, 2),
      call as ({call})
      select e.u1, e.u2, round(c.c, 3) as frechet_m
      from ext e join call c
        on c.u1 = e.u1 and c.u2 = e.u2 and c.ia = e.ma and c.ib = e.mb
    """


STDBSCAN_EPS = 1 << 24


STDBSCAN_EPS_T_US = 6 * 3_600_000_000  # 6 h


STDBSCAN_MIN_PTS = 4


def _q_stdbscan(spark, sf_dir):
    """ST-DBSCAN (clustering.dbscan with t_col/eps_t — Birant & Kut's
    spatio-temporal neighborhood): events cluster only when within 2^24
    units AND 6 h of each other, so a location revisited a week later
    forms a SEPARATE cluster — the visit/burst-detection shape plain
    DBSCAN can't express.  At sf0.01: ~0.9k core, ~0.6k border, ~8.4k
    noise, ~350 clusters."""
    from geodesk_spark.operators import clustering

    ev = tables.with_derived_points(
        tables.load_spread(spark, sf_dir, "events"), STAY_KEY_SPARK
    )
    pts = ev.select(
        "event_id",
        "x",
        "y",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
    )
    return clustering.dbscan(
        pts,
        eps=STDBSCAN_EPS,
        min_pts=STDBSCAN_MIN_PTS,
        id_col="event_id",
        t_col="t_us",
        eps_t=STDBSCAN_EPS_T_US,
    )


def _stdbscan_sql() -> str:
    """Exact twin of the DBSCAN oracle (goql_ann_tail._dbscan_sql) plus
    the |Δt| <= eps_t neighborhood condition; TRUE recursive closure, so
    a green row proves the Spark CC converged."""
    eps, mp, eps_t = STDBSCAN_EPS, STDBSCAN_MIN_PTS, STDBSCAN_EPS_T_US
    cell = 1 << max((eps - 1).bit_length(), 1)
    return f"""
      with recursive pts as (
        select event_id as id, epoch_us(ts) as t,
               {x_expr(lon_expr(STAY_KEY_SQL))} as x,
               {y_expr(lat_expr(STAY_KEY_SQL))} as y
        from events
      ),
      b as (select id, t, cast(x as bigint) as x, cast(y as bigint) as y,
                   (cast(x as bigint) + 2147483648) // {cell} as cx,
                   (cast(y as bigint) + 2147483648) // {cell} as cy
            from pts),
      offs(dx, dy) as (values (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)),
      probe as (select id, x, y, t, cx + dx as cx, cy + dy as cy from b cross join offs),
      cand as (select p.id as id_a, q.id as id_b
               from probe p join b q on p.cx = q.cx and p.cy = q.cy and p.id <> q.id
               where (p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y) <= {eps * eps}
                 and abs(p.t - q.t) <= {eps_t}),
      nbr as (select id_a as id, count(*) as n from cand group by 1),
      core as (select b.id from b left join nbr on b.id = nbr.id
               where coalesce(nbr.n, 0) + 1 >= {mp}),
      ce as (select c.id_a as a, c.id_b as b from cand c
             where c.id_a in (select id from core)
               and c.id_b in (select id from core)),
      reach(s, t) as (
        select id, id from core
        union
        select r.s, e.b from reach r join ce e on r.t = e.a),
      clab as (select s as id, min(t) as label from reach group by s),
      border as (select c.id_a as id, min(cl.label) as label
                 from cand c join clab cl on c.id_b = cl.id
                 where c.id_a not in (select id from core)
                 group by 1)
      select b.id, cast(coalesce(cl.label, bo.label, -1) as bigint) as label,
             cast(cl.id is not null as int) as is_core
      from b
      left join clab cl on b.id = cl.id
      left join border bo on b.id = bo.id
    """


TELEPORT_VMAX = 60.0


def _q_teleport(spark, sf_dir):
    """GPS-cleaning teleport filter (mobility.teleport_flags): per-user
    consecutive-ping Mercator speed test, flags pings implying more
    than TELEPORT_VMAX m/s -- the wash step before any trajectory
    operator."""
    from geodesk_spark.operators import mobility

    ev = tables.with_derived_points(
        tables.load_spread(spark, sf_dir, "events"), STAY_KEY_SPARK
    )
    located = ev.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_id",
        "x",
        "y",
    )
    return mobility.teleport_flags(located, vmax_mps=TELEPORT_VMAX)


def _teleport_sql() -> str:
    from geodesk_spark.driver_queries.common import _dist_sql

    dist = _dist_sql("x", "y", "px", "py")
    return f"""
      with pts as (
        select user_id, epoch_us(ts) as ts_us, event_id,
               {x_expr(lon_expr(STAY_KEY_SQL))} as x,
               {y_expr(lat_expr(STAY_KEY_SQL))} as y
        from events
      ),
      l as (select user_id, event_id, ts_us, x, y,
                   lag(x) over w as px, lag(y) over w as py,
                   lag(ts_us) over w as pts
            from pts
            window w as (partition by user_id order by ts_us, event_id))
      select user_id as user, event_id as id,
             case when px is null then null else {dist} end as dist_m,
             coalesce(cast(
               (case when px is null then null else {dist} end)
                 > {TELEPORT_VMAX!r} * cast(ts_us - pts as double) / 1e6
               as int), 0) as is_teleport
      from l
    """


RESAMPLE_STEP_S = 14400.0  # 4 h grid over the ~30-day event window


def _q_resample_time(spark, sf_dir):
    """Temporal trajectory resampling (mobility.resample_time): per-user
    positions linearly interpolated onto the fixed 4-hour epoch grid —
    ONE per-user window shuffle + a map-side sequence explode; grid
    indices by exact int64 division, outputs floor-form 1e-4."""
    from geodesk_spark.operators import mobility

    ev = tables.with_derived_points(
        tables.load_spread(spark, sf_dir, "events"), STAY_KEY_SPARK
    )
    located = ev.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_id",
        "x",
        "y",
    )
    return mobility.resample_time(located, step_s=RESAMPLE_STEP_S)


def _resample_time_sql() -> str:
    from geodesk_spark.operators import mobility

    pts = f"""
        select user_id, epoch_us(ts) as ts_us, event_id,
               {x_expr(lon_expr(STAY_KEY_SQL))} as x,
               {y_expr(lat_expr(STAY_KEY_SQL))} as y
        from events
    """
    return mobility.resample_time_sql(pts, step_s=RESAMPLE_STEP_S)
