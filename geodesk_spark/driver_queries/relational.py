"""Driver-contract query builders; registry.py assembles them into QUERIES."""

from __future__ import annotations

from geodesk_spark.driver_queries.common import (
    F,
    Window,
    tables,
)

def _q_agg_pricing(spark, sf_dir):
    """Aggregation layer (Features.count analog widened to groupBy.agg)."""
    li = tables.load_spread(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_price"),
            F.count("*").alias("n_rows"),
        )
        .select("l_returnflag", "l_linestatus", "sum_qty", "sum_price", "n_rows")
    )


_SQL_AGG_PRICING = """
  select l_returnflag, l_linestatus,
         cast(sum(cast(l_quantity as decimal(18,2))) as double) as sum_qty,
         cast(sum(cast(l_extendedprice as decimal(18,2))) as double) as sum_price,
         count(*) as n_rows
  from lineitem group by l_returnflag, l_linestatus
"""


def _q_join_cust(spark, sf_dir):
    """Broadcast equi-join (dimension join — free in Spark, absent in ref)."""
    o = tables.load_spread(spark, sf_dir, "orders")
    c = tables.load_spread(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


_SQL_JOIN_CUST = """
  select c_mktsegment,
         cast(sum(cast(o_totalprice as decimal(18,2))) as double) as revenue,
         count(*) as n_orders
  from orders join customer on o_custkey = c_custkey
  group by c_mktsegment
"""


def _q_window_top3(spark, sf_dir):
    """Window top-k (our kNN building block, SURVEY §2.5)."""
    o = tables.load_spread(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", F.col("rank").cast("int").alias("rank"))
    )


_SQL_WINDOW_TOP3 = """
  select o_custkey, o_orderkey, cast(rank as int) as rank from (
    select o_custkey, o_orderkey,
           row_number() over (partition by o_custkey order by o_totalprice desc, o_orderkey asc) as rank
    from orders
  ) where rank <= 3
"""


def _q_asof_join(spark, sf_dir):
    """Backward as-of join (events → latest per-user snapshot at or
    before each event): union + window carry-forward, one shuffle.
    Oracle = DuckDB's native ASOF JOIN."""
    from geodesk_spark.operators import relational

    e = tables.load_spread(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id"
    )
    # deterministic snapshot table: 3 snapshots per user, score = simple arithmetic
    snaps = (
        tables.load_spread(spark, sf_dir, "events")
        .select("user_id").distinct()
        .withColumn("k", F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))))
        .select(
            "user_id",
            (F.lit("2024-01-01 00:00:00").cast("timestamp")
             + F.make_interval(hours=F.col("k") * 8 + F.col("user_id") % 5)).alias("rts"),
            (F.col("user_id") * 10 + F.col("k")).alias("score"),
        )
    )
    out = relational.as_of_join(e, snaps, by="user_id", left_ts="ts", right_ts="rts")
    return out.select("event_id", "user_id", "score").orderBy("event_id")


_SQL_ASOF = """
  with e as (select event_id, cast(ts as timestamp) as ts, user_id from events),
  snaps as (
    select u.user_id,
           timestamp '2024-01-01 00:00:00'
             + to_hours(cast(k * 8 + u.user_id % 5 as bigint)) as rts,
           u.user_id * 10 + k as score
    from (select distinct user_id from events) u
    cross join (select unnest([0, 1, 2]) as k) ks)
  select e.event_id, e.user_id, s.score
  from e asof left join snaps s
    on e.user_id = s.user_id and e.ts >= s.rts
  order by event_id
"""


IVJ_BUCKET_US = 600_000_000  # 10 min


def _q_interval_join(spark, sf_dir):
    """Point-in-interval range join (relational.interval_join): error
    events open a 10-70 min incident window; every click inside any
    window attaches to it.  ONE bucketed equi-join, exactly-once free
    (a point has one bucket) — Spark's native BETWEEN would plan a
    nested-loop cartesian."""
    from geodesk_spark.operators import relational

    e = tables.load_spread(spark, sf_dir, "events")
    iv = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("iid"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("s"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            + (F.col("event_id") % 7 + 1) * F.lit(IVJ_BUCKET_US)
        ).alias("e"),
    )
    pt = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("pid"), F.unix_micros(F.col("ts").cast("timestamp")).alias("t")
    )
    out = relational.interval_join(iv, pt, bucket_width=IVJ_BUCKET_US)
    return out.select("iid", "pid", (F.col("t") - F.col("s")).alias("offset_us"))


_SQL_INTERVAL_JOIN = f"""
  with iv as (
    select event_id as iid, epoch_us(ts) as s,
           epoch_us(ts) + (event_id % 7 + 1) * {IVJ_BUCKET_US} as e
    from events where event_type = 'error'),
  pt as (select event_id as pid, epoch_us(ts) as t
         from events where event_type = 'click')
  select iid, pid, t - s as offset_us
  from iv join pt on pt.t between iv.s and iv.e
"""


def _q_group_quantiles(spark, sf_dir):
    """Exact per-group quantiles (stats.group_quantiles): value p50/p90/
    p99 per event_type by rank-select — one shuffle, the rollup reuses
    the window partitioning; the exact counterpart of approx_percentile."""
    from geodesk_spark.operators import stats

    e = tables.load_spread(spark, sf_dir, "events")
    return stats.group_quantiles(e, "event_type", "value", "event_id")


def _group_quantiles_sql() -> str:
    from geodesk_spark.operators import stats

    return stats.group_quantiles_sql("events", "event_type", "value", "event_id")




DECAY_HALF_LIFE_US = 7 * 24 * 3600 * 1_000_000  # one week


def _q_decayed_rollup(spark, sf_dir):
    """Half-life-decayed event scores per event_type
    (relational.decay_buckets/decay_estimate): ages bucket into integer
    half-life units, weights 2^-b apply only at read time — the state
    is exact integer sums (order-free, mergeable), the float-free form
    of the usual order-dependent exp-decay fold.  now = max(ts) over
    the table, so the query is deterministic at any scale."""
    from geodesk_spark.operators import relational

    e = tables.load_spread(spark, sf_dir, "events")
    now = e.agg(F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("_now"))
    ev = e.crossJoin(F.broadcast(now))
    state = relational.decay_buckets(
        ev, ["event_type"], F.col("_now"), DECAY_HALF_LIFE_US, value_col="value"
    )
    return relational.decay_estimate(state, ["event_type"])


def _decayed_rollup_sql() -> str:
    hl = DECAY_HALF_LIFE_US
    return f"""
      with ev as (
        select event_type,
               (select max(epoch_us(ts)) from events) - epoch_us(ts) as age_us,
               cast(floor(value * 1e6 + 0.5) as bigint) as vm
        from events),
      state as (
        select event_type, cast(age_us // {hl} as int) as bucket,
               count(*) as n, sum(vm) as value_micro
        from ev
        where age_us >= 0 and age_us < {hl} * 40
        group by 1, 2)
      select event_type,
             cast(sum(n) as bigint) as n_events,
             cast(sum((n * 1000000) // cast(pow(2.0, bucket) as bigint)) as bigint)
               as decayed_count_micro,
             cast(sum(cast(value_micro as bigint)
                      // cast(pow(2.0, bucket) as bigint)) as bigint)
               as decayed_value_micro
      from state group by event_type
    """
