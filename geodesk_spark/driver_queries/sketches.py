"""Driver-contract query builders; registry.py assembles them into QUERIES."""

from __future__ import annotations

from geodesk_spark.driver_queries.common import (
    F,
    T,
    _DERIVED_SQL,
    _derived_orders,
    tables,
    tile_expr,
)
from geodesk_spark.driver_queries.graph_mobility import (
    WSAMPLE_K,
)

def _q_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement
    (sampling.weighted_sample, Efraimidis–Spirakis on the portable
    md5-uniform): 200 documents drawn ∝ n_chars; plans as
    TakeOrderedAndProject — per-partition top-k, no shuffle."""
    from geodesk_spark.operators import sampling

    d = tables.load_spread(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    return sampling.weighted_sample(d, k=WSAMPLE_K, weight_col="n_chars")


def _weighted_sample_sql() -> str:
    from geodesk_spark.operators import sampling

    return sampling.weighted_sample_sql(
        "(select doc_id, lang, n_chars from documents) d",
        k=WSAMPLE_K,
        weight_col="n_chars",
    )


def _q_hll_registers(spark, sf_dir):
    """HLL approx-distinct register state per event_type (operators/
    sketches.py): the mergeable-sketch rollup a 10^12-row COUNT(DISTINCT)
    needs — map-side combine reduces each partition to ≤512 rows/key
    before the shuffle.  Registers are built on a portable md5-derived
    hash, so the oracle reproduces them bit-exactly."""
    from geodesk_spark.operators import sketches

    e = tables.load_spread(spark, sf_dir, "events")
    return sketches.hll_registers(
        e, ["event_type"], "cast(user_id as string)", p=9
    ).select("event_type", "bucket", "rho")


def _hll_registers_sql() -> str:
    from geodesk_spark.operators import sketches

    bucket, rho = sketches.hll_sql("v", 9)
    return f"""
      with v as (select event_type, cast(user_id as string) as v from events)
      select event_type, cast({bucket} as int) as bucket, cast(max({rho}) as int) as rho
      from v group by event_type, bucket
    """


def _q_hll_pyramid(spark, sf_dir):
    """Tile-pyramid sketch rollup (sketches.hll_merge): per-z10-tile HLL
    registers of distinct customers, MERGED (register-wise max) up to z8
    and z6 without touching the fact table again; the oracle computes
    every zoom DIRECTLY from the facts -- merge ≡ direct is the
    mergeability theorem the 100 TB rollup relies on."""
    from geodesk_spark.operators import sketches

    df = _derived_orders(spark, sf_dir).withColumn(
        "tile", T.tile_col(F.col("x"), F.col("y"), 10).cast("int")
    )
    r10 = sketches.hll_registers(df, ["tile"], "cast(o_custkey as string)", p=6)
    r8 = sketches.hll_merge(
        r10.withColumn("tile", T.zoomed_out_col(F.col("tile"), 8, 10)), ["tile"]
    )
    r6 = sketches.hll_merge(
        r8.withColumn("tile", T.zoomed_out_col(F.col("tile"), 6, 8)), ["tile"]
    )
    out = (
        r10.withColumn("zoom", F.lit(10))
        .unionByName(r8.withColumn("zoom", F.lit(8)))
        .unionByName(r6.withColumn("zoom", F.lit(6)))
    )
    return out.select("zoom", F.col("tile").cast("bigint").alias("tile"), "bucket", "rho")


def _hll_pyramid_sql() -> str:
    from geodesk_spark.operators import sketches

    bucket, rho = sketches.hll_sql("v", 6)
    branches = []
    for z in (10, 8, 6):
        branches.append(f"""
      select {z} as zoom, {tile_expr('x', 'y', z)} as tile,
             cast({bucket} as int) as bucket, cast(max({rho}) as int) as rho
      from v group by 1, 2, 3""")
    return f"""
      with pts as ({_DERIVED_SQL}),
      v as (select pts.x, pts.y, cast(o.o_custkey as varchar) as v
            from pts join orders o using (o_orderkey))
      {" union all ".join(branches)}
    """


def _q_hll_distinct(spark, sf_dir):
    """HLL estimate read off the merged registers (Flajolet et al. 2007
    estimator with linear-counting small-range correction)."""
    from geodesk_spark.operators import sketches

    e = tables.load_spread(spark, sf_dir, "events")
    return sketches.hll_estimate(e, ["event_type"], "cast(user_id as string)", p=9)


def _hll_distinct_sql() -> str:
    from geodesk_spark.operators import sketches

    bucket, rho = sketches.hll_sql("v", 9)
    m = 512
    alpha_m2 = 0.7213 / (1 + 1.079 / m) * m * m
    raw = f"{alpha_m2!r} / (s + (512 - ne))"
    return f"""
      with v as (select event_type, cast(user_id as string) as v from events),
      regs as (select event_type, {bucket} as bucket, max({rho}) as rho
               from v group by event_type, bucket),
      agg as (select event_type, sum(power(2.0, -rho)) as s, count(*) as ne
              from regs group by event_type)
      select event_type,
             floor((case when {raw} <= 1280.0 and (512 - ne) > 0
                         then 512.0 * ln(512.0 / (512 - ne))
                         else {raw} end) * 1e6 + 0.5) / 1e6 as approx_distinct
      from agg
    """


CMS_W, CMS_D = 128, 4


CMS_PROBES = [str(u) for u in range(20)] + ["absent_user"]  # exercises est 0


BLOOM_M, BLOOM_K = 4096, 3


def _q_cms_registers(spark, sf_dir):
    """Count-min register table per event_type (operators/sketches.py):
    the mergeable frequency sketch — ≤ d·w counter rows per key after
    map-side combine, element-wise-ADD merge across partitions/days."""
    from geodesk_spark.operators import sketches

    e = tables.load_spread(spark, sf_dir, "events")
    return sketches.cms_registers(
        e, ["event_type"], "cast(user_id as string)", w=CMS_W, d=CMS_D
    ).select("event_type", "j", "col", "cnt")


def _cms_registers_sql() -> str:
    from geodesk_spark.operators import sketches

    hs = sketches.cms_hash_sqls("v", CMS_W, CMS_D)
    ex = " union all ".join(
        f"select event_type, {j} as j, {h} as col from v" for j, h in enumerate(hs)
    )
    return f"""
      with v as (select event_type, cast(user_id as string) as v from events),
      ex as ({ex})
      select event_type, cast(j as int) as j, cast(col as int) as col,
             count(*) as cnt
      from ex group by 1, 2, 3
    """


def _q_cms_estimate(spark, sf_dir):
    """Point-frequency reads off the CMS: registers ⋈ broadcast probe
    hashes → min over depths.  Estimates are integer-exact reproducible
    (portable md5 rows), over-count-only by construction."""
    from geodesk_spark.operators import sketches

    e = tables.load_spread(spark, sf_dir, "events")
    probe = spark.createDataFrame([(v,) for v in CMS_PROBES], "pv string")
    return sketches.cms_estimate(
        e, ["event_type"], "cast(user_id as string)", probe, "pv",
        w=CMS_W, d=CMS_D,
    ).select("event_type", "probe_value", "est_count")


def _cms_estimate_sql() -> str:
    from geodesk_spark.operators import sketches

    hs = sketches.cms_hash_sqls("v", CMS_W, CMS_D)
    ex = " union all ".join(
        f"select event_type, {j} as j, {h} as col from v" for j, h in enumerate(hs)
    )
    ps = sketches.cms_hash_sqls("pv", CMS_W, CMS_D)
    pex = " union all ".join(
        f"select pv, {j} as j, {h} as col from probe" for j, h in enumerate(ps)
    )
    vals = ", ".join(f"('{v}')" for v in CMS_PROBES)
    return f"""
      with v as (select event_type, cast(user_id as string) as v from events),
      ex as ({ex}),
      regs as (select event_type, j, col, count(*) as cnt from ex group by 1, 2, 3),
      probe as (select * from (values {vals}) t(pv)),
      pex as ({pex}),
      groups as (select distinct event_type from regs),
      grid as (select g.event_type, pex.pv, pex.j, pex.col
               from groups g cross join pex)
      select grid.event_type, grid.pv as probe_value,
             min(coalesce(regs.cnt, 0)) as est_count
      from grid left join regs
        on regs.event_type = grid.event_type
       and regs.j = grid.j and regs.col = grid.col
      group by 1, 2
    """


def _q_bloom_bits(spark, sf_dir):
    """Build-side Bloom filter over the order-holding customer keys —
    ≤ m rows whatever the input scale, broadcastable, union-mergeable."""
    from geodesk_spark.operators import sketches

    o = tables.load_spread(spark, sf_dir, "orders")
    return sketches.bloom_bits(
        o, "cast(o_custkey as string)", m=BLOOM_M, k=BLOOM_K
    ).select(F.col("bit_idx").cast("int").alias("bit_idx"))


def _bloom_ex_sql() -> str:
    from geodesk_spark.operators import sketches

    hs = sketches.bloom_hash_sqls("v", BLOOM_M, BLOOM_K)
    return " union all ".join(f"select {h} as bit_idx from v" for h in hs)


def _bloom_bits_sql() -> str:
    return f"""
      with v as (select cast(o_custkey as string) as v from orders),
      ex as ({_bloom_ex_sql()})
      select distinct cast(bit_idx as int) as bit_idx from ex
    """


def _q_bloom_prune(spark, sf_dir):
    """Bloom semi-join pruning: flag every customer whose key MIGHT be in
    orders — the broadcast pre-shuffle prune for 10^12-row probe sides.
    False positives are deterministic (same md5 bit math in any engine),
    so the oracle reproduces the exact candidate set, not just the true
    members."""
    from geodesk_spark.operators import sketches

    o = tables.load_spread(spark, sf_dir, "orders")
    c = tables.load_spread(spark, sf_dir, "customer").select("c_custkey")
    bits = sketches.bloom_bits(o, "cast(o_custkey as string)", m=BLOOM_M, k=BLOOM_K)
    out = sketches.bloom_might_contain(
        c, bits, "cast(c_custkey as string)", m=BLOOM_M, k=BLOOM_K
    )
    return out.select("c_custkey", F.col("might_contain").cast("int").alias("might_contain"))


def _bloom_prune_sql() -> str:
    from geodesk_spark.operators import sketches

    ps = sketches.bloom_hash_sqls("pv", BLOOM_M, BLOOM_K)
    pex = " union all ".join(
        f"select c_custkey, {h} as bit from p" for h in ps
    )
    return f"""
      with v as (select cast(o_custkey as string) as v from orders),
      ex as ({_bloom_ex_sql()}),
      bits as (select distinct bit_idx from ex),
      p as (select c_custkey, cast(c_custkey as string) as pv from customer),
      pex as ({pex})
      select pex.c_custkey,
             cast((count(b.bit_idx) = {BLOOM_K}) as int) as might_contain
      from pex left join bits b on pex.bit = b.bit_idx
      group by 1
    """


def _q_events_hourly(spark, sf_dir):
    """Batch-incremental windowed aggregation over the events stream table
    (the reference has no streaming; SURVEY §2.7 maps to snapshot batches)."""
    e = tables.load_spread(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.col("event_type"),
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH").alias("hour"),
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
    )


_SQL_EVENTS_HOURLY = """
  select event_type, strftime(date_trunc('hour', ts), '%Y-%m-%d %H') as hour,
         count(*) as n,
         cast(sum(cast(value as decimal(18,4))) as double) as sum_value
  from events group by 1, 2
"""




KMV_K = 64


def _q_kmv_distinct(spark, sf_dir):
    """KMV/theta distinct-count registers + estimate per event_type
    (sketches.kmv_registers/kmv_estimate): the order-statistic sketch —
    all-integer estimator div((k-1)·2^52, kth_min), bit-stable across
    engines; < k slots means the count is exact."""
    from geodesk_spark.operators import sketches

    e = tables.load_spread(spark, sf_dir, "events")
    regs = sketches.kmv_registers(e, ["event_type"], "cast(user_id as string)", KMV_K)
    return sketches.kmv_estimate(regs, ["event_type"], KMV_K)


def _kmv_distinct_sql() -> str:
    from geodesk_spark.operators import sketches

    h = sketches.h52_sql("cast(user_id as varchar)")
    full = sketches.KMV_FULL
    return f"""
      with d as (select distinct event_type, {h} as h from events),
      r as (select event_type, h,
                   row_number() over (partition by event_type order by h) as slot
            from d),
      regs as (select * from r where slot <= {KMV_K})
      select event_type, count(*) as n_slots, max(h) as kth_h,
             case when count(*) < {KMV_K} then count(*)
                  else ({KMV_K - 1} * cast({full} as bigint)) // greatest(max(h), 1)
             end as est_distinct
      from regs group by event_type
    """


def _q_kmv_set_ops(spark, sf_dir):
    """Theta-sketch set composition (sketches.kmv_set_ops): union,
    intersection, and Jaccard estimates of two user populations from
    their constant-size register states alone — the composition HLL
    cannot express.  One row out, every figure integer."""
    from geodesk_spark.operators import sketches

    e = tables.load_spread(spark, sf_dir, "events")
    ra = sketches.kmv_registers(
        e.filter(F.col("event_type") == "click"), [], "cast(user_id as string)", KMV_K
    )
    rb = sketches.kmv_registers(
        e.filter(F.col("event_type") == "view"), [], "cast(user_id as string)", KMV_K
    )
    return sketches.kmv_set_ops(ra, rb, KMV_K)


def _kmv_set_ops_sql() -> str:
    from geodesk_spark.operators import sketches

    h = sketches.h52_sql("cast(user_id as varchar)")
    full = sketches.KMV_FULL
    k = KMV_K
    est = lambda n, kth: (
        f"case when {n} < {k} then {n} "
        f"else ({k - 1} * cast({full} as bigint)) // greatest({kth}, 1) end"
    )
    reg = lambda typ: f"""(
        select h from (
          select h, row_number() over (order by h) as slot
          from (select distinct {h} as h from events where event_type = '{typ}') t)
        where slot <= {k})"""
    return f"""
      with ra as materialized {reg('click')},
      rb as materialized {reg('view')},
      ab as (
        select coalesce(ra.h, rb.h) as h,
               case when ra.h is not null then 1 else 0 end as in_a,
               case when rb.h is not null then 1 else 0 end as in_b
        from ra full outer join rb on ra.h = rb.h),
      u as (select * from (
              select h, in_a, in_b, row_number() over (order by h) as slot from ab)
            where slot <= {k}),
      ua as (select count(*) as n_union_slots, max(h) as u_kth,
                    cast(sum(in_a * in_b) as bigint) as common_below_theta from u),
      ea as (select count(*) as n_a, max(h) as a_kth from ra),
      eb as (select count(*) as n_b, max(h) as b_kth from rb)
      select n_a, n_b, n_union_slots, common_below_theta,
             {est('n_a', 'a_kth')} as est_a,
             {est('n_b', 'b_kth')} as est_b,
             {est('n_union_slots', 'u_kth')} as est_union,
             (common_below_theta * 1000000) // greatest(n_union_slots, 1) as jaccard_micro,
             (common_below_theta * ({est('n_union_slots', 'u_kth')}))
               // greatest(n_union_slots, 1) as est_intersect
      from ua, ea, eb
    """


def _q_heavy_hitters(spark, sf_dir):
    """CMS-filtered exact heavy hitters (sketches.heavy_hitters): the
    constant-size sketch prunes the exact groupBy to candidate rows
    only — lossless for true hitters since CMS never under-counts, so
    the oracle is a plain GROUP BY ... HAVING.  Threshold = n//143 + 1
    (~0.7% of the table), integer-derived on both engines."""
    from geodesk_spark.operators import sketches

    t = tables.parquet_rows(sf_dir, "events") // 143 + 1
    e = tables.load_spread(spark, sf_dir, "events")
    return sketches.heavy_hitters(
        e, "cast(user_id as string)", t
    ).select(F.col("value").alias("user_id"), "n_exact")


def _heavy_hitters_sql() -> str:
    return """
      select cast(user_id as varchar) as user_id, count(*) as n_exact
      from events
      group by 1
      having count(*) >= (select count(*) // 143 + 1 from events)
    """
