"""Driver-contract query builders; registry.py assembles them into QUERIES."""

from __future__ import annotations

from geodesk_spark.geo import mercator

from geodesk_spark.driver_queries.common import (
    CAIRO_XY,
    DataFrame,
    EC,
    F,
    RECT,
    T,
    W,
    _DERIVED_SQL,
    _box_sql_base,
    _derived_orders,
    _dist_sql,
    lat_expr,
    lon_expr,
    math,
    np,
    pip,
    spatial_join,
    tables,
    tile_expr,
    tiling,
    x_expr,
    y_expr,
)

def _q_raster_pixels(spark, sf_dir):
    """Vector→raster binning (MapMaker analog, util/MapMaker.java:24-120):
    per (z8 tile, 256×256 pixel) counts, pure JVM column arithmetic."""
    from geodesk_spark.operators import tiles_sink

    df = _derived_orders(spark, sf_dir)
    return tiles_sink.rasterize_pixel_counts(df, zoom=8)


_SQL_RASTER_PIXELS = f"""
  with pts as ({_DERIVED_SQL})
  select {tile_expr('x', 'y', 8)} as tile,
         cast(floor((x + 2147483648) / 65536) % 256 as int) as px,
         cast(floor((2147483647 - y) / 65536) % 256 as int) as py,
         count(*) as n
  from pts group by 1, 2, 3
"""


RECT_RING = np.array(
    [
        [RECT[0], RECT[1]],
        [RECT[2], RECT[1]],
        [RECT[2], RECT[3]],
        [RECT[0], RECT[3]],
        [RECT[0], RECT[1]],
    ],
    dtype=np.float64,
)


def _pack_line_features(segs: DataFrame) -> DataFrame:
    """(fid, x1, y1, x2, y2) → line features with packed-geometry blobs."""
    segs = segs.select(
        "fid",
        F.col("x1").cast("int").alias("x1"), F.col("y1").cast("int").alias("y1"),
        F.col("x2").cast("int").alias("x2"), F.col("y2").cast("int").alias("y2"),
        F.least("x1", "x2").cast("int").alias("minx"),
        F.least("y1", "y2").cast("int").alias("miny"),
        F.greatest("x1", "x2").cast("int").alias("maxx"),
        F.greatest("y1", "y2").cast("int").alias("maxy"),
    )

    def pack(batches):
        for pdf in batches:
            blobs = [
                pip.pack_rings(
                    [np.array([[r.x1, r.y1], [r.x2, r.y2]], dtype=np.float64)]
                )
                for r in pdf.itertuples()
            ]
            out = pdf[["fid", "minx", "miny", "maxx", "maxy"]].copy()
            out["gkind"] = "line"
            out["geom"] = blobs
            yield out

    return segs.mapInPandas(
        pack,
        schema="fid long, minx int, miny int, maxx int, maxy int, gkind string, geom binary",
    )


def _segment_features(spark, sf_dir):
    """Derived segments as line features (packed-geometry blobs)."""
    segs = tables.with_derived_segments(tables.load_spread(spark, sf_dir, "orders"), "o_orderkey")
    return _pack_line_features(segs.withColumn("fid", F.col("o_orderkey")))


def _box_features(spark, sf_dir):
    """Derived bboxes as axis-aligned polygon features (rect rings)."""
    boxes = tables.with_derived_boxes(tables.load_spread(spark, sf_dir, "orders"), "o_orderkey")
    boxes = boxes.select(
        F.col("o_orderkey").alias("fid"),
        F.col("minx").cast("int").alias("minx"), F.col("miny").cast("int").alias("miny"),
        F.col("maxx").cast("int").alias("maxx"), F.col("maxy").cast("int").alias("maxy"),
    )

    def pack(batches):
        for pdf in batches:
            blobs = [
                pip.pack_rings(
                    [
                        np.array(
                            [
                                [r.minx, r.miny], [r.maxx, r.miny],
                                [r.maxx, r.maxy], [r.minx, r.maxy],
                                [r.minx, r.miny],
                            ],
                            dtype=np.float64,
                        )
                    ]
                )
                for r in pdf.itertuples()
            ]
            out = pdf[["fid", "minx", "miny", "maxx", "maxy"]].copy()
            out["gkind"] = "polygon"
            out["geom"] = blobs
            yield out

    return boxes.mapInPandas(
        pack,
        schema="fid long, minx int, miny int, maxx int, maxy int, gkind string, geom binary",
    )


def _q_line_intersects(spark, sf_dir):
    """intersecting (IntersectsFilter.java:21-62) for line features vs the
    rect polygon, three-band accelerated; oracle = exact SAT test."""
    from geodesk_spark.operators import predicates

    feats = _segment_features(spark, sf_dir)
    prepared = [spatial_join.prepare_polygon("rect", pip.pack_rings([RECT_RING]))]
    out = predicates.spatial_predicate_join(feats, prepared, "intersects", keep_cols=["fid"])
    return out.select("fid", "poly_id")


def _seg_sql_base() -> str:
    ddx, ddy = tables.segment_delta_exprs("o_orderkey")
    return f"""
      select o_orderkey as fid, x as x1, y as y1,
             least(greatest(x + {ddx}, -2147483648), 2147483647) as x2,
             least(greatest(y + {ddy}, -2147483648), 2147483647) as y2
      from ({_DERIVED_SQL}) pts
    """


def _sql_line_intersects() -> str:
    rx0, ry0, rx1, ry1 = RECT
    # SAT for segment vs axis-aligned rect: bbox overlap on x/y axes plus
    # rect projection onto the segment normal containing the line offset.
    # Small deltas keep every product ≤ 2^51 → exact in both engines.
    n_proj = lambda X, Y: f"((y1 - y2) * ({X}) + (x2 - x1) * ({Y}))"
    corners = [n_proj(rx0, ry0), n_proj(rx1, ry0), n_proj(rx1, ry1), n_proj(rx0, ry1)]
    c = "((y1 - y2) * x1 + (x2 - x1) * y1)"
    return f"""
      with segs as ({_seg_sql_base()})
      select fid, 'rect' as poly_id from segs
      where least(x1, x2) <= {rx1} and greatest(x1, x2) >= {rx0}
        and least(y1, y2) <= {ry1} and greatest(y1, y2) >= {ry0}
        and least({', '.join(corners)}) <= {c}
        and greatest({', '.join(corners)}) >= {c}
    """


def _q_line_within(spark, sf_dir):
    """within (WithinFilter.java:17-79) for line features vs the rect."""
    from geodesk_spark.operators import predicates

    feats = _segment_features(spark, sf_dir)
    prepared = [spatial_join.prepare_polygon("rect", pip.pack_rings([RECT_RING]))]
    out = predicates.spatial_predicate_join(feats, prepared, "within", keep_cols=["fid"])
    return out.select("fid", "poly_id")


def _sql_line_within() -> str:
    rx0, ry0, rx1, ry1 = RECT
    # Within a convex rect = bbox containment, minus segments lying wholly
    # on an edge line (no interior point → not DE-9IM within).
    return f"""
      with segs as ({_seg_sql_base()})
      select fid, 'rect' as poly_id from segs
      where least(x1, x2) >= {rx0} and greatest(x1, x2) <= {rx1}
        and least(y1, y2) >= {ry0} and greatest(y1, y2) <= {ry1}
        and not ((x1 = x2 and (x1 = {rx0} or x1 = {rx1}))
              or (y1 = y2 and (y1 = {ry0} or y1 = {ry1})))
    """


def _q_line_length(spark, sf_dir):
    """length() in meters (StoredWay.java:189-209) over the packed-geometry
    column; oracle mirrors Mercator.distance op-for-op (det_exp cosh);
    output floor-form-quantized at 4 dp per the float-OUTPUT law."""
    from geodesk_spark.operators import geometry_ops

    feats = _segment_features(spark, sf_dir)
    q4 = F.floor(F.col("length_m") * 1e4 + 0.5).cast("double") / 1e4
    return geometry_ops.with_length_area(feats).select("fid", q4.alias("length_m"))


def _sql_line_length() -> str:
    return f"""
      with segs as ({_seg_sql_base()}),
      m as (select fid, {_dist_sql('x1', 'y1', 'x2', 'y2')} as length_m from segs)
      select fid, cast(floor(length_m * 1e4 + 0.5) as double) / 1e4 as length_m from m
    """


_RESAMPLE_M = 25_000.0  # ~25 km spacing over ~100-300 km segments


def _q_line_resample(spark, sf_dir):
    """Densify lines: a point every 25 km along each derived segment
    (geometry_ops.resample_along_segments) — shuffle-free JVM
    sequence-explode with the reference's mid-latitude Mercator length
    (Mercator.java:194-201)."""
    from geodesk_spark.operators import geometry_ops

    segs = tables.with_derived_segments(
        tables.load_spread(spark, sf_dir, "orders"), "o_orderkey"
    ).select(F.col("o_orderkey").alias("fid"), "x1", "y1", "x2", "y2")
    return geometry_ops.resample_along_segments(segs, _RESAMPLE_M)


def _resample_sql() -> str:
    len_m = _dist_sql("x1", "y1", "x2", "y2")
    return f"""
      with segs as ({_seg_sql_base()}),
      m as (select fid, cast(x1 as double) as x1, cast(y1 as double) as y1,
                   cast(x2 as double) as x2, cast(y2 as double) as y2,
                   {len_m} as len_m from segs),
      e as (select fid, x1, y1, x2, y2, len_m,
                   unnest(generate_series(0, case when len_m > 0
                     then cast(floor(len_m / {_RESAMPLE_M!r}) as int) else 0 end)) as pt_seq
            from m)
      select fid, cast(pt_seq as int) as pt_seq,
             x1 + (case when len_m > 0
                   then (cast(pt_seq as double) * {_RESAMPLE_M!r}) / len_m
                   else 0.0 end) * (x2 - x1) as px,
             y1 + (case when len_m > 0
                   then (cast(pt_seq as double) * {_RESAMPLE_M!r}) / len_m
                   else 0.0 end) * (y2 - y1) as py
      from e
    """


def _tri_vertex_exprs(key: str) -> list[tuple[str, str]]:
    """Three derived vertices per key — an irregular triangle (the
    simplest simple polygon with a non-trivial centroid).  Same
    rational lon/lat recipe as every derived table, three decorrelated
    key streams."""
    ks = [key, f"(({key}) * 2 + 17)", f"(({key}) * 5 + 101)"]
    return [
        (
            tables.x_expr(tables.lon_expr(k)),
            tables.y_expr(tables.lat_expr(k)),
        )
        for k in ks
    ]


def _q_polygon_centroid(spark, sf_dir):
    """Area-weighted polygon centroid (StoredFeature.java:473-479's
    shoelace pass reused for centroid weights): rings as
    array<struct<x,y>>, one transform + one struct-accumulator
    aggregate — JVM higher-order functions (interpreted, outside
    whole-stage codegen), no UDF, no shuffle
    (geometry_ops.ring_centroid_cols)."""
    from geodesk_spark.operators import geometry_ops

    o = tables.load_spread(spark, sf_dir, "orders")
    ring = F.array(
        *[
            F.struct(
                F.expr(x).cast("double").alias("x"),
                F.expr(y).cast("double").alias("y"),
            )
            for x, y in _tri_vertex_exprs("o_orderkey")
        ]
    )
    df = o.select(F.col("o_orderkey").alias("fid"), ring.alias("ring"))
    a2, cx, cy = geometry_ops.ring_centroid_cols(F.col("ring"))
    return (
        df.select("fid", a2.alias("area2"), cx.alias("cx"), cy.alias("cy"))
        .filter(F.col("area2") != 0.0)
    )


def _centroid_sql() -> str:
    vs = _tri_vertex_exprs("o_orderkey")
    cols = ", ".join(
        f"cast({x} as double) as x{i}, cast({y} as double) as y{i}"
        for i, (x, y) in enumerate(vs)
    )
    # edge terms in ring order (0→1, 1→2, 2→0), summed left-associatively
    # to mirror the Spark aggregate's left fold exactly
    return f"""
      with pts as (select o_orderkey as fid, {cols} from orders),
      t as (select fid,
              (x0 * y1 - x1 * y0) as c0,
              (x1 * y2 - x2 * y1) as c1,
              (x2 * y0 - x0 * y2) as c2,
              x0, y0, x1, y1, x2, y2 from pts),
      s as (select fid,
              (c0 + c1) + c2 as area2,
              ((x0 + x1) * c0 + (x1 + x2) * c1) + (x2 + x0) * c2 as sx,
              ((y0 + y1) * c0 + (y1 + y2) * c1) + (y2 + y0) * c2 as sy
            from t)
      select fid, area2, sx / (3.0 * area2) as cx, sy / (3.0 * area2) as cy
      from s where area2 <> 0.0
    """


XJOIN_ZOOM = 7


def _q_crossing_join(spark, sf_dir):
    """Big-big segment×segment proper-crossing join
    (bigjoin.crossing_segments_join): order segments × customer
    corridor segments, one cell-blocked shuffle join, exactly-once via
    the intersection-cell rule — no distinct."""
    from geodesk_spark.operators import bigjoin

    a = tables.with_derived_segments(
        tables.load_spread(spark, sf_dir, "orders"), "o_orderkey"
    ).select(F.col("o_orderkey").alias("aid"), "x1", "y1", "x2", "y2")
    b = tables.with_derived_long_segments(
        tables.load_spread(spark, sf_dir, "customer"), "c_custkey"
    ).select(F.col("c_custkey").alias("bid"), "x1", "y1", "x2", "y2")
    out = bigjoin.crossing_segments_join(a, b, zoom=XJOIN_ZOOM)
    def r4(c):
        return F.floor(c * F.lit(1e4) + F.lit(0.5)) / F.lit(1e4)

    return out.select(
        "aid", "bid", "t", r4(F.col("ix")).alias("ix"), r4(F.col("iy")).alias("iy")
    )


def _crossing_join_sql() -> str:
    step = 1 << (32 - XJOIN_ZOOM)
    b = tiling.cover_bounds_sql(XJOIN_ZOOM)
    cell = tiling.cover_cell_sql(XJOIN_ZOOM)
    lddx, lddy = tables.long_segment_delta_exprs("c_custkey")
    icell = tiling.cover_cell_sql(
        XJOIN_ZOOM,
        f"cast(floor((2147483647 - iy) / {step}) as bigint)",
        f"cast(floor((ix + 2147483648) / {step}) as bigint)",
    )

    def cover(src_cte: str, idc: str, p: str) -> str:
        return f"""
          c1_{p} as (
            select {idc}, x1 as {p}x1, y1 as {p}y1, x2 as {p}x2, y2 as {p}y2,
                   {b['cmin']} as cmin, {b['cmax']} as cmax,
                   {b['rmin']} as rmin, {b['rmax']} as rmax
            from {src_cte}
          ),
          c2_{p} as (select *, unnest(generate_series(cmin, cmax)) as cc from c1_{p}),
          c3_{p} as (select *, unnest(generate_series(rmin, rmax)) as rr from c2_{p}),
          cov_{p} as (select *, {cell} as cell from c3_{p})"""

    return f"""
      with segs_a as ({_seg_sql_base()}),
      segs_b as (
        select c_custkey as bid, x as x1, y as y1,
               least(greatest(x + {lddx}, -2147483648), 2147483647) as x2,
               least(greatest(y + {lddy}, -2147483648), 2147483647) as y2
        from (select c_custkey,
                     {x_expr(lon_expr("c_custkey"))} as x,
                     {y_expr(lat_expr("c_custkey"))} as y
              from customer) cp
      ),
      sa as (select fid as aid, x1, y1, x2, y2 from segs_a),
      {cover("sa", "aid", "a")},
      {cover("segs_b", "bid", "b")},
      j as (
        select a.aid, b.bid, a.cell,
               a.ax1, a.ay1, a.ax2, a.ay2, b.bx1, b.by1, b.bx2, b.by2,
               (b.bx2 - b.bx1) * (a.ay1 - b.by1) - (b.by2 - b.by1) * (a.ax1 - b.bx1) as d1,
               (b.bx2 - b.bx1) * (a.ay2 - b.by1) - (b.by2 - b.by1) * (a.ax2 - b.bx1) as d2,
               (a.ax2 - a.ax1) * (b.by1 - a.ay1) - (a.ay2 - a.ay1) * (b.bx1 - a.ax1) as d3,
               (a.ax2 - a.ax1) * (b.by2 - a.ay1) - (a.ay2 - a.ay1) * (b.bx2 - a.ax1) as d4
        from cov_a a join cov_b b on a.cell = b.cell
      ),
      m as (
        select aid, bid, cell,
               d1 / (d1 - d2) as t,
               ax1 + (d1 / (d1 - d2)) * (ax2 - ax1) as ix,
               ay1 + (d1 / (d1 - d2)) * (ay2 - ay1) as iy
        from j
        where ((d1 > 0 and d2 < 0) or (d1 < 0 and d2 > 0))
          and ((d3 > 0 and d4 < 0) or (d3 < 0 and d4 > 0))
      )
      select aid, bid, t, floor(ix * 1e4 + 0.5) / 1e4 as ix,
             floor(iy * 1e4 + 0.5) / 1e4 as iy
      from m
      where cell = {icell}
    """


RAST_PSTEP = 1 << 17


def _rast_verts() -> list[tuple[int, int, int, int]]:
    """20 deterministic 12-point concave stars (alternating radii), as
    closed vertex rows (poly_id, seq, x, y).  Integer literals computed
    host-side ONCE, so Spark and the oracle see identical vertices."""
    out = []
    for k in range(20):
        cx = ((k * 2654435761) % 3_800_000_001) - 1_900_000_000
        cy = ((k * 1103515245) % 2_000_000_001) - 1_000_000_000
        ring = []
        for j in range(12):
            a = math.pi / 6 * j
            r = 12_000_000 if j % 2 == 0 else 5_000_000
            ring.append((cx + round(r * math.cos(a)), cy + round(r * math.sin(a))))
        ring.append(ring[0])
        out.extend((k, s, x, y) for s, (x, y) in enumerate(ring))
    return out


def _q_rasterize_polygons(spark, sf_dir):
    """Even-odd scanline polygon rasterization to run-length spans
    (tiles_sink.rasterize_polygons_scanline) over 20 concave stars;
    the oracle re-derives every span from an INDEPENDENT per-pixel
    ray-cast + gaps-and-islands regroup."""
    from geodesk_spark.operators import tiles_sink

    verts = spark.createDataFrame(
        _rast_verts(), "poly_id long, seq long, x long, y long"
    )
    return tiles_sink.rasterize_polygons_scanline(verts, RAST_PSTEP)


def _rasterize_sql() -> str:
    p, h = RAST_PSTEP, RAST_PSTEP // 2
    vals = ", ".join(f"({k},{s},{x},{y})" for k, s, x, y in _rast_verts())
    return f"""
      with verts(poly_id, seq, x, y) as (values {vals}),
      e as (select * from (
          select poly_id, x as x1, y as y1,
                 lead(x) over (partition by poly_id order by seq) as x2,
                 lead(y) over (partition by poly_id order by seq) as y2
          from verts) le where x2 is not null),
      b as (select poly_id,
              cast(floor(min(least(x1, x2)) / {p}) as bigint) * {p} as ox,
              cast(ceil(max(greatest(y1, y2)) / {p}) as bigint) * {p} as oy,
              max(greatest(x1, x2)) as mx, min(least(y1, y2)) as my
            from e group by poly_id),
      g as (select poly_id, ox, oy,
              cast(ceil((mx - ox) / {p}) as bigint) as npx,
              cast(ceil((oy - my) / {p}) as bigint) as npy
            from b),
      pyr as (select poly_id, ox, oy, npx,
                     unnest(generate_series(0, npy - 1)) as py from g),
      pix as (select poly_id, ox, py, oy - py * {p} - {h} as yc,
                     unnest(generate_series(0, npx - 1)) as px from pyr),
      cnt as (
        select p.poly_id, p.py, p.px,
               count(*) filter (where (e.y1 > p.yc) <> (e.y2 > p.yc)
                  and (p.ox + p.px * {p} + {h})
                      < e.x1 + (p.yc - e.y1) * (e.x2 - e.x1) / (e.y2 - e.y1)) as c
        from pix p join e on e.poly_id = p.poly_id
        group by 1, 2, 3),
      ins as (select poly_id, py, px from cnt where c % 2 = 1),
      isl as (select poly_id, py, px,
                     px - row_number() over (partition by poly_id, py order by px) as grp
              from ins)
      select poly_id, py, min(px) as px0, max(px) as px1
      from isl group by poly_id, py, grp
    """


BLUR_R = 2


def _q_box_blur(spark, sf_dir):
    """Separable box blur (tiles_sink.box_blur_counts) over the global
    2^16-pixel grid: the heatmap smoothing between raster binning and
    encode — two rank-1 explode+regroup passes, 2(2r+1) fan-out
    instead of (2r+1)², exact integer convolution."""
    from geodesk_spark.operators import tiles_sink

    df = _derived_orders(spark, sf_dir)
    pix = (
        df.select(
            F.floor((F.col("x") + F.lit(2147483648)) / F.lit(65536)).alias("gx"),
            F.floor((F.lit(2147483647) - F.col("y")) / F.lit(65536)).alias("gy"),
        )
        .groupBy("gx", "gy")
        .agg(F.count("*").alias("n"))
    )
    return tiles_sink.box_blur_counts(pix, radius=BLUR_R)


_SQL_BOX_BLUR = f"""
  with pts as ({{derived}}),
  pix as (select cast(floor((x + 2147483648) / 65536) as bigint) as gx,
                 cast(floor((2147483647 - y) / 65536) as bigint) as gy,
                 count(*) as n
          from pts group by 1, 2),
  hx as (select gx + unnest(generate_series(-{BLUR_R}, {BLUR_R})) as gx, gy, n
         from pix),
  h as (select gx, gy, sum(n) as n from hx group by 1, 2),
  vy as (select gx, gy + unnest(generate_series(-{BLUR_R}, {BLUR_R})) as gy, n
         from h)
  select gx, gy, cast(sum(n) as bigint) as n from vy group by 1, 2
"""


VEC_GRID_BITS = 7


VEC_THRESHOLD = 3


def _q_vectorize_edges(spark, sf_dir):
    """RASTER->VECTOR boundary extraction (tiles_sink.vectorize_boundary_edges):
    the dense-region footprint of the order-point raster as wound lattice
    edge segments -- marching-squares contract, integer-exact, one binning
    shuffle + one anti-join against the inside set."""
    from geodesk_spark.operators import tiles_sink

    df = _derived_orders(spark, sf_dir)
    return tiles_sink.vectorize_boundary_edges(
        df, grid_bits=VEC_GRID_BITS, threshold=VEC_THRESHOLD
    )


_SQL_VECTORIZE_EDGES = f"""
  with pts as ({{derived}}),
  cells as (select cast(floor((x + 2147483648) / {1 << (32 - VEC_GRID_BITS)}) as bigint) as gx,
                   cast(floor((2147483647 - y) / {1 << (32 - VEC_GRID_BITS)}) as bigint) as gy,
                   count(*) as n
            from pts group by 1, 2),
  inside as (select gx, gy from cells where n >= {VEC_THRESHOLD}),
  dirs(dx, dy, x1o, y1o, x2o, y2o) as (values
    (0, -1, 0, 0, 1, 0), (1, 0, 1, 0, 1, 1), (0, 1, 1, 1, 0, 1), (-1, 0, 0, 1, 0, 0)),
  cand as (select i.gx, i.gy, d.* from inside i cross join dirs d),
  edges as (select c.* from cand c
            left join inside nb on nb.gx = c.gx + c.dx and nb.gy = c.gy + c.dy
            where nb.gx is null)
  select gx + x1o as x1, gy + y1o as y1, gx + x2o as x2, gy + y2o as y2 from edges
"""


FOOT_GRID_BITS = 8
FOOT_THRESHOLD = 2


def _q_concave_footprint(spark, sf_dir):
    """Concave footprint extraction — the alpha-shape-style pipeline a
    coverage map needs: density mask (cells with ≥2 points) →
    morphological CLOSING (pinholes and hairline gaps seal, so the
    outline follows the data's concave shape instead of fragmenting) →
    boundary vectorization (tiles_sink.cells_boundary_edges, the
    marching-squares winding contract).  Three composed operators, all
    integer; two scatter rollups + one edge-key rollup."""
    from geodesk_spark.operators import tiles_sink

    df = _derived_orders(spark, sf_dir)
    mask = tiles_sink.grid_counts(df, grid_bits=FOOT_GRID_BITS).filter(
        F.col("n") >= FOOT_THRESHOLD
    )
    closed = tiles_sink.morphology_mask(mask, op="close", radius=1)
    return tiles_sink.cells_boundary_edges(closed)


def _concave_footprint_sql() -> str:
    from geodesk_spark.operators import tiles_sink

    step = 1 << (32 - FOOT_GRID_BITS)
    mask_rel = f"""select gx, gy from (
        select cast(floor((x + 2147483648) / {step}) as bigint) as gx,
               cast(floor((2147483647 - y) / {step}) as bigint) as gy,
               count(*) as n
        from ({_DERIVED_SQL}) pts group by 1, 2) c where n >= {FOOT_THRESHOLD}"""
    closed = tiles_sink.morphology_mask_sql(mask_rel, op="close", radius=1)
    return f"""
      with inside as ({closed}),
      dirs(dx, dy, x1o, y1o, x2o, y2o) as (values
        (0, -1, 0, 0, 1, 0), (1, 0, 1, 0, 1, 1),
        (0, 1, 1, 1, 0, 1), (-1, 0, 0, 1, 0, 0)),
      cand as (select i.gx, i.gy, d.* from inside i cross join dirs d),
      edges as (select c.* from cand c
                left join inside nb on nb.gx = c.gx + c.dx and nb.gy = c.gy + c.dy
                where nb.gx is null)
      select gx + x1o as x1, gy + y1o as y1, gx + x2o as x2, gy + y2o as y2
      from edges
    """


DISSOLVE_ZOOM = 5


def _q_dissolve(spark, sf_dir):
    """Dissolve rollup (geometry_ops.union_area_by_group): exact union
    area of the derived bbox features per z5 center tile -- coordinate
    compression, quadratic only in the group size, decimal(38,0) exact."""
    from geodesk_spark.operators import geometry_ops

    boxes = tables.with_derived_boxes(
        tables.load_spread(spark, sf_dir, "orders"), "o_orderkey"
    ).select(
        T.tile_col(F.col("x"), F.col("y"), DISSOLVE_ZOOM).cast("bigint").alias("g"),
        "minx",
        "miny",
        "maxx",
        "maxy",
    )
    return geometry_ops.union_area_by_group(boxes, "g")


def _dissolve_sql() -> str:
    dx, dy = tables.half_extent_exprs("o_orderkey")
    box = tables.box_exprs("x", "y", "dx", "dy")
    return f"""
      with pts as ({_DERIVED_SQL}),
      ext as (select {tile_expr('x', 'y', DISSOLVE_ZOOM)} as g, x, y,
                     {dx} as dx, {dy} as dy from pts),
      b as (select g, {box['minx']} as minx, {box['maxx']} as maxx,
                   {box['miny']} as miny, {box['maxy']} as maxy from ext),
      xs as (select distinct g, v from (
               select g, minx as v from b union all select g, maxx from b)),
      xi as (select g, x0, x1 from (
               select g, v as x0, lead(v) over (partition by g order by v) as x1
               from xs) t where x1 is not null and x1 > x0),
      ys as (select distinct g, v from (
               select g, miny as v from b union all select g, maxy from b)),
      yi as (select g, y0, y1 from (
               select g, v as y0, lead(v) over (partition by g order by v) as y1
               from ys) t where y1 is not null and y1 > y0),
      cells as (select xi.g, x0, x1, y0, y1 from xi join yi on yi.g = xi.g),
      cov as (select c.* from cells c where exists (
                select 1 from b where b.g = c.g
                  and c.x0 >= b.minx and c.x1 <= b.maxx
                  and c.y0 >= b.miny and c.y1 <= b.maxy))
      select g, cast(cast(sum(cast(x1 - x0 as hugeint) * cast(y1 - y0 as hugeint))
                     as decimal(38,0)) as double) as union_area
      from cov group by g
    """


WDJ_DELTA = 40_000_000  # ~0.37 m-deg of imps; planar window semantics


def _q_within_distance_join(spark, sf_dir):
    """Big-big within-distance join (bigjoin.within_distance_join):
    order points × customer points within a planar imp radius — grid +
    3×3 halo replication on ONE side, exact INTEGER dx²+dy²≤δ² decision
    in decimal (zero float), each pair exactly once; dist_m emitted via
    the mercator law, floor-quantized at cm."""
    from geodesk_spark.operators import bigjoin

    o = tables.with_derived_points(
        tables.load_spread(spark, sf_dir, "orders"), "o_orderkey"
    ).select(F.col("o_orderkey").alias("id"), "x", "y")
    c = tables.with_derived_points(
        tables.load_spread(spark, sf_dir, "customer"), "c_custkey"
    ).select(F.col("c_custkey").alias("id"), "x", "y")
    j = bigjoin.within_distance_join(o, c, WDJ_DELTA)
    q2 = F.floor(F.col("dist_m") * 1e2 + 0.5).cast("double") / 1e2
    return j.select("id_a", "id_b", q2.alias("dist_m"))


def _within_distance_join_sql() -> str:
    d = WDJ_DELTA
    dist = _dist_sql("a.x", "a.y", "b.x", "b.y")
    return f"""
      with a as (select o_orderkey as id, {x_expr(lon_expr("o_orderkey"))} as x,
                        {y_expr(lat_expr("o_orderkey"))} as y from orders),
      b as (select c_custkey as id, {x_expr(lon_expr("c_custkey"))} as x,
                   {y_expr(lat_expr("c_custkey"))} as y from customer)
      select a.id as id_a, b.id as id_b,
             cast(floor(({dist}) * 1e2 + 0.5) as double) / 1e2 as dist_m
      from a join b
        on cast(a.x - b.x as hugeint) * (a.x - b.x)
           + cast(a.y - b.y as hugeint) * (a.y - b.y) <= cast({d} as hugeint) * {d}
    """


def _q_initial_bearing(spark, sf_dir):
    """Inverse-geodesic azimuth (geodesic.initial_bearing_cols): the
    initial great-circle bearing of each OD pair, micro-degree integer
    output, [0,360) folded by if-branch (never a mod — the
    negative-modulus law); completes the forward/inverse pair."""
    from geodesk_spark.geo import geodesic

    pts = _derived_orders(spark, sf_dir)
    pts = pts.withColumn(
        "x2", ((F.col("x") * 3 + 987_654_321) % 2147483647)
    ).withColumn("y2", ((F.col("y") * 5 + 123_456_789) % 2147483647))
    out = geodesic.initial_bearing_cols(
        pts, F.col("x"), F.col("y"), F.col("x2"), F.col("y2"), "brg_microdeg"
    )
    return out.select("o_orderkey", "brg_microdeg")


def _initial_bearing_sql() -> str:
    from geodesk_spark.geo import geodesic

    src = (
        f"(select o_orderkey, x, y, "
        f"(x * 3 + 987654321) % 2147483647 as x2, "
        f"(y * 5 + 123456789) % 2147483647 as y2 from ({_DERIVED_SQL}) p)"
    )
    ctes, val = geodesic.initial_bearing_sql("x", "y", "x2", "y2", "g", src)
    return f"with {ctes} select o_orderkey, {val} as brg_microdeg from at2_gb_fin"


SLERP_FRACS = (0.25, 0.5, 0.75)


def _q_gc_interpolate(spark, sf_dir):
    """Great-circle route densification (geodesic.intermediate_cols):
    OD pairs between consecutive derived points sampled at 1/4, 1/2,
    3/4 — slerp on the det-kernel suite (stable half-chord angle,
    degenerate pairs interpolate to the start), integer imp outputs."""
    from geodesk_spark.geo import geodesic

    pts = _derived_orders(spark, sf_dir)
    od = pts.select(
        F.col("o_orderkey").alias("k"), "x", "y",
        (F.col("o_orderkey") % 999).alias("grp"),
    )
    # one OD pair per group: the min-key row on each side (min-struct
    # rollup keeps the join 1:1 — 999 pairs, not 56 per group)
    def rep(side, xn, yn):
        return (
            side.groupBy("grp")
            .agg(F.min(F.struct("k", "x", "y")).alias("_r"))
            .select("grp", F.col("_r.x").alias(xn), F.col("_r.y").alias(yn))
        )

    a = rep(od.filter(F.col("k") % 2 == 0), "x1", "y1")
    b = rep(od.filter(F.col("k") % 2 == 1), "x2", "y2")
    pairs = a.join(b, "grp")
    out = None
    for i, f_ in enumerate(SLERP_FRACS):
        d = geodesic.intermediate_cols(
            pairs, F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2"),
            f_, "mx", "my", tag=f"_sl{i}",
        ).select(
            "grp", F.lit(int(f_ * 100)).alias("frac_pct"), "mx", "my"
        )
        out = d if out is None else out.unionByName(d)
    return out


def _gc_interpolate_sql() -> str:
    from geodesk_spark.geo import geodesic

    base = f"""(select a.grp, a.x1, a.y1, b.x2, b.y2 from
      (select grp, arg_min(x, k) as x1, arg_min(y, k) as y1 from
        (select o_orderkey % 999 as grp, o_orderkey as k, x, y
         from ({_DERIVED_SQL}) p where o_orderkey % 2 = 0) aa group by grp) a
      join
      (select grp, arg_min(x, k) as x2, arg_min(y, k) as y2 from
        (select o_orderkey % 999 as grp, o_orderkey as k, x, y
         from ({_DERIVED_SQL}) p where o_orderkey % 2 = 1) bb group by grp) b
      using (grp))"""
    parts = []
    for i, f_ in enumerate(SLERP_FRACS):
        ctes, fin, xe, ye = geodesic.intermediate_sql(
            "x1", "y1", "x2", "y2", f_, f"g{i}", base
        )
        parts.append(
            f"""select grp, {int(f_ * 100)} as frac_pct,
               {xe} as mx, {ye} as my
             from (with {ctes} select * from {fin}) t{i}"""
        )
    return "\n      union all\n      ".join(parts)


DEST_BEARING = 37.0


def _q_geodesic_destination(spark, sf_dir):
    """Forward geodesic (geodesic.destination_point): each derived
    point travels a per-row distance at a fixed bearing on the true
    sphere — det-kernel trig end-to-end (sincos quadrant ladder,
    det_atan2, det_atanh), integer imp outputs, bit-identical on any
    engine build; wraps the antimeridian and clamps at the map edge."""
    from geodesk_spark.geo import geodesic

    pts = _derived_orders(spark, sf_dir)
    pts = pts.withColumn(
        "dist_m", (F.col("o_orderkey") % 2000).cast("double") * 1000.0
    )
    out = geodesic.destination_cols(
        pts, F.col("x"), F.col("y"), F.col("dist_m"), DEST_BEARING,
        "dx_imp", "dy_imp",
    )
    return out.select("o_orderkey", "dx_imp", "dy_imp")


def _geodesic_destination_sql() -> str:
    from geodesk_spark.geo import geodesic

    src = f"(select o_orderkey, x, y, cast(o_orderkey % 2000 as double) * 1000.0 as dist_m from ({_DERIVED_SQL}) p)"
    ctes, fin, xe, ye = geodesic.destination_sql(
        "x", "y", "dist_m", DEST_BEARING, "g", src
    )
    return f"with {ctes} select o_orderkey, {xe} as dx_imp, {ye} as dy_imp from {fin}"


def _q_great_circle(spark, sf_dir):
    """True sphere geodesic between derived point pairs
    (geo/geodesic.great_circle_cols): unit-sphere vectors via the
    Gudermannian det-kernels, half-chord asin via det_atan2 — the
    continent-scale complement of the reference's planar mercator
    distance, bit-identical on every engine build (no libm anywhere in
    the chain).  Output floor-quantized at cm."""
    from geodesk_spark.geo import geodesic

    df = tables.with_derived_points(
        tables.load_spread(spark, sf_dir, "orders"), "o_orderkey"
    ).withColumn("k2", (F.col("o_orderkey") * 2654435761) % 1000000007)
    df = df.withColumn("x2", F.expr(x_expr(lon_expr("k2")))).withColumn(
        "y2", F.expr(y_expr(lat_expr("k2")))
    )
    df = geodesic.great_circle_cols(
        df, F.col("x"), F.col("y"), F.col("x2"), F.col("y2"), "gc_m"
    )
    q2 = F.floor(F.col("gc_m") * 1e2 + 0.5).cast("double") / 1e2
    return df.select(F.col("o_orderkey").alias("fid"), q2.alias("gc_m"))


def _great_circle_sql() -> str:
    from geodesk_spark.geo import geodesic

    pts = f"""select o_orderkey as fid,
             {x_expr(lon_expr("o_orderkey"))} as x,
             {y_expr(lat_expr("o_orderkey"))} as y,
             {x_expr(lon_expr("k2"))} as x2,
             {y_expr(lat_expr("k2"))} as y2
      from (select *, (o_orderkey * 2654435761) % 1000000007 as k2 from orders) o"""
    ctes, val = geodesic.great_circle_sql("x", "y", "x2", "y2", "gq", "pts")
    return f"""
      with pts as ({pts}),
      {ctes}
      select fid, cast(floor(({val}) * 1e2 + 0.5) as double) / 1e2 as gc_m
      from at2_gq_fin
    """


GWR_GRID_BITS = 6


_GWR_XV = "(o_orderkey * 48271) % 1000"


def _q_gwr_local(spark, sf_dir):
    """Geographically weighted regression (stats.gwr_local): per-cell
    Epanechnikov-weighted local OLS of order price (integer cents) on a
    synthetic covariate — the local-relationship map of spatial stats
    (Brunsdon et al. 1996).  Decimal-exact sums end-to-end; only the two
    closed-form divisions are float, floor-quantized at 1e6."""
    from geodesk_spark.operators import stats

    df = _derived_orders_price(spark, sf_dir)
    return stats.gwr_local(df, grid_bits=GWR_GRID_BITS, radius=2)


def _derived_orders_price(spark, sf_dir):
    o = tables.load_spread(spark, sf_dir, "orders")
    df = tables.with_derived_points(o, "o_orderkey")
    k = F.col("o_orderkey").cast("long")
    # price cents via the floor form: double→bigint bare casts TRUNCATE
    # on Spark but ROUND on DuckDB (CLAUDE.md law)
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    return df.select(
        "x",
        "y",
        ((k * 48271) % 1000).alias("xv"),
        cents.alias("yv"),
    )


def _gwr_sql() -> str:
    from geodesk_spark.operators import stats

    pts_rel = f"""select {x_expr(lon_expr("o_orderkey"))} as x,
             {y_expr(lat_expr("o_orderkey"))} as y,
             {_GWR_XV} as xv,
             cast(floor(o_totalprice * 100 + 0.5) as bigint) as yv
      from orders"""
    return stats.gwr_local_sql(pts_rel, grid_bits=GWR_GRID_BITS, radius=2)


HOTSPOT_GRID_BITS = 7


def _q_hotspot(spark, sf_dir):
    """Getis-Ord Gi* hotspot scores over the order-point density raster
    (tiles_sink.hotspot_gi_star): separable 3x3 neighborhood sums, exact
    integer aggregates, fixed-order float formula -- bit-reproducible."""
    from geodesk_spark.operators import tiles_sink

    df = _derived_orders(spark, sf_dir)
    return tiles_sink.hotspot_gi_star(df, grid_bits=HOTSPOT_GRID_BITS)


_SQL_HOTSPOT = f"""
  with pts as ({{derived}}),
  cells as (select cast(floor((x + 2147483648) / {1 << (32 - HOTSPOT_GRID_BITS)}) as bigint) as gx,
                   cast(floor((2147483647 - y) / {1 << (32 - HOTSPOT_GRID_BITS)}) as bigint) as gy,
                   count(*) as n
            from pts group by 1, 2),
  nbsum as (select c.gx, c.gy, c.n,
                   sum(nb.n) as s_i, count(*) as n_i
            from cells c join cells nb
              on nb.gx between c.gx - 1 and c.gx + 1
             and nb.gy between c.gy - 1 and c.gy + 1
            group by c.gx, c.gy, c.n),
  stats as (select count(*) as n_tot, sum(n) as sx, sum(n * n) as sxx from cells)
  select gx, gy, n,
         case when (cast(sxx as double) / cast(n_tot as double)
                 - (cast(sx as double) / cast(n_tot as double)) * (cast(sx as double) / cast(n_tot as double))) <= 0.0
              then null
              when (sqrt(cast(sxx as double) / cast(n_tot as double)
                 - (cast(sx as double) / cast(n_tot as double)) * (cast(sx as double) / cast(n_tot as double)))
            * sqrt(cast(n_tot * n_i - n_i * n_i as double) / (cast(n_tot as double) - 1.0))) = 0.0
              then null
              else (cast(s_i as double) - (cast(sx as double) / cast(n_tot as double)) * cast(n_i as double))
         / (sqrt(cast(sxx as double) / cast(n_tot as double)
                 - (cast(sx as double) / cast(n_tot as double)) * (cast(sx as double) / cast(n_tot as double)))
            * sqrt(cast(n_tot * n_i - n_i * n_i as double) / (cast(n_tot as double) - 1.0)))
         end as gi_star
  from nbsum cross join stats
"""


def _q_moran(spark, sf_dir):
    """Moran's I + local LISA over the order-point density raster
    (tiles_sink.moran_lisa): queen contiguity w_ii=0, exact integer
    aggregates, fixed-order float formula -- bit-reproducible."""
    from geodesk_spark.operators import tiles_sink

    df = _derived_orders(spark, sf_dir)
    return tiles_sink.moran_lisa(df, grid_bits=HOTSPOT_GRID_BITS)


# shared fixed-order scalars, written ONCE so both uses stay identical
_MORAN_XBAR = "(cast(sx as double) / cast(n_tot as double))"
_MORAN_M2 = (
    f"(cast(sxx as double) / cast(n_tot as double) - {_MORAN_XBAR} * {_MORAN_XBAR})"
)
_SQL_MORAN = f"""
  with pts as ({{derived}}),
  cells as (select cast(floor((x + 2147483648) / {1 << (32 - HOTSPOT_GRID_BITS)}) as bigint) as gx,
                   cast(floor((2147483647 - y) / {1 << (32 - HOTSPOT_GRID_BITS)}) as bigint) as gy,
                   count(*) as n
            from pts group by 1, 2),
  nbsum as (select c.gx, c.gy, c.n,
                   cast(sum(nb.n) - c.n as bigint) as sp,
                   cast(count(*) - 1 as bigint) as np
            from cells c join cells nb
              on nb.gx between c.gx - 1 and c.gx + 1
             and nb.gy between c.gy - 1 and c.gy + 1
            group by c.gx, c.gy, c.n),
  stats as (select cast(count(*) as bigint) as n_tot,
                   cast(sum(n) as bigint) as sx,
                   cast(sum(n * n) as bigint) as sxx,
                   cast(sum(n * sp) as bigint) as a_xs,
                   cast(sum(n * np) as bigint) as b_xn,
                   cast(sum(sp) as bigint) as c_s,
                   cast(sum(np) as bigint) as w_sum
            from nbsum)
  select gx, gy, n,
         case when {_MORAN_M2} > 0.0
              then ((cast(n as double) - {_MORAN_XBAR})
                    * (cast(sp as double) - cast(np as double) * {_MORAN_XBAR}))
                   / {_MORAN_M2}
         end as i_local,
         case when {_MORAN_M2} > 0.0 and w_sum > 0
              then (cast(n_tot as double)
                    * (cast(a_xs as double)
                       - {_MORAN_XBAR} * cast(b_xn + c_s as double)
                       + {_MORAN_XBAR} * {_MORAN_XBAR} * cast(w_sum as double)))
                   / (cast(w_sum as double) * (cast(n_tot as double) * {_MORAN_M2}))
         end as i_global
  from nbsum cross join stats
"""


def _q_tile_clip(spark, sf_dir):
    """Liang–Barsky clip of corridor segments to the zoom-7 tile grid
    (tiles_sink.clip_segments_to_tiles): the vector-tile emit clip step,
    zero-shuffle, output pre-keyed by tile for the writer."""
    from geodesk_spark.operators import tiles_sink

    s = tables.with_derived_long_segments(
        tables.load_spread(spark, sf_dir, "orders"), "o_orderkey"
    ).select(F.col("o_orderkey").alias("sid"), "x1", "y1", "x2", "y2")
    return tiles_sink.clip_segments_to_tiles(s, zoom=XJOIN_ZOOM)


def _tile_clip_sql() -> str:
    step = 1 << (32 - XJOIN_ZOOM)
    b = tiling.cover_bounds_sql(XJOIN_ZOOM)
    cell = tiling.cover_cell_sql(XJOIN_ZOOM, "rr", "cc")
    lddx, lddy = tables.long_segment_delta_exprs("o_orderkey")
    # the four Liang–Barsky (p, q) edge pairs, op-order mirroring the Spark side
    edges = [
        ("-(x2 - x1)", "x1 - txmin"),
        ("(x2 - x1)", "txmax - x1"),
        ("-(y2 - y1)", "y1 - tymin"),
        ("(y2 - y1)", "tymax - y1"),
    ]
    reject = " or ".join(f"(({p}) = 0 and ({q}) < 0)" for p, q in edges)
    t0 = "greatest(0.0, " + ", ".join(
        f"case when ({p}) < 0 then ({q}) / ({p}) else 0.0 end" for p, q in edges
    ) + ")"
    t1 = "least(1.0, " + ", ".join(
        f"case when ({p}) > 0 then ({q}) / ({p}) else 1.0 end" for p, q in edges
    ) + ")"
    return f"""
      with segs as (
        select o_orderkey as sid, x as x1, y as y1,
               least(greatest(x + {lddx}, -2147483648), 2147483647) as x2,
               least(greatest(y + {lddy}, -2147483648), 2147483647) as y2
        from (select o_orderkey,
                     {x_expr(lon_expr("o_orderkey"))} as x,
                     {y_expr(lat_expr("o_orderkey"))} as y
              from orders) op
      ),
      c1 as (
        select *,
               {b['cmin']} as cmin, {b['cmax']} as cmax,
               {b['rmin']} as rmin, {b['rmax']} as rmax
        from segs
      ),
      c2 as (select *, unnest(generate_series(cmin, cmax)) as cc from c1),
      cov as (select *, unnest(generate_series(rmin, rmax)) as rr from c2),
      rects as (
        select sid, x1, y1, x2, y2, cc, rr,
               cc * {step} - 2147483648 as txmin,
               cc * {step} - 2147483648 + {step} as txmax,
               2147483647 - rr * {step} as tymax,
               2147483647 - rr * {step} - {step} as tymin
        from cov
      ),
      clipped as (
        select sid, {cell} as cell,
               {t0} as t0, {t1} as t1, x1, y1, x2, y2
        from rects
        where not ({reject})
      )
      select sid, cell,
             floor((x1 + t0 * (x2 - x1)) * 1e4 + 0.5) / 1e4 as cx1,
             floor((y1 + t0 * (y2 - y1)) * 1e4 + 0.5) / 1e4 as cy1,
             floor((x1 + t1 * (x2 - x1)) * 1e4 + 0.5) / 1e4 as cx2,
             floor((y1 + t1 * (y2 - y1)) * 1e4 + 0.5) / 1e4 as cy2
      from clipped where t0 < t1
    """


_OCT_PRIMES = [40503, 58921, 71993, 83417, 15137, 29383, 96179, 47981]
# direction multipliers (CCW from east): E NE N NW W SW S SE
_OCT_DIRS = [(1, 0), (1, 1), (0, 1), (-1, 1), (-1, 0), (-1, -1), (0, -1), (1, -1)]
_OCT_MOD, _OCT_BASE = 1 << 26, 1 << 24
_OCT_MARGIN = 1 << 27  # > max radius 2^26 + 2^24 ⇒ vertices stay int32


def _octagon_vertex_exprs(key: str, cx: str = "cx", cy: str = "cy") -> list[tuple[str, str]]:
    """Eight star-octagon vertices as integer SQL exprs around (cx, cy):
    per-vertex radius r_i = ((key·P_i) mod 2²⁶) + 2²⁴ along eight compass
    directions in CCW angular order — star-shaped about the center,
    hence always a SIMPLE (non-self-intersecting) polygon; all-integer
    arithmetic is exact in both engines."""
    out = []
    for (sx, sy), p in zip(_OCT_DIRS, _OCT_PRIMES):
        r = f"(((({key}) * {p}) % {_OCT_MOD}) + {_OCT_BASE})"
        fx = cx if sx == 0 else f"({cx} {'+' if sx > 0 else '-'} {r})"
        fy = cy if sy == 0 else f"({cy} {'+' if sy > 0 else '-'} {r})"
        out.append((fx, fy))
    return out


def _q_tile_clip_polygons(spark, sf_dir):
    """Sutherland–Hodgman clip of star-octagon polygons to the zoom-7
    tile grid (tiles_sink.clip_polygons_to_tiles): the AREA-feature side
    of the vector-tile emit clip (tile_clip_segments covers lines) —
    bbox cover-explode then four chained higher-order half-plane passes
    (interpreted, outside whole-stage codegen), zero shuffle, output
    pre-keyed by tile."""
    from geodesk_spark.operators import tiles_sink

    o = tables.load_spread(spark, sf_dir, "orders")
    o = tables.with_derived_points(o, "o_orderkey")
    lo, hi = -(1 << 31) + _OCT_MARGIN, (1 << 31) - 1 - _OCT_MARGIN
    o = o.withColumn("cx", F.expr(f"least(greatest(x, {lo}), {hi})")).withColumn(
        "cy", F.expr(f"least(greatest(y, {lo}), {hi})")
    )
    ring = F.array(
        *[
            F.struct(
                F.expr(vx).cast("double").alias("x"),
                F.expr(vy).cast("double").alias("y"),
            )
            for vx, vy in _octagon_vertex_exprs("o_orderkey")
        ]
    )
    polys = o.select(F.col("o_orderkey").alias("pid"), ring.alias("ring"))
    return tiles_sink.clip_polygons_to_tiles(polys, zoom=XJOIN_ZOOM)


def _tile_clip_polygons_sql() -> str:
    # Clip in TILE-LOCAL coords with CONSTANT half-plane bounds, exactly
    # like the operator: the ring is built ALREADY SHIFTED by plain
    # scalar exprs, so the passes compare against 0/extent only and the
    # float op-order matches the Spark side term for term.
    from geodesk_spark.operators.tiles_sink import SH_TILE_PASSES, sh_clip_pass_expr

    step = 1 << (32 - XJOIN_ZOOM)
    cell = tiling.cover_cell_sql(XJOIN_ZOOM, "rr", "cc")
    lo, hi = -(1 << 31) + _OCT_MARGIN, (1 << 31) - 1 - _OCT_MARGIN
    verts = _octagon_vertex_exprs("pid")
    all_vx = ", ".join(vx for vx, _ in verts)
    all_vy = ", ".join(vy for _, vy in verts)
    ring = "[" + ", ".join(
        f"{{'x': cast(({vx}) - txmin as double), 'y': cast(({vy}) - tymin as double)}}"
        for vx, vy in verts
    ) + "]"
    cur = "r"
    for i, (bound, axis, keep_ge) in enumerate(SH_TILE_PASSES(step), 1):
        cur = sh_clip_pass_expr(cur, bound, axis, keep_ge, "duckdb", tag=str(i))
    pass_ctes = [f"p4 as (select pid, cell, {cur} as r4 from ring0)"]
    return f"""
      with pts as (select o_orderkey as pid,
                          {x_expr(lon_expr("o_orderkey"))} as x,
                          {y_expr(lat_expr("o_orderkey"))} as y
                   from orders),
      ctr as (select pid, least(greatest(x, {lo}), {hi}) as cx,
                     least(greatest(y, {lo}), {hi}) as cy from pts),
      bb as (select pid, cx, cy,
               cast(floor((least({all_vx}) + 2147483648) / {step}) as bigint) as cmin,
               cast(floor((greatest({all_vx}) + 2147483648) / {step}) as bigint) as cmax,
               cast(floor((2147483647 - greatest({all_vy})) / {step}) as bigint) as rmin,
               cast(floor((2147483647 - least({all_vy})) / {step}) as bigint) as rmax
             from ctr),
      c2 as (select *, unnest(generate_series(cmin, cmax)) as cc from bb),
      cov as (select *, unnest(generate_series(rmin, rmax)) as rr from c2),
      rects as (select pid, cx, cy, {cell} as cell,
                       cc * {step} - 2147483648 as txmin,
                       2147483647 - rr * {step} - {step} as tymin
                from cov),
      ring0 as materialized (select pid, cell, {ring} as r from rects),
      {", ".join(pass_ctes)}
      select pid, cell, i as seq,
             floor(r4[i].x * 1e4 + 0.5) / 1e4 as x,
             floor(r4[i].y * 1e4 + 0.5) / 1e4 as y
      from p4, unnest(generate_series(1, len(r4))) as u(i)
      where len(r4) >= 3
    """


_DP_EPS = 8000


_DP_VERTS_SQL = """
  select o_orderkey % 100 as line_id, o_orderkey as seq,
         (o_orderkey * 48271) % 60001 - 30000 as x,
         (o_orderkey * 69621) % 60001 - 30000 as y
  from orders
"""


def _q_simplify_dp(spark, sf_dir):
    """Douglas–Peucker polyline simplification (geometry_ops.
    simplify_lines_dp): exact-integer split rule in a per-line Arrow
    kernel; oracle replays the recursion as a DuckDB recursive CTE."""
    from geodesk_spark.operators import geometry_ops

    o = tables.load_spread(spark, sf_dir, "orders")
    k = F.col("o_orderkey").cast("long")
    verts = o.select(
        (k % 100).alias("line_id"),
        k.alias("seq"),
        ((k * 48271) % 60001 - 30000).alias("x"),
        ((k * 69621) % 60001 - 30000).alias("y"),
    )
    return geometry_ops.simplify_lines_dp(verts, eps=_DP_EPS)


def _simplify_dp_sql() -> str:
    from geodesk_spark.operators import geometry_ops

    return geometry_ops.simplify_lines_dp_sql(_DP_VERTS_SQL, eps=_DP_EPS)


SAMPLE_POLY_N = 200
SAMPLE_POLY_R = 4000
SAMPLE_POLY_K = 3


def _q_poly_samples(spark, sf_dir):
    """Deterministic area-weighted interior sampling (geometry_ops.
    sample_points_in_polygons) over synthetic convex octagon zones
    (CCW k-gon offsets shared as host literals): fan-triangle pick by
    cumulative exact area + LCG barycentric placement — reproducible
    label-augmentation points, no RNG state, no rejection."""
    from geodesk_spark.operators.geometry_ops import (
        kgon_offsets,
        sample_points_in_polygons,
    )

    offs = kgon_offsets(SAMPLE_POLY_R, 8)
    polys = (
        tables.load_spread(spark, sf_dir, "orders")
        .select((F.col("o_orderkey") % SAMPLE_POLY_N).alias("p"))
        .distinct()
    )
    oarr = F.array(
        *[
            F.struct(F.lit(j).alias("j"), F.lit(ox).alias("ox"), F.lit(oy).alias("oy"))
            for j, (ox, oy) in enumerate(offs)
        ]
    )
    rings = polys.select("p", F.explode(oarr).alias("o")).select(
        F.col("p").alias("poly_id"),
        F.col("o.j").alias("seq"),
        ((F.col("p") * 48271) % 60001 - 30000 + F.col("o.ox")).alias("x"),
        ((F.col("p") * 69621) % 60001 - 30000 + F.col("o.oy")).alias("y"),
    )
    return sample_points_in_polygons(rings, k=SAMPLE_POLY_K)


def _poly_samples_sql() -> str:
    from geodesk_spark.operators.geometry_ops import (
        kgon_offsets,
        sample_points_in_polygons_sql,
    )

    offs = kgon_offsets(SAMPLE_POLY_R, 8)
    vals = ",".join(f"({j},{ox},{oy})" for j, (ox, oy) in enumerate(offs))
    rings = f"""
      select p as poly_id, j as seq,
             (p * 48271) % 60001 - 30000 + ox as x,
             (p * 69621) % 60001 - 30000 + oy as y
      from (select distinct o_orderkey % {SAMPLE_POLY_N} as p from orders) t
      cross join (values {vals}) o(j, ox, oy)"""
    return sample_points_in_polygons_sql(rings, k=SAMPLE_POLY_K)


def _q_crop_boxes(spark, sf_dir):
    """Detection random-crop augmentation (images.crop_boxes): one
    seeded 3/4-size crop per image, boxes clipped + shifted, dropped
    under 1/4 visibility by the cross-multiplied exact test — epoch
    geometry reproducible bit-for-bit."""
    from geodesk_spark.operators import images

    ids = (
        tables.load_spread(spark, sf_dir, "orders")
        .select((F.col("o_orderkey") % SLICE_IMAGES).alias("image_id"))
        .distinct()
    )
    imgs = ids.select(
        "image_id",
        (F.lit(640) + (F.col("image_id") % 5) * 224).alias("w"),
        (F.lit(512) + (F.col("image_id") % 7) * 160).alias("h"),
    )
    b = tables.with_derived_boxes(
        tables.load_spread(spark, sf_dir, "orders"), "o_orderkey"
    )
    boxes = b.select(
        (F.col("o_orderkey") % SLICE_IMAGES).alias("image_id"),
        F.col("o_orderkey").alias("box_id"),
        ((F.col("o_orderkey") * 7919) % 100000).alias("score"),
        (F.pmod(F.col("minx"), F.lit(500))).cast("long").alias("minx"),
        (F.pmod(F.col("miny"), F.lit(400))).cast("long").alias("miny"),
        (F.pmod(F.col("minx"), F.lit(500)) + 1 + F.pmod(F.col("maxx"), F.lit(100)))
        .cast("long")
        .alias("maxx"),
        (F.pmod(F.col("miny"), F.lit(400)) + 1 + F.pmod(F.col("maxy"), F.lit(100)))
        .cast("long")
        .alias("maxy"),
    )
    return images.crop_boxes(imgs, boxes)


def _crop_boxes_sql() -> str:
    from geodesk_spark.operators import images

    dx, dy = tables.half_extent_exprs("o_orderkey")
    box = tables.box_exprs("x", "y", "dx", "dy")
    imgs_rel = f"""select image_id,
             640 + (image_id % 5) * 224 as w,
             512 + (image_id % 7) * 160 as h
      from (select distinct o_orderkey % {SLICE_IMAGES} as image_id from orders) t"""
    pm = lambda e, m: f"((({e}) % {m} + {m}) % {m})"
    boxes_rel = f"""
      with pts as ({{derived}}),
      ext as (select o_orderkey, x, y, {dx} as dx, {dy} as dy from pts),
      bx0 as (select o_orderkey % {SLICE_IMAGES} as image_id,
                     o_orderkey as box_id,
                     (o_orderkey * 7919) % 100000 as score,
                     {box['minx']} as rminx, {box['miny']} as rminy,
                     {box['maxx']} as rmaxx, {box['maxy']} as rmaxy
              from ext)
      select image_id, box_id, score,
             {pm('rminx', 500)} as minx,
             {pm('rminy', 400)} as miny,
             {pm('rminx', 500)} + 1 + {pm('rmaxx', 100)} as maxx,
             {pm('rminy', 400)} + 1 + {pm('rmaxy', 100)} as maxy
      from bx0"""
    return images.crop_boxes_sql(imgs_rel, boxes_rel)


CHAIKIN_ROUNDS = 2


def _q_chaikin(spark, sf_dir):
    """Chaikin corner-cut smoothing (geometry_ops.chaikin_smooth): two
    rounds of exact-quarter B-spline refinement over the same synthetic
    polylines DP simplifies — the generalization pair's other half;
    sign-safe offset floor division keeps both engines bit-identical."""
    from geodesk_spark.operators import geometry_ops

    o = tables.load_spread(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    verts = o.select(
        (k % 100).alias("line_id"),
        k.alias("seq"),
        ((k * 48271) % 60001 - 30000).alias("x"),
        ((k * 69621) % 60001 - 30000).alias("y"),
    )
    return geometry_ops.chaikin_smooth(verts, rounds=CHAIKIN_ROUNDS)


def _chaikin_sql() -> str:
    from geodesk_spark.operators import geometry_ops

    return geometry_ops.chaikin_smooth_sql(_DP_VERTS_SQL, rounds=CHAIKIN_ROUNDS)


def _q_box_area(spark, sf_dir):
    """area() m² (StoredFeature.java:473-479, Mercator.java:256-264) over
    the packed-geometry column; oracle mirrors the shoelace + centroid
    scale² kernel op-for-op (cosh via mercator.det_exp, bit-identical on
    every engine build).  Output floor-form-quantized at 2 dp per the
    float-OUTPUT law (r01/r03 driver-red insurance)."""
    from geodesk_spark.operators import geometry_ops

    feats = _box_features(spark, sf_dir)
    q2 = F.floor(F.col("area_m2") * 1e2 + 0.5).cast("double") / 1e2
    return geometry_ops.with_length_area(feats).select("fid", q2.alias("area_m2"))


def _sql_box_area() -> str:
    # shoelace terms in numpy's sequential order: xs[:-1]*ys[1:] - xs[1:]*ys[:-1]
    # for ring [(x1,y1),(x2,y1),(x2,y2),(x1,y2),(x1,y1)]
    d = lambda c: f"cast({c} as double)"
    t1 = f"({d('minx')} * {d('miny')} - {d('maxx')} * {d('miny')})"
    t2 = f"({d('maxx')} * {d('maxy')} - {d('maxx')} * {d('miny')})"
    t3 = f"({d('maxx')} * {d('maxy')} - {d('minx')} * {d('maxy')})"
    t4 = f"({d('minx')} * {d('miny')} - {d('minx')} * {d('maxy')})"
    a2 = f"((({t1} + {t2}) + {t3}) + {t4})"
    cy = f"(((({d('miny')} + {d('miny')}) + {d('maxy')}) + {d('maxy')}) / 4.0)"
    # Bind t to a CTE column: det_cosh_sql textually repeats its argument.
    s_ = f"({EC!r} / {W!r} / {mercator.det_cosh_sql('t')})"
    return f"""
      with boxes as ({_box_sql_base()}),
      c as (select fid, {a2} as a2, ({cy} * 2 * pi() / {W!r}) as t from boxes),
      a as (select fid, case when abs(a2) / 2.0 = 0 then 0.0
                             else (abs(a2) / 2.0) * {s_} * {s_} end as area_m2
            from c)
      select fid, cast(floor(area_m2 * 1e2 + 0.5) as double) / 1e2 as area_m2
      from a
    """


def _line_pred_query(pred: str):
    def q(spark, sf_dir):
        from geodesk_spark.operators import predicates

        feats = _segment_features(spark, sf_dir)
        prepared = [spatial_join.prepare_polygon("rect", pip.pack_rings([RECT_RING]))]
        return predicates.spatial_predicate_join(feats, prepared, pred, keep_cols=["fid"]).select(
            "fid", "poly_id"
        )

    q.__doc__ = f"{pred} predicate join (filter/*.java) for line features vs the rect polygon."
    return q


def _rect_ring(rect) -> np.ndarray:
    rx0, ry0, rx1, ry1 = rect
    return np.array(
        [[rx0, ry0], [rx1, ry0], [rx1, ry1], [rx0, ry1], [rx0, ry0]], dtype=np.float64
    )


def _box_pred_query(pred: str, rect=None):
    def q(spark, sf_dir):
        from geodesk_spark.operators import predicates

        r = rect or RECT
        feats = _box_features(spark, sf_dir)
        prepared = [spatial_join.prepare_polygon("rect", pip.pack_rings([_rect_ring(r)]))]
        return predicates.spatial_predicate_join(feats, prepared, pred, keep_cols=["fid"]).select(
            "fid", "poly_id"
        )

    q.__doc__ = f"{pred} predicate join for axis-aligned polygon features vs the rect."
    return q


def _seg_sat(strict: bool) -> str:
    """Separating-axis test for segment vs the rect (closed or open form)."""
    rx0, ry0, rx1, ry1 = RECT
    lt, gt = ("<", ">") if strict else ("<=", ">=")
    n_proj = lambda X, Y: f"((y1 - y2) * ({X}) + (x2 - x1) * ({Y}))"
    corners = [n_proj(rx0, ry0), n_proj(rx1, ry0), n_proj(rx1, ry1), n_proj(rx0, ry1)]
    c = "((y1 - y2) * x1 + (x2 - x1) * y1)"
    return (
        f"least(x1, x2) {lt} {rx1} and greatest(x1, x2) {gt} {rx0}"
        f" and least(y1, y2) {lt} {ry1} and greatest(y1, y2) {gt} {ry0}"
        f" and least({', '.join(corners)}) {lt} {c}"
        f" and greatest({', '.join(corners)}) {gt} {c}"
    )


def _seg_contained() -> str:
    rx0, ry0, rx1, ry1 = RECT
    return (
        f"least(x1, x2) >= {rx0} and greatest(x1, x2) <= {rx1}"
        f" and least(y1, y2) >= {ry0} and greatest(y1, y2) <= {ry1}"
    )


def _sql_line_crosses() -> str:
    # crosses = interior intersection (strict SAT) while part of the
    # segment stays outside (not contained in the closed rect).
    return f"""
      with segs as ({_seg_sql_base()})
      select fid, 'rect' as poly_id from segs
      where ({_seg_sat(True)}) and not ({_seg_contained()})
    """


def _sql_line_coveredby() -> str:
    # coveredBy a convex rect = bbox containment (on-edge segments count,
    # unlike within).
    return f"""
      with segs as ({_seg_sql_base()})
      select fid, 'rect' as poly_id from segs
      where {_seg_contained()}
    """


def _sql_line_disjoint() -> str:
    return f"""
      with segs as ({_seg_sql_base()})
      select fid, 'rect' as poly_id from segs
      where not ({_seg_sat(False)})
    """


def _q_line_touches(spark, sf_dir):
    """touching (TouchesFilter.java:28-57): segments built to end exactly ON
    the rect's left edge line from outside — touch iff the endpoint lies
    within the edge's y-range."""
    rx0 = RECT[0]
    df = tables.with_derived_points(tables.load_spread(spark, sf_dir, "orders"), "o_orderkey")
    ddx, ddy = tables.segment_delta_exprs("o_orderkey")
    lo, hi = -(1 << 31), (1 << 31) - 1
    segs = df.select(
        F.col("o_orderkey").alias("fid"),
        F.expr(f"{rx0} - 1 - abs({ddx})").alias("x1"),
        F.col("y").alias("y1"),
        F.lit(rx0).alias("x2"),
        F.expr(f"least(greatest(y + ({ddy}), {lo}), {hi})").alias("y2"),
    )
    from geodesk_spark.operators import predicates

    prepared = [spatial_join.prepare_polygon("rect", pip.pack_rings([RECT_RING]))]
    return predicates.spatial_predicate_join(
        _pack_line_features(segs), prepared, "touches", keep_cols=["fid"]
    ).select("fid", "poly_id")


def _sql_line_touches() -> str:
    rx0, ry0, rx1, ry1 = RECT
    _, ddy = tables.segment_delta_exprs("o_orderkey")
    return f"""
      with pts as ({_DERIVED_SQL}),
      segs as (select o_orderkey as fid,
                      least(greatest(y + ({ddy}), {-(1 << 31)}), {(1 << 31) - 1}) as y2
               from pts)
      select fid, 'rect' as poly_id from segs
      where y2 between {ry0} and {ry1}
    """


SMALL_RECT = (
    CAIRO_XY[0] - (1 << 23),
    CAIRO_XY[1] - (1 << 22),
    CAIRO_XY[0] + (1 << 23),
    CAIRO_XY[1] + (1 << 22),
)


def _sql_box_pred(pred: str, rect=None) -> str:
    rx0, ry0, rx1, ry1 = rect or RECT
    b_in_r = f"(minx >= {rx0} and maxx <= {rx1} and miny >= {ry0} and maxy <= {ry1})"
    r_in_b = f"({rx0} >= minx and {rx1} <= maxx and {ry0} >= miny and {ry1} <= maxy)"
    overlap = f"(minx <= {rx1} and maxx >= {rx0} and miny <= {ry1} and maxy >= {ry0})"
    strict = f"(minx < {rx1} and maxx > {rx0} and miny < {ry1} and maxy > {ry0})"
    # kernel `contains` needs a rect vertex STRICTLY inside the box
    corner_strict = " or ".join(
        f"(minx < {cx} and {cx} < maxx and miny < {cy} and {cy} < maxy)"
        for cx, cy in [(rx0, ry0), (rx1, ry0), (rx1, ry1), (rx0, ry1)]
    )
    conds = {
        "intersects": overlap,
        "within": b_in_r,
        "contains": f"{r_in_b} and ({corner_strict})",
        "overlaps": f"{strict} and not {b_in_r} and not ({r_in_b} and ({corner_strict}))",
    }
    return f"""
      with box as ({_box_sql_base()})
      select fid, 'rect' as poly_id from box
      where {conds[pred]}
    """




SOBEL_GRID_BITS = 7


def _q_sobel_energy(spark, sf_dir):
    """Sobel gradient energy of the order-point density raster
    (tiles_sink.sobel_edge_energy): both 3x3 gradients from ONE
    stencil-scatter pass, exact integer g2 = Gx^2 + Gy^2 -- the edge
    layer between blur and vectorize in the raster pipeline."""
    from geodesk_spark.operators import tiles_sink

    df = _derived_orders(spark, sf_dir)
    pix = tiles_sink.grid_counts(df, grid_bits=SOBEL_GRID_BITS)
    return tiles_sink.sobel_edge_energy(pix)


# taps at SOURCE offsets (scatter form): out(q) += w * n(q - d) -> n at p
# lands on p + d with weight w; (dx, dy, wx, wy) per distinct offset.
_SOBEL_TAPS = "(1,1,-1,-1),(1,0,-2,0),(1,-1,-1,1),(-1,1,1,-1),(-1,0,2,0),(-1,-1,1,1),(0,1,0,-2),(0,-1,0,2)"


_SQL_SOBEL = f"""
  with pts as ({{derived}}),
  pix as (select cast(floor((x + 2147483648) / {1 << (32 - SOBEL_GRID_BITS)}) as bigint) as gx,
                 cast(floor((2147483647 - y) / {1 << (32 - SOBEL_GRID_BITS)}) as bigint) as gy,
                 count(*) as n
          from pts group by 1, 2),
  taps(dx, dy, wx, wy) as (values {_SOBEL_TAPS}),
  sc as (select gx + dx as gx, gy + dy as gy, n * wx as vx, n * wy as vy
         from pix cross join taps),
  g as (select gx, gy, sum(vx) as gxs, sum(vy) as gys from sc group by 1, 2)
  select gx, gy, cast(gxs * gxs + gys * gys as bigint) as g2 from g
"""


TERRAIN_GRID_BITS = 7


TERRAIN_CELL = 4.0


def _q_terrain_hillshade(spark, sf_dir):
    """Horn slope / aspect / hillshade over the order-point density-DEM
    (terrain.slope_aspect_hillshade): integer Sobel/Horn gradients from
    ONE stencil scatter, aspect via det_atan2 on the integer gradients,
    sun constants host-side — the terrain-derivative layer of the
    raster pipeline, floor-quantized at 1e6 per the float-output law."""
    from geodesk_spark.operators import terrain, tiles_sink

    df = _derived_orders(spark, sf_dir)
    pix = tiles_sink.grid_counts(df, grid_bits=TERRAIN_GRID_BITS)
    return terrain.slope_aspect_hillshade(pix, cell=TERRAIN_CELL)


def _terrain_sql() -> str:
    from geodesk_spark.operators import terrain

    step = 1 << (32 - TERRAIN_GRID_BITS)
    pix_rel = f"""select cast(floor((x + 2147483648) / {step}) as bigint) as gx,
                 cast(floor((2147483647 - y) / {step}) as bigint) as gy,
                 count(*) as n
          from ({_DERIVED_SQL}) pts group by 1, 2"""
    return terrain.slope_aspect_hillshade_sql(pix_rel, cell=TERRAIN_CELL)


VS_RADIUS = 10


VS_HEIGHT = 40


def _vs_observer() -> tuple[int, int]:
    step = 1 << (32 - TERRAIN_GRID_BITS)
    return (CAIRO_XY[0] + (1 << 31)) // step, ((1 << 31) - 1 - CAIRO_XY[1]) // step


def _q_viewshed(spark, sf_dir):
    """Viewshed over the order-density DEM (terrain.viewshed): exact
    integer line-of-sight — shared-parameter ray samples make the
    blocking test a pure integer cross-multiplication, zero trig/
    division; two shuffles (sample join + target rollup)."""
    from geodesk_spark.operators import terrain, tiles_sink

    df = _derived_orders(spark, sf_dir)
    pix = tiles_sink.grid_counts(df, grid_bits=TERRAIN_GRID_BITS)
    ox, oy = _vs_observer()
    return terrain.viewshed(pix, ox, oy, VS_HEIGHT, VS_RADIUS)


def _viewshed_sql() -> str:
    from geodesk_spark.operators import terrain

    step = 1 << (32 - TERRAIN_GRID_BITS)
    pix_rel = f"""select cast(floor((x + 2147483648) / {step}) as bigint) as gx,
                 cast(floor((2147483647 - y) / {step}) as bigint) as gy,
                 count(*) as n
          from ({_DERIVED_SQL}) pts group by 1, 2"""
    ox, oy = _vs_observer()
    return terrain.viewshed_sql(pix_rel, ox, oy, VS_HEIGHT, VS_RADIUS)


CD_ROUNDS = 10


def _q_cost_distance(spark, sf_dir):
    """Cost-distance spreading (terrain.cost_distance): minimum
    accumulated friction from the observer cell over the 8-neighbor
    grid — integer chamfer weights (5/7 ≈ 1/√2 scale) through the
    bounded-round SSSP machinery; all integers, exact minima."""
    from geodesk_spark.operators import terrain, tiles_sink

    df = _derived_orders(spark, sf_dir)
    pix = tiles_sink.grid_counts(df, grid_bits=TERRAIN_GRID_BITS)
    return terrain.cost_distance(pix, [_vs_observer()], rounds=CD_ROUNDS)


def _cost_distance_sql() -> str:
    from geodesk_spark.operators import terrain

    step = 1 << (32 - TERRAIN_GRID_BITS)
    pix_rel = f"""select cast(floor((x + 2147483648) / {step}) as bigint) as gx,
                 cast(floor((2147483647 - y) / {step}) as bigint) as gy,
                 count(*) as n
          from ({_DERIVED_SQL}) pts group by 1, 2"""
    return terrain.cost_distance_sql(pix_rel, [_vs_observer()], rounds=CD_ROUNDS)


FLOW_ROUNDS = 8


def _q_flow_accumulation(spark, sf_dir):
    """D8 flow accumulation over the order-density DEM
    (terrain.d8_flow_direction + flow_accumulation): steepest-descent
    drains by exact cross-multiplied integer drops (chamfer 5/7 move
    lengths), then the bounded-round upstream count — the hydrology
    pair, all integer arithmetic, one join + rollup per round with
    checkpointed lineage."""
    from geodesk_spark.operators import terrain, tiles_sink

    df = _derived_orders(spark, sf_dir)
    pix = tiles_sink.grid_counts(df, grid_bits=TERRAIN_GRID_BITS)
    return terrain.flow_accumulation(pix, rounds=FLOW_ROUNDS)


def _flow_accumulation_sql() -> str:
    from geodesk_spark.operators import terrain

    step = 1 << (32 - TERRAIN_GRID_BITS)
    pix_rel = f"""select cast(floor((x + 2147483648) / {step}) as bigint) as gx,
                 cast(floor((2147483647 - y) / {step}) as bigint) as gy,
                 count(*) as n
          from ({_DERIVED_SQL}) pts group by 1, 2"""
    return terrain.flow_accumulation_sql(pix_rel, rounds=FLOW_ROUNDS)


WATERSHED_ROUNDS = 6


def _q_watershed(spark, sf_dir):
    """Watershed basin labeling over the order-density DEM
    (terrain.watershed_basins): D8 steepest-descent pointers contracted
    by pointer doubling — 6 rounds resolve flow paths up to 64 cells —
    so every cell carries its terminal (sink / border-outflow) cell as
    the basin id.  All integer, one self-join per round."""
    from geodesk_spark.operators import terrain, tiles_sink

    df = _derived_orders(spark, sf_dir)
    pix = tiles_sink.grid_counts(df, grid_bits=TERRAIN_GRID_BITS)
    return terrain.watershed_basins(pix, rounds=WATERSHED_ROUNDS)


def _watershed_sql() -> str:
    from geodesk_spark.operators import terrain

    step = 1 << (32 - TERRAIN_GRID_BITS)
    pix_rel = f"""select cast(floor((x + 2147483648) / {step}) as bigint) as gx,
                 cast(floor((2147483647 - y) / {step}) as bigint) as gy,
                 count(*) as n
          from ({_DERIVED_SQL}) pts group by 1, 2"""
    return terrain.watershed_basins_sql(pix_rel, rounds=WATERSHED_ROUNDS)


MORPH_GRID_BITS = 8


def _q_morphology_close(spark, sf_dir):
    """Morphological closing of the order-density mask
    (tiles_sink.morphology_mask): cells with ≥1 point dilate then erode
    with the 3×3 box — pinholes inside dense regions fill, support
    edges survive unchanged; two scatter+rollup passes, all integer."""
    from geodesk_spark.operators import tiles_sink

    df = _derived_orders(spark, sf_dir)
    pix = tiles_sink.grid_counts(df, grid_bits=MORPH_GRID_BITS)
    return tiles_sink.morphology_mask(pix, op="close", radius=1)


def _morphology_close_sql() -> str:
    from geodesk_spark.operators import tiles_sink

    step = 1 << (32 - MORPH_GRID_BITS)
    mask_rel = f"""select cast(floor((x + 2147483648) / {step}) as bigint) as gx,
                 cast(floor((2147483647 - y) / {step}) as bigint) as gy
          from ({_DERIVED_SQL}) pts"""
    return tiles_sink.morphology_mask_sql(mask_rel, op="close", radius=1)


BLOB_GRID_BITS = 10


def _q_raster_blobs(spark, sf_dir):
    """Blob (connected-component) labeling of the order-density mask at
    a fine grid (tiles_sink.label_blobs): 8-connected patches resolve by
    star contraction, per-blob size + bbox — island/patch detection on
    rasters, the raster twin of vision's CCL."""
    from geodesk_spark.operators import tiles_sink

    df = _derived_orders(spark, sf_dir)
    pix = tiles_sink.grid_counts(df, grid_bits=BLOB_GRID_BITS)
    return tiles_sink.label_blobs(pix, connectivity=8)


def _raster_blobs_sql() -> str:
    from geodesk_spark.operators import tiles_sink

    step = 1 << (32 - BLOB_GRID_BITS)
    mask_rel = f"""select cast(floor((x + 2147483648) / {step}) as bigint) as gx,
                 cast(floor((2147483647 - y) / {step}) as bigint) as gy
          from ({_DERIVED_SQL}) pts"""
    return tiles_sink.label_blobs_sql(mask_rel, connectivity=8)


KDE_GRID_BITS = 7


KDE_RADIUS = 3


def _q_kde_heatmap(spark, sf_dir):
    """Epanechnikov KDE heatmap (tiles_sink.kde_heatmap_counts) of the
    order-point raster: circular-support rational kernel, so every
    weight is an exact integer (center r^2+1, rim 1) and the density
    raster is bit-identical across partitionings and engines."""
    from geodesk_spark.operators import tiles_sink

    df = _derived_orders(spark, sf_dir)
    pix = tiles_sink.grid_counts(df, grid_bits=KDE_GRID_BITS)
    return tiles_sink.kde_heatmap_counts(pix, radius=KDE_RADIUS)


_KDE_W = f"{KDE_RADIUS * KDE_RADIUS + 1} - dxs.v * dxs.v - dys.v * dys.v"


_SQL_KDE = f"""
  with pts as ({{derived}}),
  pix as (select cast(floor((x + 2147483648) / {1 << (32 - KDE_GRID_BITS)}) as bigint) as gx,
                 cast(floor((2147483647 - y) / {1 << (32 - KDE_GRID_BITS)}) as bigint) as gy,
                 count(*) as n
          from pts group by 1, 2),
  offs as (select dxs.v as dx, dys.v as dy, {_KDE_W} as w
           from (select unnest(generate_series(-{KDE_RADIUS}, {KDE_RADIUS})) as v) dxs
           cross join (select unnest(generate_series(-{KDE_RADIUS}, {KDE_RADIUS})) as v) dys
           where {_KDE_W} > 0)
  select gx + dx as gx, gy + dy as gy, cast(sum(n * w) as bigint) as density
  from pix cross join offs group by 1, 2
"""


HULL_GRID_BITS = 5


def _q_convex_hulls(spark, sf_dir):
    """Per-cell convex hulls (geometry_ops.convex_hull_by_group): Andrew
    monotone chain per z5 cell of the derived order points -- strict
    turns, exact python-int cross products.  The oracle re-derives the
    same vertex SET the independent way: p is a hull vertex iff some
    other point q has ALL remaining points strictly left of p->q
    (O(n^3) per group, hugeint-exact), plus singleton groups whole."""
    from geodesk_spark.operators.geometry_ops import convex_hull_by_group

    df = _derived_orders(spark, sf_dir)
    sub = 32 - HULL_GRID_BITS
    side = 1 << HULL_GRID_BITS
    pts = df.select(
        (
            F.shiftright(F.col("x").cast("bigint") + (1 << 31), sub) * side
            + F.shiftright(F.lit((1 << 31) - 1) - F.col("y").cast("bigint"), sub)
        ).alias("gid"),
        "x",
        "y",
    )
    return convex_hull_by_group(pts, group_col="gid").select("gid", "x", "y")


def _convex_hulls_sql() -> str:
    sub = 1 << (32 - HULL_GRID_BITS)
    side = 1 << HULL_GRID_BITS
    return f"""
      with pts as ({{derived}}),
      d as (select distinct
              cast(floor((x + 2147483648) / {sub}) as bigint) * {side}
                + cast(floor((2147483647 - y) / {sub}) as bigint) as gid,
              x, y
            from pts),
      verts as (
        select distinct a.gid, a.x, a.y
        from d a join d b
          on a.gid = b.gid and (a.x <> b.x or a.y <> b.y)
        where not exists (
          select 1 from d c
          where c.gid = a.gid
            and (c.x <> a.x or c.y <> a.y)
            and (c.x <> b.x or c.y <> b.y)
            and cast(b.x - a.x as hugeint) * (c.y - a.y)
                - cast(b.y - a.y as hugeint) * (c.x - a.x) <= 0)),
      singles as (select gid, min(x) as x, min(y) as y
                  from d group by gid having count(*) = 1)
      select gid, x, y from verts
      union all
      select gid, x, y from singles
    """


NMS_ZOOM = 6
NMS_K = 10
NMS_NUM, NMS_DEN = 1, 2  # IoU threshold num/den — exact rational test


def _q_nms_boxes(spark, sf_dir):
    """Greedy per-image NMS (images.nms_boxes) over derived detection
    boxes: score-ordered suppression with an EXACT integer IoU test
    (den*inter >= num*union, python-int kernel / hugeint oracle) --
    the pseudo-label curation step, bit-identical across engines."""
    from geodesk_spark.operators import images

    b = tables.with_derived_boxes(
        tables.load_spread(spark, sf_dir, "orders"), "o_orderkey"
    )
    boxes = b.select(
        T.tile_col(F.col("x"), F.col("y"), NMS_ZOOM).cast("bigint").alias("image_id"),
        F.col("o_orderkey").alias("box_id"),
        ((F.col("o_orderkey") * 7919) % 100000).alias("score"),
        "minx",
        "miny",
        "maxx",
        "maxy",
    )
    return images.nms_boxes(boxes, NMS_NUM, NMS_DEN, NMS_K)


def _nms_sql() -> str:
    dx, dy = tables.half_extent_exprs("o_orderkey")
    box = tables.box_exprs("x", "y", "dx", "dy")
    inter = (
        "cast(greatest(least(c.maxx, p.maxx) - greatest(c.minx, p.minx), 0) as hugeint)"
        " * cast(greatest(least(c.maxy, p.maxy) - greatest(c.miny, p.miny), 0) as hugeint)"
    )
    sup = f"""({NMS_DEN} * ({inter})
       >= {NMS_NUM} * (cast(c.maxx - c.minx as hugeint) * cast(c.maxy - c.miny as hugeint)
                     + cast(p.maxx - p.minx as hugeint) * cast(p.maxy - p.miny as hugeint)
                     - ({inter})))"""
    # unrolled greedy chain (the map_match Viterbi trick): level i adds
    # the rank-i box iff no already-kept box suppresses it; every level
    # is MATERIALIZED -- each is referenced twice and the binder would
    # otherwise re-expand the chain exponentially (CLAUDE.md law)
    levels = ["k1 as materialized (select * from cand where rk = 1)"]
    for i in range(2, NMS_K + 1):
        levels.append(
            f"""k{i} as materialized (
        select * from k{i - 1}
        union all
        select c.* from cand c
        where c.rk = {i} and not exists (
          select 1 from k{i - 1} p
          where p.image_id = c.image_id and {sup}))"""
        )
    chain = ",\n      ".join(levels)
    return f"""
      with pts as ({{derived}}),
      ext as (select o_orderkey, x, y, {dx} as dx, {dy} as dy from pts),
      bx as (select {tile_expr('x', 'y', NMS_ZOOM)} as image_id,
                    o_orderkey as box_id,
                    (o_orderkey * 7919) % 100000 as score,
                    {box['minx']} as minx, {box['miny']} as miny,
                    {box['maxx']} as maxx, {box['maxy']} as maxy
             from ext),
      cand as materialized (
        select * from (
          select image_id, box_id, score, minx, miny, maxx, maxy,
                 row_number() over (partition by image_id
                                    order by score desc, box_id) as rk
          from bx) t
        where rk <= {NMS_K}),
      {chain}
      select c.image_id, c.box_id, c.score, c.minx, c.miny, c.maxx, c.maxy,
             cast(c.rk as int) as rk,
             exists (select 1 from k{NMS_K} p
                     where p.image_id = c.image_id and p.box_id = c.box_id) as kept
      from cand c
    """


SLICE_TILE, SLICE_STRIDE = 512, 448
SLICE_IMAGES = 400
SLICE_K = 12
_M31 = 2147483648


def _q_slice_detect_nms(spark, sf_dir):
    """SAHI-style sliced detection pipeline (images.slice_grid +
    nms_boxes): large images explode into overlapping tile windows, a
    deterministic stand-in detector emits per-slice boxes (MINSTD LCG
    of the slice key — the honest fake for model inference, keeping the
    remap + suppression plumbing real), slice-local boxes remap to
    GLOBAL pixel coords clipped to their window, and one greedy
    integer-IoU NMS per image fuses the overlap duplicates — the
    slicing inference recipe (Akyon et al. 2022) as one declarative
    plan.  ≤ slices²·3 boxes per image, applyInPandas only at the
    final per-image K² suppression."""
    from geodesk_spark.operators import images

    ids = (
        tables.load_spread(spark, sf_dir, "orders")
        .select((F.col("o_orderkey") % SLICE_IMAGES).alias("image_id"))
        .distinct()
    )
    imgs = ids.select(
        "image_id",
        (F.lit(640) + (F.col("image_id") % 5) * 224).alias("w"),
        (F.lit(512) + (F.col("image_id") % 7) * 160).alias("h"),
    )
    sl = images.slice_grid(imgs, SLICE_TILE, SLICE_STRIDE)
    det = sl.select(
        "*", F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j")
    )
    b = (
        F.col("image_id") * 1009
        + F.col("six") * 101
        + F.col("siy") * 211
        + F.col("j") * 9973
    ) % F.lit(_M31)
    det = det.withColumn("_a1", (b * 48271) % F.lit(_M31))
    det = det.withColumn("_a2", (F.col("_a1") * 48271) % F.lit(_M31))
    det = det.withColumn("_a3", (F.col("_a2") * 48271) % F.lit(_M31))
    lx = F.col("_a1") % F.greatest(F.col("sw") - 32, F.lit(1))
    ly = F.col("_a2") % F.greatest(F.col("sh") - 32, F.lit(1))
    bw = F.lit(24) + F.col("_a1") % 120
    bh = F.lit(24) + F.col("_a2") % 120
    boxes = det.select(
        F.col("image_id").cast("long").alias("image_id"),
        ((F.col("six") * 100 + F.col("siy")) * 10 + F.col("j"))
        .cast("long")
        .alias("box_id"),
        (F.col("_a3") % 100000).cast("long").alias("score"),
        (F.col("sx") + lx).cast("long").alias("minx"),
        (F.col("sy") + ly).cast("long").alias("miny"),
        (F.col("sx") + F.least(lx + bw, F.col("sw"))).cast("long").alias("maxx"),
        (F.col("sy") + F.least(ly + bh, F.col("sh"))).cast("long").alias("maxy"),
    )
    return images.nms_boxes(boxes, NMS_NUM, NMS_DEN, SLICE_K)


def _slice_detect_nms_sql() -> str:
    from geodesk_spark.operators import images

    imgs_rel = f"""select image_id,
             640 + (image_id % 5) * 224 as w,
             512 + (image_id % 7) * 160 as h
      from (select distinct o_orderkey % {SLICE_IMAGES} as image_id from orders) t"""
    slices = images.slice_grid_sql(imgs_rel, SLICE_TILE, SLICE_STRIDE)
    cand = f"""
      with sl as ({slices}),
      det as (select sl.*, j,
                ((image_id * 1009 + six * 101 + siy * 211 + j * 9973) % {_M31}
                 * 48271) % {_M31} as a1
              from sl cross join (values (1),(2),(3)) jj(j)),
      det2 as (select *, (a1 * 48271) % {_M31} as a2 from det),
      det3 as (select *, (a2 * 48271) % {_M31} as a3 from det2),
      bx as (select
               cast(image_id as bigint) as image_id,
               cast((six * 100 + siy) * 10 + j as bigint) as box_id,
               cast(a3 % 100000 as bigint) as score,
               cast(sx + a1 % greatest(sw - 32, 1) as bigint) as minx,
               cast(sy + a2 % greatest(sh - 32, 1) as bigint) as miny,
               cast(sx + least(a1 % greatest(sw - 32, 1) + 24 + a1 % 120, sw)
                    as bigint) as maxx,
               cast(sy + least(a2 % greatest(sh - 32, 1) + 24 + a2 % 120, sh)
                    as bigint) as maxy
             from det3)
      select * from bx"""
    return images.nms_boxes_sql(cand, NMS_NUM, NMS_DEN, SLICE_K)


LETTERBOX_OUT = 640


def _q_letterbox_boxes(spark, sf_dir):
    """Letterbox label remap (images.letterbox_boxes): derived detection
    boxes land on the out×out training canvas through the exact integer
    rational out/max(w,h) + symmetric padding — supervision stays
    aligned with the letterboxed tensor, bit-identically."""
    from geodesk_spark.operators import images

    ids = (
        tables.load_spread(spark, sf_dir, "orders")
        .select((F.col("o_orderkey") % SLICE_IMAGES).alias("image_id"))
        .distinct()
    )
    imgs = ids.select(
        "image_id",
        (F.lit(640) + (F.col("image_id") % 5) * 224).alias("w"),
        (F.lit(512) + (F.col("image_id") % 7) * 160).alias("h"),
    )
    b = tables.with_derived_boxes(
        tables.load_spread(spark, sf_dir, "orders"), "o_orderkey"
    )
    boxes = b.select(
        (F.col("o_orderkey") % SLICE_IMAGES).alias("image_id"),
        F.col("o_orderkey").alias("box_id"),
        # derived imp boxes are world-sized: fold into plausible pixel
        # coords (nonneg, < dim) with pure integer mods
        (F.pmod(F.col("minx"), F.lit(500))).cast("long").alias("minx"),
        (F.pmod(F.col("miny"), F.lit(400))).cast("long").alias("miny"),
        (F.pmod(F.col("minx"), F.lit(500)) + 1 + F.pmod(F.col("maxx"), F.lit(100)))
        .cast("long")
        .alias("maxx"),
        (F.pmod(F.col("miny"), F.lit(400)) + 1 + F.pmod(F.col("maxy"), F.lit(100)))
        .cast("long")
        .alias("maxy"),
    )
    return images.letterbox_boxes(imgs, boxes, out=LETTERBOX_OUT)


def _letterbox_boxes_sql() -> str:
    from geodesk_spark.operators import images

    dx, dy = tables.half_extent_exprs("o_orderkey")
    box = tables.box_exprs("x", "y", "dx", "dy")
    imgs_rel = f"""select image_id,
             640 + (image_id % 5) * 224 as w,
             512 + (image_id % 7) * 160 as h
      from (select distinct o_orderkey % {SLICE_IMAGES} as image_id from orders) t"""
    # DuckDB % on these nonneg-able values: mirror Spark pmod via ((a % m) + m) % m
    pm = lambda e, m: f"((({e}) % {m} + {m}) % {m})"
    boxes_rel = f"""
      with pts as ({{derived}}),
      ext as (select o_orderkey, x, y, {dx} as dx, {dy} as dy from pts),
      bx0 as (select o_orderkey % {SLICE_IMAGES} as image_id,
                     o_orderkey as box_id,
                     {box['minx']} as rminx, {box['miny']} as rminy,
                     {box['maxx']} as rmaxx, {box['maxy']} as rmaxy
              from ext)
      select image_id, box_id,
             {pm('rminx', 500)} as minx,
             {pm('rminy', 400)} as miny,
             {pm('rminx', 500)} + 1 + {pm('rmaxx', 100)} as maxx,
             {pm('rminy', 400)} + 1 + {pm('rmaxy', 100)} as maxy
      from bx0"""
    return images.letterbox_boxes_sql(imgs_rel, boxes_rel, out=LETTERBOX_OUT)


BUFFER_RADIUS_IMPS = 1 << 24
BUFFER_K = 8


def _q_buffer_hull_area(spark, sf_dir):
    """Minkowski buffer of per-cell hulls (geometry_ops.
    buffer_convex_by_group): hull -> vertex+k-gon-offset sums -> hull
    again -> exact shoelace area2.  The k-gon offsets are Python-side
    integer literals shared with the oracle, so no engine
    transcendental runs."""
    from geodesk_spark.operators.geometry_ops import (
        buffer_convex_by_group,
        convex_hull_by_group,
        ring_area2_by_group,
    )

    df = _derived_orders(spark, sf_dir)
    sub = 32 - HULL_GRID_BITS
    side = 1 << HULL_GRID_BITS
    pts = df.select(
        (
            F.shiftright(F.col("x").cast("bigint") + (1 << 31), sub) * side
            + F.shiftright(F.lit((1 << 31) - 1) - F.col("y").cast("bigint"), sub)
        ).alias("gid"),
        "x",
        "y",
    )
    h1 = convex_hull_by_group(pts, group_col="gid")
    buf = buffer_convex_by_group(h1, BUFFER_RADIUS_IMPS, BUFFER_K, group_col="gid")
    return ring_area2_by_group(buf, group_col="gid")


def _buffer_hull_area_sql() -> str:
    from geodesk_spark.operators.geometry_ops import kgon_offsets

    sub = 1 << (32 - HULL_GRID_BITS)
    side = 1 << HULL_GRID_BITS
    offs = ", ".join(
        f"({ox}, {oy})" for ox, oy in kgon_offsets(BUFFER_RADIUS_IMPS, BUFFER_K)
    )
    # extreme-point hull rule (a is a hull vertex iff some b has every
    # other c strictly left of a->b), applied twice; ring order without
    # atan2: half-plane split + exact-double cotangent sort keys
    return f"""
      with pts as ({{derived}}),
      d as (select distinct
              cast(floor((x + 2147483648) / {sub}) as bigint) * {side}
                + cast(floor((2147483647 - y) / {sub}) as bigint) as gid,
              x, y
            from pts),
      verts as (
        select distinct a.gid, a.x, a.y
        from d a join d b
          on a.gid = b.gid and (a.x <> b.x or a.y <> b.y)
        where not exists (
          select 1 from d c
          where c.gid = a.gid
            and (c.x <> a.x or c.y <> a.y)
            and (c.x <> b.x or c.y <> b.y)
            and cast(b.x - a.x as hugeint) * (c.y - a.y)
                - cast(b.y - a.y as hugeint) * (c.x - a.x) <= 0)),
      singles as (select gid, min(x) as x, min(y) as y
                  from d group by gid having count(*) = 1),
      h1 as (select gid, x, y from verts
             union all select gid, x, y from singles),
      offs(ox, oy) as (values {offs}),
      mk as (select distinct gid, x + ox as x, y + oy as y
             from h1 cross join offs),
      v2 as (
        select distinct a.gid, a.x, a.y
        from mk a join mk b
          on a.gid = b.gid and (a.x <> b.x or a.y <> b.y)
        where not exists (
          select 1 from mk c
          where c.gid = a.gid
            and (c.x <> a.x or c.y <> a.y)
            and (c.x <> b.x or c.y <> b.y)
            and cast(b.x - a.x as hugeint) * (c.y - a.y)
                - cast(b.y - a.y as hugeint) * (c.x - a.x) <= 0)),
      ctr as (select gid, count(*) as m, sum(x) as sx, sum(y) as sy
              from v2 group by gid),
      dirs as (select v2.gid, x, y,
                      x * m - sx as dx, y * m - sy as dy
               from v2 join ctr on ctr.gid = v2.gid),
      keyed as (select gid, x, y,
                       case when dy > 0 or (dy = 0 and dx > 0) then 0 else 1 end as half,
                       case when dy = 0 then -1e308
                            else -(cast(dx as double) / cast(dy as double)) end as k2
                from dirs),
      ring as (select gid, x, y,
                      row_number() over (partition by gid order by half, k2, x, y) as seq
               from keyed),
      cyc as (select gid, x, y,
                     coalesce(lead(x) over w, first_value(x) over w) as xn,
                     coalesce(lead(y) over w, first_value(y) over w) as yn
              from ring window w as (partition by gid order by seq))
      select gid, cast(count(*) as bigint) as nv,
             cast(cast(abs(sum(cast(x as hugeint) * yn - cast(xn as hugeint) * y))
                       as decimal(38,0)) as double) as area2
      from cyc group by gid
    """


CONTOUR_GRID_BITS = 7


CONTOUR_LEVEL = 2


def _q_contour_segments(spark, sf_dir):
    """Marching-squares isolines (tiles_sink.contour_segments) of the
    order-point density raster at threshold CONTOUR_LEVEL: the
    raster->vector contour layer (heatmap isolines) completing the
    pipeline blur -> edges -> boundary -> CONTOUR.  Endpoints are one
    IEEE division each ((t-v1)/(v2-v1)), so doubles hash identically
    across engines with no rounding."""
    from geodesk_spark.operators import tiles_sink

    df = _derived_orders(spark, sf_dir)
    pix = tiles_sink.grid_counts(df, grid_bits=CONTOUR_GRID_BITS)
    return tiles_sink.contour_segments(pix, level=CONTOUR_LEVEL)


# the 16-case table as VALUES rows (tl=1 tr=2 br=4 bl=8; edges 0=top
# 1=right 2=bottom 3=left; saddles 5/10 use the fixed two-segment rule)
_CONTOUR_CASES_SQL = (
    "(1,0,0,3),(2,0,0,1),(3,0,3,1),(4,0,1,2),(5,0,0,1),(5,1,2,3),"
    "(6,0,0,2),(7,0,3,2),(8,0,2,3),(9,0,0,2),(10,0,0,3),(10,1,1,2),"
    "(11,0,1,2),(12,0,1,3),(13,0,0,1),(14,0,0,3)"
)


def _contour_sql() -> str:
    lvl = f"{float(CONTOUR_LEVEL):.1f}"
    sub = 1 << (32 - CONTOUR_GRID_BITS)
    return f"""
      with pts as ({{derived}}),
      pix as (select cast(floor((x + 2147483648) / {sub}) as bigint) as gx,
                     cast(floor((2147483647 - y) / {sub}) as bigint) as gy,
                     count(*) as n
              from pts group by 1, 2),
      offs(tag, dx, dy) as (values ('tl',0,0),('tr',1,0),('bl',0,1),('br',1,1)),
      corners as (
        select gx - dx as bx, gy - dy as by,
               coalesce(max(case when tag = 'tl' then cast(n as double) end), 0.0) as tl,
               coalesce(max(case when tag = 'tr' then cast(n as double) end), 0.0) as tr,
               coalesce(max(case when tag = 'bl' then cast(n as double) end), 0.0) as bl,
               coalesce(max(case when tag = 'br' then cast(n as double) end), 0.0) as br
        from pix cross join offs group by 1, 2),
      c as (select *, cast(tl >= {lvl} as int) + cast(tr >= {lvl} as int) * 2
                    + cast(br >= {lvl} as int) * 4 + cast(bl >= {lvl} as int) * 8 as case_id
            from corners),
      segs(case_id, seg, e1, e2) as (values {_CONTOUR_CASES_SQL}),
      j as (select * from c join segs using (case_id))
      select cast(bx as bigint) as bx, cast(by as bigint) as by,
             cast(case_id as bigint) as case_id, cast(seg as bigint) as seg,
             case e1 when 0 then bx + ({lvl} - tl) / (tr - tl)
                     when 1 then bx + 1.0
                     when 2 then bx + ({lvl} - bl) / (br - bl)
                     else cast(bx as double) end as x1,
             case e1 when 0 then cast(by as double)
                     when 1 then by + ({lvl} - tr) / (br - tr)
                     when 2 then by + 1.0
                     else by + ({lvl} - tl) / (bl - tl) end as y1,
             case e2 when 0 then bx + ({lvl} - tl) / (tr - tl)
                     when 1 then bx + 1.0
                     when 2 then bx + ({lvl} - bl) / (br - bl)
                     else cast(bx as double) end as x2,
             case e2 when 0 then cast(by as double)
                     when 1 then by + ({lvl} - tr) / (br - tr)
                     when 2 then by + 1.0
                     else by + ({lvl} - tl) / (bl - tl) end as y2
      from j
    """


# ---- polygon×polygon overlay (operators/overlay.py) ------------------
# Small-coordinate deterministic fixtures: star octagons (subjects, from
# orders) × convex diamonds (zones, from nation) — all-integer vertices,
# exact as doubles in every engine.

def _ovl_subject_exprs() -> tuple[str, str, list[tuple[str, str]]]:
    cx = "((o_orderkey * 48271) % 60001 - 30000)"
    cy = "((o_orderkey * 69621) % 60001 - 30000)"
    verts = []
    for (sx, sy), p in zip(_OCT_DIRS, _OCT_PRIMES):
        r = f"(((o_orderkey * {p}) % 4096) + 2048)"
        vx = cx if sx == 0 else f"({cx} {'+' if sx > 0 else '-'} {r})"
        vy = cy if sy == 0 else f"({cy} {'+' if sy > 0 else '-'} {r})"
        verts.append((vx, vy))
    return cx, cy, verts


def _ovl_clip_exprs() -> list[tuple[str, str]]:
    cx = "((n_nationkey * 9973) % 50001 - 25000)"
    cy = "((n_nationkey * 7919) % 50001 - 25000)"
    w = "(6000 + (n_nationkey % 5) * 1500)"
    h = "(5000 + (n_nationkey % 4) * 1800)"
    return [
        (f"({cx} + {w})", cy),
        (cx, f"({cy} + {h})"),
        (f"({cx} - {w})", cy),
        (cx, f"({cy} - {h})"),
    ]


def _q_overlay_area(spark, sf_dir):
    """Polygon×polygon overlay intersection area (overlay.overlay_area):
    star-octagon subjects × convex diamond zones — zones broadcast, one
    subject scan, chained general half-plane S-H passes + shoelace fold,
    all JVM (the areal-interpolation primitive; the reference delegates
    polygon set-ops to JTS, Feature.toGeometry() consumers).  Oracle =
    the identical pass/fold expressions emitted for DuckDB."""
    from geodesk_spark.operators import overlay

    o = tables.load_spread(spark, sf_dir, "orders").filter("o_orderkey % 4 = 1")
    _cx, _cy, verts = _ovl_subject_exprs()
    ring = F.array(
        *[
            F.struct(
                F.expr(vx).cast("double").alias("x"),
                F.expr(vy).cast("double").alias("y"),
            )
            for vx, vy in verts
        ]
    )
    subj = o.select(F.col("o_orderkey").alias("sid"), ring.alias("ring"))
    n = tables.load_spread(spark, sf_dir, "nation")
    cring = F.array(
        *[
            F.struct(
                F.expr(vx).cast("double").alias("x"),
                F.expr(vy).cast("double").alias("y"),
            )
            for vx, vy in _ovl_clip_exprs()
        ]
    )
    clip = n.select(F.col("n_nationkey").cast("long").alias("cid"), cring.alias("cring"))
    return overlay.overlay_area(subj, clip, clip_k=4)


def _overlay_area_sql() -> str:
    from geodesk_spark.operators import overlay

    _cx, _cy, verts = _ovl_subject_exprs()
    s_ring = "[" + ", ".join(
        f"{{'x': cast({vx} as double), 'y': cast({vy} as double)}}" for vx, vy in verts
    ) + "]"
    c_ring = "[" + ", ".join(
        f"{{'x': cast({vx} as double), 'y': cast({vy} as double)}}"
        for vx, vy in _ovl_clip_exprs()
    ) + "]"
    subject_sql = f"select o_orderkey as sid, {s_ring} as r from orders where o_orderkey % 4 = 1"
    clip_sql = f"select cast(n_nationkey as bigint) as cid, {c_ring} as cr from nation"
    return overlay.overlay_area_sql(subject_sql, clip_sql, clip_k=4)


def _q_areal_interpolate(spark, sf_dir):
    """Areal-weighted interpolation (overlay.areal_interpolate): subject
    value · intersection-share transferred onto zones; per-pair weights
    floor-quantized to integer micro-units and summed as bigints (the
    integer micro-nat law) so zone totals are order-free exact."""
    from geodesk_spark.operators import overlay

    o = tables.load_spread(spark, sf_dir, "orders").filter("o_orderkey % 4 = 1")
    _cx, _cy, verts = _ovl_subject_exprs()
    ring = F.array(
        *[
            F.struct(
                F.expr(vx).cast("double").alias("x"),
                F.expr(vy).cast("double").alias("y"),
            )
            for vx, vy in verts
        ]
    )
    subj = o.select(
        F.col("o_orderkey").alias("sid"),
        F.expr("cast(o_orderkey % 97 + 1 as double)").alias("val"),
        ring.alias("ring"),
    )
    n = tables.load_spread(spark, sf_dir, "nation")
    cring = F.array(
        *[
            F.struct(
                F.expr(vx).cast("double").alias("x"),
                F.expr(vy).cast("double").alias("y"),
            )
            for vx, vy in _ovl_clip_exprs()
        ]
    )
    clip = n.select(F.col("n_nationkey").cast("long").alias("cid"), cring.alias("cring"))
    return overlay.areal_interpolate(subj, clip, clip_k=4, value_col="val")


def _areal_interpolate_sql() -> str:
    from geodesk_spark.operators import overlay

    _cx, _cy, verts = _ovl_subject_exprs()
    s_ring = "[" + ", ".join(
        f"{{'x': cast({vx} as double), 'y': cast({vy} as double)}}" for vx, vy in verts
    ) + "]"
    c_ring = "[" + ", ".join(
        f"{{'x': cast({vx} as double), 'y': cast({vy} as double)}}"
        for vx, vy in _ovl_clip_exprs()
    ) + "]"
    subject_sql = (
        "select o_orderkey as sid, cast(o_orderkey % 97 + 1 as double) as val, "
        f"{s_ring} as r from orders where o_orderkey % 4 = 1"
    )
    clip_sql = f"select cast(n_nationkey as bigint) as cid, {c_ring} as cr from nation"
    return overlay.areal_interpolate_sql(subject_sql, clip_sql, clip_k=4)


_OVL_SEG_EXPRS = (
    "((o_orderkey * 48271) % 60001 - 30000)",
    "((o_orderkey * 69621) % 60001 - 30000)",
    "((o_orderkey * 48271) % 60001 - 30000 + ((o_orderkey * 104729) % 16001 - 8000))",
    "((o_orderkey * 69621) % 60001 - 30000 + ((o_orderkey * 130363) % 16001 - 8000))",
)


def _q_zone_line_length(spark, sf_dir):
    """Per-zone line clip length (overlay.zone_line_length): Cyrus–Beck
    parametric clipping of segments against convex diamond zones — the
    road-km-per-district / trajectory-meters-per-geofence primitive.
    Zones broadcast, one segment scan, zero shuffle; only sqrt (IEEE-
    correctly-rounded) beyond ±/×, so the quantized length hash cannot
    drift."""
    from geodesk_spark.operators import overlay

    o = tables.load_spread(spark, sf_dir, "orders").filter("o_orderkey % 4 = 2")
    ex1, ey1, ex2, ey2 = _OVL_SEG_EXPRS
    segs = o.select(
        F.col("o_orderkey").alias("seg_id"),
        F.expr(ex1).cast("double").alias("x1"),
        F.expr(ey1).cast("double").alias("y1"),
        F.expr(ex2).cast("double").alias("x2"),
        F.expr(ey2).cast("double").alias("y2"),
    )
    n = tables.load_spread(spark, sf_dir, "nation")
    cring = F.array(
        *[
            F.struct(
                F.expr(vx).cast("double").alias("x"),
                F.expr(vy).cast("double").alias("y"),
            )
            for vx, vy in _ovl_clip_exprs()
        ]
    )
    clip = n.select(F.col("n_nationkey").cast("long").alias("cid"), cring.alias("cring"))
    return overlay.zone_line_length(segs, clip, clip_k=4)


def _zone_line_length_sql() -> str:
    from geodesk_spark.operators import overlay

    ex1, ey1, ex2, ey2 = _OVL_SEG_EXPRS
    segs_sql = (
        f"select o_orderkey as seg_id, cast({ex1} as double) as x1, "
        f"cast({ey1} as double) as y1, cast({ex2} as double) as x2, "
        f"cast({ey2} as double) as y2 from orders where o_orderkey % 4 = 2"
    )
    c_ring = "[" + ", ".join(
        f"{{'x': cast({vx} as double), 'y': cast({vy} as double)}}"
        for vx, vy in _ovl_clip_exprs()
    ) + "]"
    clip_sql = f"select cast(n_nationkey as bigint) as cid, {c_ring} as cr from nation"
    return overlay.zone_line_length_sql(segs_sql, clip_sql, clip_k=4)


def _ovl_lzone_exprs() -> list[tuple[str, str]]:
    """Non-convex L-shaped zones (CCW, 6 vertices) from nation — halves
    precomputed as integer exprs (NO division: Spark div / DuckDB //
    disagree in spelling and `/` returns double in both)."""
    cx = "((n_nationkey * 9973) % 50001 - 25000)"
    cy = "((n_nationkey * 7919) % 50001 - 25000)"
    hw = "(3000 + (n_nationkey % 5) * 750)"
    hh = "(2500 + (n_nationkey % 4) * 900)"
    return [
        (cx, cy),
        (f"({cx} + 2 * {hw})", cy),
        (f"({cx} + 2 * {hw})", f"({cy} + {hh})"),
        (f"({cx} + {hw})", f"({cy} + {hh})"),
        (f"({cx} + {hw})", f"({cy} + 2 * {hh})"),
        (cx, f"({cy} + 2 * {hh})"),
    ]


def _q_overlay_nonconvex(spark, sf_dir):
    """General-zone overlay (overlay.overlay_area_general): star-octagon
    subjects × NON-CONVEX L-shaped zones via signed fan triangulation
    (1_P = Σ σ_i·1_{T_i}) — each fan triangle is a convex 3-edge clip
    job, per-triangle micro-areas summed signed as bigints.  Zones
    normalize to CCW first; the oracle replays the identical fan,
    signs, clip chain and micro sum in SQL."""
    from geodesk_spark.operators import overlay

    o = tables.load_spread(spark, sf_dir, "orders").filter("o_orderkey % 4 = 3")
    _cx, _cy, verts = _ovl_subject_exprs()
    ring = F.array(
        *[
            F.struct(
                F.expr(vx).cast("double").alias("x"),
                F.expr(vy).cast("double").alias("y"),
            )
            for vx, vy in verts
        ]
    )
    subj = o.select(F.col("o_orderkey").alias("sid"), ring.alias("ring"))
    n = tables.load_spread(spark, sf_dir, "nation")
    cring = F.array(
        *[
            F.struct(
                F.expr(vx).cast("double").alias("x"),
                F.expr(vy).cast("double").alias("y"),
            )
            for vx, vy in _ovl_lzone_exprs()
        ]
    )
    clip = n.select(F.col("n_nationkey").cast("long").alias("cid"), cring.alias("cring"))
    out = overlay.overlay_area_general(subj, clip, clip_k=6)
    return out.select("sid", F.col("cid").cast("long").alias("cid"), "inter_area")


def _overlay_nonconvex_sql() -> str:
    from geodesk_spark.operators import overlay

    _cx, _cy, verts = _ovl_subject_exprs()
    s_ring = "[" + ", ".join(
        f"{{'x': cast({vx} as double), 'y': cast({vy} as double)}}" for vx, vy in verts
    ) + "]"
    c_ring = "[" + ", ".join(
        f"{{'x': cast({vx} as double), 'y': cast({vy} as double)}}"
        for vx, vy in _ovl_lzone_exprs()
    ) + "]"
    subject_sql = f"select o_orderkey as sid, {s_ring} as r from orders where o_orderkey % 4 = 3"
    clip_sql = f"select cast(n_nationkey as bigint) as cid, {c_ring} as cr from nation"
    inner = overlay.overlay_area_general_sql(subject_sql, clip_sql, clip_k=6)
    return f"select sid, cast(cid as bigint) as cid, inter_area from ({inner})"


def _q_zone_line_length_nonconvex(spark, sf_dir):
    """General-zone line clip length (overlay.zone_line_length_general):
    segments × NON-CONVEX L-shaped zones — length is a measure, so the
    signed fan decomposition of overlay_area_general applies verbatim;
    each term is a convex 3-edge Cyrus–Beck job, micro-lengths summed
    signed as bigints."""
    from geodesk_spark.operators import overlay

    o = tables.load_spread(spark, sf_dir, "orders").filter("o_orderkey % 4 = 2")
    ex1, ey1, ex2, ey2 = _OVL_SEG_EXPRS
    segs = o.select(
        F.col("o_orderkey").alias("seg_id"),
        F.expr(ex1).cast("double").alias("x1"),
        F.expr(ey1).cast("double").alias("y1"),
        F.expr(ex2).cast("double").alias("x2"),
        F.expr(ey2).cast("double").alias("y2"),
    )
    n = tables.load_spread(spark, sf_dir, "nation")
    cring = F.array(
        *[
            F.struct(
                F.expr(vx).cast("double").alias("x"),
                F.expr(vy).cast("double").alias("y"),
            )
            for vx, vy in _ovl_lzone_exprs()
        ]
    )
    clip = n.select(F.col("n_nationkey").cast("long").alias("cid"), cring.alias("cring"))
    out = overlay.zone_line_length_general(segs, clip, clip_k=6)
    return out.select("seg_id", F.col("cid").cast("long").alias("cid"), "len_in")


def _zone_line_length_nonconvex_sql() -> str:
    from geodesk_spark.operators import overlay

    ex1, ey1, ex2, ey2 = _OVL_SEG_EXPRS
    segs_sql = (
        f"select o_orderkey as seg_id, cast({ex1} as double) as x1, "
        f"cast({ey1} as double) as y1, cast({ex2} as double) as x2, "
        f"cast({ey2} as double) as y2 from orders where o_orderkey % 4 = 2"
    )
    c_ring = "[" + ", ".join(
        f"{{'x': cast({vx} as double), 'y': cast({vy} as double)}}"
        for vx, vy in _ovl_lzone_exprs()
    ) + "]"
    clip_sql = f"select cast(n_nationkey as bigint) as cid, {c_ring} as cr from nation"
    inner = overlay.zone_line_length_general_sql(segs_sql, clip_sql, clip_k=6)
    return f"select seg_id, cast(cid as bigint) as cid, len_in from ({inner})"


def _q_areal_interp_nonconvex(spark, sf_dir):
    """Areal interpolation onto NON-CONVEX L-shaped zones
    (overlay.areal_interpolate_general): value · signed-fan intersection
    share, micro-unit bigint zone totals."""
    from geodesk_spark.operators import overlay

    o = tables.load_spread(spark, sf_dir, "orders").filter("o_orderkey % 4 = 3")
    _cx, _cy, verts = _ovl_subject_exprs()
    ring = F.array(
        *[
            F.struct(
                F.expr(vx).cast("double").alias("x"),
                F.expr(vy).cast("double").alias("y"),
            )
            for vx, vy in verts
        ]
    )
    subj = o.select(
        F.col("o_orderkey").alias("sid"),
        F.expr("cast(o_orderkey % 97 + 1 as double)").alias("val"),
        ring.alias("ring"),
    )
    n = tables.load_spread(spark, sf_dir, "nation")
    cring = F.array(
        *[
            F.struct(
                F.expr(vx).cast("double").alias("x"),
                F.expr(vy).cast("double").alias("y"),
            )
            for vx, vy in _ovl_lzone_exprs()
        ]
    )
    clip = n.select(F.col("n_nationkey").cast("long").alias("cid"), cring.alias("cring"))
    out = overlay.areal_interpolate_general(subj, clip, clip_k=6, value_col="val")
    return out.select(F.col("cid").cast("long").alias("cid"), "n_parts", "value_micro_sum")


def _areal_interp_nonconvex_sql() -> str:
    from geodesk_spark.operators import overlay

    _cx, _cy, verts = _ovl_subject_exprs()
    s_ring = "[" + ", ".join(
        f"{{'x': cast({vx} as double), 'y': cast({vy} as double)}}" for vx, vy in verts
    ) + "]"
    c_ring = "[" + ", ".join(
        f"{{'x': cast({vx} as double), 'y': cast({vy} as double)}}"
        for vx, vy in _ovl_lzone_exprs()
    ) + "]"
    subject_sql = (
        "select o_orderkey as sid, cast(o_orderkey % 97 + 1 as double) as val, "
        f"{s_ring} as r from orders where o_orderkey % 4 = 3"
    )
    clip_sql = f"select cast(n_nationkey as bigint) as cid, {c_ring} as cr from nation"
    inner = overlay.areal_interpolate_general_sql(subject_sql, clip_sql, clip_k=6)
    return f"select cast(cid as bigint) as cid, n_parts, value_micro_sum from ({inner})"


def _ovl_czone_exprs() -> list[tuple[str, str]]:
    """Convex diamond zones keyed on CUSTOMER — the fact-sized zone side
    of the big-big overlay (1500 rows at sf0.01, never broadcastable by
    contract at real scale)."""
    cx = "((c_custkey * 9973) % 56001 - 28000)"
    cy = "((c_custkey * 7919) % 56001 - 28000)"
    w = "(1500 + (c_custkey % 5) * 400)"
    h = "(1200 + (c_custkey % 4) * 500)"
    return [
        (f"({cx} + {w})", cy),
        (cx, f"({cy} + {h})"),
        (f"({cx} - {w})", cy),
        (cx, f"({cy} - {h})"),
    ]


def _q_overlay_big(spark, sf_dir):
    """Big-big overlay (overlay.overlay_area_big): star-octagon subjects
    × fact-sized diamond zones (customer), NEITHER side broadcast — both
    cover their bbox with 8192-unit grid cells, ONE shuffle equi-join on
    (gx, gy), exactly-once via the NW-intersection-cell rule (no
    distinct), then the identical clip chain.  Oracle = the broadcast
    variant's cross-join SQL (bbox-prefiltered for tractability) —
    a green row proves the blocking rewrite changes the plan, never the
    answer (the skew_salted_rollup law)."""
    from geodesk_spark.operators import overlay

    o = tables.load_spread(spark, sf_dir, "orders").filter("o_orderkey % 8 = 1")
    _cx, _cy, verts = _ovl_subject_exprs()
    ring = F.array(
        *[
            F.struct(
                F.expr(vx).cast("double").alias("x"),
                F.expr(vy).cast("double").alias("y"),
            )
            for vx, vy in verts
        ]
    )
    subj = o.select(F.col("o_orderkey").alias("sid"), ring.alias("ring"))
    c = tables.load_spread(spark, sf_dir, "customer").filter("c_custkey % 8 = 0")
    cring = F.array(
        *[
            F.struct(
                F.expr(vx).cast("double").alias("x"),
                F.expr(vy).cast("double").alias("y"),
            )
            for vx, vy in _ovl_czone_exprs()
        ]
    )
    clip = c.select(F.col("c_custkey").cast("long").alias("cid"), cring.alias("cring"))
    return overlay.overlay_area_big(subj, clip, clip_k=4, cell=8192)


def _overlay_big_sql() -> str:
    from geodesk_spark.operators import overlay

    _cx, _cy, verts = _ovl_subject_exprs()
    s_ring = "[" + ", ".join(
        f"{{'x': cast({vx} as double), 'y': cast({vy} as double)}}" for vx, vy in verts
    ) + "]"
    c_ring = "[" + ", ".join(
        f"{{'x': cast({vx} as double), 'y': cast({vy} as double)}}"
        for vx, vy in _ovl_czone_exprs()
    ) + "]"
    subject_sql = f"select o_orderkey as sid, {s_ring} as r from orders where o_orderkey % 8 = 1"
    clip_sql = (
        f"select cast(c_custkey as bigint) as cid, {c_ring} as cr from customer "
        "where c_custkey % 8 = 0"
    )
    return overlay.overlay_area_sql(subject_sql, clip_sql, clip_k=4, prefilter=True)
