"""Driver-contract query builders; registry.py assembles them into QUERIES."""

from __future__ import annotations

from geodesk_spark.driver_queries.common import (
    CAIRO_XY,
    F,
    H,
    T,
    W,
    _DERIVED_SQL,
    _box_sql_base,
    _derived_orders,
    lat_expr,
    lon_expr,
    math,
    mercator,
    skew,
    tables,
    tile_expr,
    tiling,
    x_expr,
    y_expr,
)


# --- S2-style normalized hierarchical cell cover -----------------------------
# Half-extents 2^14..2^24 keep the z10 boundary ring ≤ ~8 cells/side so
# the oracle's full-grid enumeration stays small at sf0.01.

def _hc_extent_exprs(key: str) -> tuple[str, str]:
    dx = f"cast(pow(2.0, 14 + ((({key}) * 37) % 11)) as bigint)"
    dy = f"cast(pow(2.0, 14 + ((({key}) * 53) % 10)) as bigint)"
    return dx, dy


def _q_hierarchical_cover(spark, sf_dir):
    """S2-style normalized mixed-level cell cover (operators/tiling.py
    hierarchical_cover): interior cells emitted at the coarsest
    containing level, boundary cells refined to z10 — the RegionCoverer
    covering that feeds index-accelerated range joins; enumeration is
    boundary strips (O(perimeter)), proven lossless against the
    oracle's full-grid formulation."""
    df = tables.with_derived_points(tables.load_spread(spark, sf_dir, "customer"), "c_custkey")
    dx, dy = _hc_extent_exprs("c_custkey")
    for name, sql in tables.box_exprs("x", "y", dx, dy).items():
        df = df.withColumn(name, F.expr(sql))
    out = tiling.hierarchical_cover(
        df.select(F.col("c_custkey").alias("key"), "minx", "miny", "maxx", "maxy"),
        z_min=6,
        z_max=10,
    )
    return out.select(
        "key",
        F.col("zoom").cast("int").alias("zoom"),
        F.col("tile").cast("bigint").alias("tile"),
        F.col("full").cast("int").alias("is_full"),
    )


def _hierarchical_cover_sql() -> str:
    dx, dy = _hc_extent_exprs("key")
    box = tables.box_exprs("x", "y", dx, dy)
    cover = tiling.hierarchical_cover_sql("boxes", z_min=6, z_max=10, extra_cols="key")
    return f"""
      with pts as (
        select c_custkey as key,
               {x_expr(lon_expr('c_custkey'))} as x,
               {y_expr(lat_expr('c_custkey'))} as y
        from customer),
      boxes as (select key, {box['minx']} as minx, {box['maxx']} as maxx,
                       {box['miny']} as miny, {box['maxy']} as maxy from pts)
      {cover}
    """

def _q_cover_join(spark, sf_dir):
    """Covering join (operators/tiling.cover_join): orders points ×
    customer boxes THROUGH the hierarchical-cover index — one equi-join
    on the mixed-level cell id, interior (full) cells skip the exact
    test, exactly-once with no dedup.  The oracle is the DIRECT
    containment θ-join, so green proves index path ≡ direct join."""
    pts = tables.with_derived_points(
        tables.load_spread(spark, sf_dir, "orders"), "o_orderkey"
    ).select(F.col("o_orderkey").alias("pid"), "x", "y")
    df = tables.with_derived_points(tables.load_spread(spark, sf_dir, "customer"), "c_custkey")
    dx, dy = _hc_extent_exprs("c_custkey")
    for name, sql in tables.box_exprs("x", "y", dx, dy).items():
        df = df.withColumn(name, F.expr(sql))
    boxes = df.select(F.col("c_custkey").alias("key"), "minx", "miny", "maxx", "maxy")
    j = tiling.cover_join(pts, boxes, z_min=6, z_max=10)
    return j.groupBy("key").agg(F.count("*").alias("n_points"))


def _cover_join_sql() -> str:
    dx, dy = _hc_extent_exprs("key")
    box = tables.box_exprs("x", "y", dx, dy)
    return f"""
      with p as (
        select o_orderkey as pid,
               {x_expr(lon_expr('o_orderkey'))} as x,
               {y_expr(lat_expr('o_orderkey'))} as y
        from orders),
      cpts as (
        select c_custkey as key,
               {x_expr(lon_expr('c_custkey'))} as x,
               {y_expr(lat_expr('c_custkey'))} as y
        from customer),
      boxes as (select key, {box['minx']} as minx, {box['maxx']} as maxx,
                       {box['miny']} as miny, {box['maxy']} as maxy from cpts)
      select b.key as key, count(*) as n_points
      from boxes b join p
        on p.x between b.minx and b.maxx and p.y between b.miny and b.maxy
      group by b.key
    """


# --- hex polyfill of real polygons (H3 center-in-polygon rule) ---------------
# Per-customer CCW triangle A=(minx,miny) B=(maxx,miny) C=(x,maxy); the
# strict half-plane tests are the SAME textual expression on both
# engines (mixed int64/double ops in identical order → identical bits).

_HEXPOLY_SIZE = 1 << 19


def _tri_inside_pred() -> str:
    e1 = "((maxx - minx) * (cy - miny))"
    e2 = "((x - maxx) * (cy - miny) - (maxy - miny) * (cx - maxx))"
    e3 = "((minx - x) * (cy - maxy) - (miny - maxy) * (cx - x))"
    return f"{e1} > 0 and {e2} > 0 and {e3} > 0"


def _q_hex_polyfill_polygon(spark, sf_dir):
    """General H3 polyfill (operators/hexes.polyfill_centers): polyfill
    the polygon's bbox, keep cells whose CENTER is strictly inside the
    polygon — H3's center-in rule on a per-row triangle.  All JVM:
    sequence/explode lattice + half-plane columns; for non-convex
    polygons the same centers feed the broadcast PIP join instead
    (tests/test_hexes.py pins that composition)."""
    from geodesk_spark.operators import hexes

    df = tables.with_derived_points(tables.load_spread(spark, sf_dir, "customer"), "c_custkey")
    dx, dy = _hc_extent_exprs("c_custkey")
    for name, sql in tables.box_exprs("x", "y", dx, dy).items():
        df = df.withColumn(name, F.expr(sql))
    pf = hexes.polyfill_centers(
        df.select(F.col("c_custkey").alias("key"), "x", "minx", "miny", "maxx", "maxy"),
        _HEXPOLY_SIZE,
    )
    return pf.filter(F.expr(_tri_inside_pred())).select("key", "hcell")


def _hex_polyfill_polygon_sql() -> str:
    from geodesk_spark.operators import hexes

    dx, dy = _hc_extent_exprs("key")
    box = tables.box_exprs("x", "y", dx, dy)
    pf = hexes.polyfill_centers_sql("boxes", _HEXPOLY_SIZE)
    return f"""
      with pts as (
        select c_custkey as key,
               {x_expr(lon_expr('c_custkey'))} as x,
               {y_expr(lat_expr('c_custkey'))} as y
        from customer),
      boxes as (select key, x, {box['minx']} as minx, {box['maxx']} as maxx,
                       {box['miny']} as miny, {box['maxy']} as maxy from pts)
      select key, hcell from ({pf}) where {_tri_inside_pred()}
    """


def _q_tile_assign(spark, sf_dir):
    """Tile assignment (SURVEY §2.1 tile scan / §1.2): points → z12 tiles,
    JVM-side bit arithmetic (geo/tile.py tile_col), grouped count."""
    df = _derived_orders(spark, sf_dir)
    return (
        df.withColumn("tile", T.tile_col(F.col("x"), F.col("y"), 12).cast("bigint"))
        .groupBy("tile")
        .agg(F.count("*").alias("n"))
        .select("tile", "n")
    )


_SQL_TILE_ASSIGN = f"""
  with pts as ({_DERIVED_SQL})
  select {tile_expr('x', 'y', 12)} as tile, count(*) as n
  from pts group by 1
"""


def _q_tile_pyramid(spark, sf_dir):
    """Zoom pyramid rollup (zoomedOut, Tile.java:184-190): z12 → z8 parents."""
    df = _derived_orders(spark, sf_dir)
    t12 = T.tile_col(F.col("x"), F.col("y"), 12)
    return (
        df.withColumn("tile_z8", T.zoomed_out_col(t12, 8, 12).cast("bigint"))
        .groupBy("tile_z8")
        .agg(F.count("*").alias("n"))
    )


_SQL_TILE_PYRAMID = f"""
  with pts as ({_DERIVED_SQL})
  select {tile_expr('x', 'y', 8)} as tile_z8, count(*) as n
  from pts group by 1
"""


def _q_morton_cells(spark, sf_dir):
    """Z-order (Morton) cell ids — the TIP-walk-order analog for
    range-clustered cloud storage (geo/curve.py): one int64 key that
    clusters both axes; JVM bit-spread, no UDF."""
    from geodesk_spark.geo import curve

    df = _derived_orders(spark, sf_dir)
    return (
        df.select(
            F.col("o_orderkey").alias("key"),
            curve.morton_cell_col(F.col("x"), F.col("y"), 12).alias("zcell"),
        )
        .orderBy("zcell", "key")
    )


def _morton_sql() -> str:
    from geodesk_spark.geo import curve

    return f"""
      with pts as ({_DERIVED_SQL})
      select o_orderkey as key, {curve.morton_sql('x', 'y', 12)} as zcell
      from pts order by zcell, key
    """


def _q_geohash_cells(spark, sf_dir):
    """Geohash base32 trie keys (geo/curve.py geohash8_col) — the fourth
    index family: string prefixes form the multi-resolution cell
    hierarchy (substr rollups, prefix-range scans).  Pure JVM bit-spread
    + element_at lookup; lon/lat recovered from imps with the same op
    order as coords_precision7."""
    from geodesk_spark.geo import curve

    df = _derived_orders(spark, sf_dir)
    lon = mercator.lon_from_x_col(F.col("x"))
    lat = mercator.lat_from_y_col(F.col("y"))
    return (
        df.select(
            F.col("o_orderkey").alias("key"),
            curve.geohash8_col(lon, lat).alias("gh"),
            F.substring(curve.geohash8_col(lon, lat), 1, 4).alias("gh4"),
        )
        .orderBy("key")
    )


def _geohash_sql() -> str:
    from geodesk_spark.geo import curve

    import math

    c1 = repr(2 * math.pi / W)
    c2 = repr(360 / math.pi)
    lon = f"(cast(x as double) * 360 / {W!r})"
    lat = f"(atan(exp(cast(y as double) * {c1})) * {c2} - 90)"
    return f"""
      with pts as ({_DERIVED_SQL}),
      zt as (select o_orderkey, {curve.geohash_z_sql(lon, lat)} as z from pts)
      select o_orderkey as key,
             {curve.geohash_chars_sql('z')} as gh,
             substr({curve.geohash_chars_sql('z')}, 1, 4) as gh4
      from zt order by key
    """


def _q_hilbert_cells(spark, sf_dir):
    """Hilbert-curve cell ids — the S2-style clustering key
    (geo/curve.hilbert_cell_cols): consecutive ids are ALWAYS
    edge-adjacent cells, strictly better worst-case range locality than
    Z-order; level-by-level JVM projections, no UDF."""
    from geodesk_spark.geo import curve

    df = _derived_orders(spark, sf_dir)
    return curve.hilbert_cell_cols(df, "x", "y", 12).select(
        F.col("o_orderkey").alias("key"), "hcell"
    ).orderBy("hcell", "key")


def _hilbert_sql() -> str:
    from geodesk_spark.geo import curve

    ctes, final = curve.hilbert_sql("x", "y", 12)
    return f"""
      with __hilbert_input__ as ({_DERIVED_SQL}), {ctes}
      select o_orderkey as key, hcell from {final} t
      order by hcell, key
    """


HEX_SIZE = 25_000_000  # hex circumradius in imps (~100 km at the equator)


def _q_hex_cells(spark, sf_dir):
    """H3-style hexagonal cell rollup (geo/hexgrid.py): the third index
    family the build target names (quad-tile = GeoDesk TIP, Z/Hilbert =
    S2-style keys, hex = H3-style).  Fractional-axial → cube-round is
    pure Columns (floor(v+0.5) rounding, bit-identical across numpy /
    Spark / DuckDB); per-cell count aggregation — one scan, one partial
    agg, the canonical H3 geo-aggregation shape."""
    from geodesk_spark.geo import hexgrid

    df = _derived_orders(spark, sf_dir)
    return (
        hexgrid.hex_cell_cols(df, "x", "y", HEX_SIZE)
        .groupBy("hcell")
        .agg(F.count("*").alias("n"), F.min("o_orderkey").alias("min_key"))
        .select("hcell", "n", "min_key")
    )


def _hex_sql() -> str:
    from geodesk_spark.geo import hexgrid

    ctes, final = hexgrid.hex_sql("x", "y", HEX_SIZE)
    return f"""
      with __hex_input__ as ({_DERIVED_SQL}), {ctes}
      select hcell, count(*) as n, min(o_orderkey) as min_key
      from ({final}) t group by hcell
    """


def _q_hex_kring(spark, sf_dir):
    """H3-style kRing smoothing (operators/hexes.py): hex rollup →
    per-cell ring-1 neighborhood sum.  The offsets table (7 rows) is
    broadcast; one regroup shuffle on the target cell — the isotropic
    hex analog of the quad tile_pyramid_rollup."""
    from geodesk_spark.geo import hexgrid
    from geodesk_spark.operators import hexes

    df = _derived_orders(spark, sf_dir)
    cells = (
        hexgrid.hex_cell_cols(df, "x", "y", HEX_SIZE)
        .groupBy("hcell")
        .agg(F.count("*").alias("n"))
    )
    return hexes.kring_smooth(cells, k=1).select("hcell", "n", "ring_sum", "ring_cells")


def _hex_kring_sql() -> str:
    from geodesk_spark.geo import hexgrid
    from geodesk_spark.operators import hexes

    ctes, final = hexgrid.hex_sql("x", "y", HEX_SIZE)
    rel = (
        f"(with __hex_input__ as ({_DERIVED_SQL}), {ctes} "
        f"select hcell, count(*) as n from ({final}) t group by hcell)"
    )
    return hexes.kring_sql(rel, k=1)


S2_LEVEL = 10  # 1024x1024 leaf cells per face (~10 km at the equator)


def _q_s2_cells(spark, sf_dir):
    """S2-analog cube-face Hilbert cells (geo/s2cell.py) — the second
    index family the build target names ("H3/S2 cells").  Sphere coords
    come from deterministic trig kernels (integer quadrant reduction +
    Taylor Horner sin/cos; tanh/sech from det_sinh/det_cosh — zero libm
    on either engine), so face/i/j/cell are bit-identical integers on
    any engine build; pure JVM Columns, no UDF, one scan."""
    from geodesk_spark.geo import s2cell

    df = _derived_orders(spark, sf_dir)
    return (
        s2cell.s2_cell_cols(df, "x", "y", S2_LEVEL)
        .select(
            F.col("o_orderkey").alias("key"),
            "s2_face",
            "s2_i",
            "s2_j",
            "s2_cell",
        )
        .orderBy("key")
    )


def _s2_cells_sql() -> str:
    from geodesk_spark.geo import s2cell

    ctes, final = s2cell.s2_sql("x", "y", S2_LEVEL)
    return f"""
      with __s2_input__ as ({_DERIVED_SQL}), {ctes}
      select o_orderkey as key, s2_face, s2_i, s2_j, s2_cell
      from ({final}) t order by key
    """


def _s2_small_box_exprs() -> tuple[str, str]:
    # half-extents 2^14..2^21: up to ~4 S2-level-10 cells per side, so
    # the polyfill covers 1..~30 cells/box (the hex_polyfill scale)
    dx = "cast(pow(2.0, 14 + ((o_orderkey * 37) % 8)) as bigint)"
    dy = "cast(pow(2.0, 14 + ((o_orderkey * 53) % 7)) as bigint)"
    return dx, dy


def _q_s2_polyfill(spark, sf_dir):
    """S2 polyfill (operators/s2cover.py): every derived bbox → the
    level-10 cube-face cells whose CENTER it contains (H3's polyfill
    rule), rolled up per box.  Candidates come from a forward-sampled
    ij envelope; the keep filter runs the deterministic INVERSE
    transform (det_atan2/det_atanh — geo/detmath.py), so the kept set
    is bit-identical integers on any engine build.  The build side of
    an S2-bucketed spatial join."""
    from geodesk_spark.operators import s2cover

    dx, dy = _s2_small_box_exprs()
    df = tables.with_derived_points(tables.load_spread(spark, sf_dir, "orders"), "o_orderkey")
    box = tables.box_exprs("x", "y", dx, dy)
    boxes = df.select(
        F.col("o_orderkey").alias("fid"),
        F.expr(box["minx"]).alias("minx"),
        F.expr(box["miny"]).alias("miny"),
        F.expr(box["maxx"]).alias("maxx"),
        F.expr(box["maxy"]).alias("maxy"),
    )
    cells = s2cover.polyfill_bbox(boxes, S2_LEVEL)
    return cells.groupBy("fid").agg(
        F.count("*").alias("n_cells"),
        F.min("s2_cell").alias("min_cell"),
        F.max("s2_cell").alias("max_cell"),
    )


def _s2_polyfill_sql() -> str:
    from geodesk_spark.operators import s2cover

    dx, dy = _s2_small_box_exprs()
    box = tables.box_exprs("x", "y", dx, dy)
    rel = f"""(
      select o_orderkey as fid, {box['minx']} as minx, {box['miny']} as miny,
             {box['maxx']} as maxx, {box['maxy']} as maxy
      from (({_DERIVED_SQL})) pts)"""
    return f"""
      select fid, count(*) as n_cells, min(s2_cell) as min_cell,
             max(s2_cell) as max_cell
      from ({s2cover.polyfill_sql(rel, S2_LEVEL)}) pf group by fid
    """


def _q_hex_polyfill(spark, sf_dir):
    """H3-polyfill analog (operators/hexes.polyfill_bbox): every derived
    bbox → the hex cells whose centers it contains (H3's
    center-in-polygon rule), rolled up per box.  Pure-JVM ceil/floor +
    sequence explode — the build side of a hex range join."""
    from geodesk_spark.operators import hexes

    boxes = tables.with_derived_boxes(
        tables.load_spread(spark, sf_dir, "orders"), "o_orderkey"
    ).select(F.col("o_orderkey").alias("fid"), "minx", "miny", "maxx", "maxy")
    cells = hexes.polyfill_bbox(boxes, size=HEX_SIZE)
    return cells.groupBy("fid").agg(
        F.count("*").alias("n_cells"),
        F.min("hcell").alias("min_hcell"),
        F.max("hcell").alias("max_hcell"),
    )


def _hex_polyfill_sql() -> str:
    from geodesk_spark.operators import hexes

    rel = f"(select fid, minx, miny, maxx, maxy from ({_box_sql_base()}) bb)"
    return f"""
      select fid, count(*) as n_cells, min(hcell) as min_hcell,
             max(hcell) as max_hcell
      from ({hexes.polyfill_sql(rel, HEX_SIZE)}) pf group by fid
    """


_VT_CX = 7919 * 524287


_VT_CY = 104729 * 99991


def _vt_lines(spark, sf_dir):
    """Synthetic polylines (integer arithmetic only — bit-exact in every
    engine): 200 lines, vertices clustered ±200k imps around a per-line
    center so coarse-grid quantization actually elides vertices."""
    o = tables.load_spread(spark, sf_dir, "orders")
    k = F.col("o_orderkey").cast("long")
    lid = k % 200
    cx = (lid * F.lit(_VT_CX)) % F.lit(4000000001) - F.lit(2000000000)
    cy = (lid * F.lit(_VT_CY)) % F.lit(3000000001) - F.lit(1500000000)
    vx = cx + (k * F.lit(104729)) % F.lit(400001) - F.lit(200000)
    vy = cy + (k * F.lit(95989)) % F.lit(400001) - F.lit(200000)
    return o.select(
        lid.alias("line_id"), k.alias("seq"),
        vx.cast("int").alias("x"), vy.cast("int").alias("y"),
    )


def _q_vector_tile_encode(spark, sf_dir):
    """MVT-style vector-tile encode (tiles_sink.quantize_for_tiles):
    tile-local integer quantization + consecutive-duplicate elision —
    the binary-tile counterpart of render_tiles' GeoJSON output.  Pure
    JVM integer ops; the window shuffle doubles as the tile-writer
    partitioning."""
    from geodesk_spark.operators import tiles_sink

    return tiles_sink.quantize_for_tiles(
        _vt_lines(spark, sf_dir), zoom=7, extent=256
    )


def _vector_tile_sql() -> str:
    sh = 32 - 7
    lxq = f"((x + 2147483648 - (((x + 2147483648) >> {sh}) << {sh})) * 256) >> {sh}"
    lyq = f"((2147483647 - y - (((2147483647 - y) >> {sh}) << {sh})) * 256) >> {sh}"
    return f"""
      with lines as (
        select o_orderkey % 200 as line_id, o_orderkey as seq,
               ((o_orderkey % 200) * {_VT_CX}) % 4000000001 - 2000000000
                 + (o_orderkey * 104729) % 400001 - 200000 as x,
               ((o_orderkey % 200) * {_VT_CY}) % 3000000001 - 1500000000
                 + (o_orderkey * 95989) % 400001 - 200000 as y
        from orders),
      q as (select line_id, seq,
               (x + 2147483648) >> {sh} as tcol,
               (2147483647 - y) >> {sh} as trow,
               {lxq} as qx, {lyq} as qy
            from lines),
      l as (select *, lag(qx) over w as pqx, lag(qy) over w as pqy from q
            window w as (partition by line_id, tcol, trow order by seq)),
      kept as (select * from l where pqx is null or qx != pqx or qy != pqy)
      select line_id, tcol, trow,
             cast(row_number() over (partition by line_id, tcol, trow order by seq) as int) as seq_out,
             cast(qx as int) as qx, cast(qy as int) as qy
      from kept
    """


def _q_coords_precision7(spark, sf_dir):
    """Precision-7 coordinate writer (CoordinateTransformer.java:21-50):
    lon/lat recovered from imps, rounded to 7 decimals in the
    reference's OWN form — Mercator.java's Math.round is
    floor(v·1e7 + 0.5)/1e7, which is also the repo's cross-engine
    float-output invariant (round(,7) matched it only off-tie)."""
    df = _derived_orders(spark, sf_dir)
    r7 = lambda c: F.floor(c * F.lit(1e7) + F.lit(0.5)) / F.lit(1e7)
    return df.select(
        F.col("o_orderkey").alias("key"),
        r7(mercator.lon_from_x_col(F.col("x"))).alias("lon7"),
        r7(mercator.lat_from_y_col(F.col("y"))).alias("lat7"),
    ).orderBy("key")


def _coords_p7_sql() -> str:
    # mirror mercator.lon_from_x_col / lat_from_y_col with the SAME
    # pre-folded double constants; floor-form per Mercator.java
    c1 = repr(2 * __import__("math").pi / W)
    c2 = repr(360 / __import__("math").pi)
    return f"""
      with pts as ({_DERIVED_SQL})
      select o_orderkey as key,
             floor(cast(x as double) * 360 / {W!r} * 1e7 + 0.5) / 1e7 as lon7,
             floor((atan(exp(cast(y as double) * {c1})) * {c2} - 90) * 1e7 + 0.5) / 1e7 as lat7
      from pts order by key
    """


_SKEW_LON = "(case when (o_orderkey % 10) < 8 then 13.0 + ((o_orderkey * 9973) % 2000) / 1000.0 else ((o_orderkey * 9973) % 360000) / 1000.0 - 180.0 end) * 0.999"


_SKEW_LAT = "(case when (o_orderkey % 10) < 8 then 52.0 + ((o_orderkey * 7919) % 2000) / 1000.0 else ((o_orderkey * 7919) % 160000) / 1000.0 - 80.0 end) * 0.999"


def _q_adaptive_split(spark, sf_dir):
    """GeoDesk-style adaptive cell subdivision (ZoomLevels.java:98-113
    analog, operators/skew.adaptive_cell_split): 80% of rows land in one
    ~2° hot square, which splits z8 → z10 → z12 until the per-cell cap
    holds; the resulting histogram must match the oracle's two-round
    CASE rewrite exactly."""
    o = tables.load_spread(spark, sf_dir, "orders")
    pts = (
        o.withColumn("lon", F.expr(_SKEW_LON))
        .withColumn("lat", F.expr(_SKEW_LAT))
        .withColumn("x", F.expr(tables.x_expr("lon")))
        .withColumn("y", F.expr(tables.y_expr("lat")))
        .withColumn("tile_z8", T.tile_col(F.col("x"), F.col("y"), 8))
    )
    out = skew.adaptive_cell_split(pts, max_rows_per_cell=200, base_zoom=8, max_zoom=12, step=2)
    return (
        out.groupBy(F.col("cell_adaptive").cast("bigint").alias("cell"))
        .agg(F.count("*").alias("n"))
        .orderBy("cell")
    )


def _adaptive_split_sql() -> str:
    t = lambda z: tables.tile_expr("x", "y", z)
    return f"""
      with pts as (
        select {tables.x_expr(_SKEW_LON)} as x, {tables.y_expr(_SKEW_LAT)} as y
        from orders),
      cells as (select x, y, {t(8)} as c8, {t(10)} as c10, {t(12)} as c12 from pts),
      r0 as (select *, c8 as cell from cells),
      h0 as (select cell from r0 group by cell having count(*) > 200),
      r1 as (select r0.x, r0.y, r0.c10, r0.c12,
                    case when h0.cell is not null then r0.c10 else r0.cell end as cell
             from r0 left join h0 on r0.cell = h0.cell),
      h1 as (select cell from r1 group by cell having count(*) > 200),
      r2 as (select case when h1.cell is not null
                              and cast(floor(r1.cell / {1 << 24}) as int) = 10
                         then r1.c12 else r1.cell end as cell
             from r1 left join h1 on r1.cell = h1.cell)
      select cell, count(*) as n from r2 group by cell order by cell
    """


def _q_heading_rollup(spark, sf_dir):
    """Compass heading (geom/Heading.java:20-60): 8-point heading from
    Cairo to every customer point, rolled up — pure Column trig."""
    df = tables.with_derived_points(tables.load_spread(spark, sf_dir, "customer"), "c_custkey")
    dx = F.col("x") - F.lit(CAIRO_XY[0])
    dy = F.col("y") - F.lit(CAIRO_XY[1])
    return (
        df.withColumn("compass", H.heading_col(dx, dy))
        .groupBy("compass")
        .agg(F.count("*").alias("n"))
        .orderBy("compass")
    )


def _heading_sql() -> str:
    expr = H.heading_sql(f"x - ({CAIRO_XY[0]})", f"y - ({CAIRO_XY[1]})")
    return f"""
      with pts as (
        select {x_expr(lon_expr("c_custkey"))} as x,
               {y_expr(lat_expr("c_custkey"))} as y
        from customer)
      select {expr} as compass, count(*) as n from pts
      group by 1 order by 1
    """


def _q_skew_salted_rollup(spark, sf_dir):
    """Skew machinery parity: hot z8 tiles are salted
    (operators/skew.with_salt) and aggregated in two stages (partial per
    (tile, salt), merge per tile) — the merged result must
    value-hash-match the direct GROUP BY the oracle computes.  Proves
    salting changes the PLAN (no hot key exceeds rows_per_partition),
    never the answer.  No repartition pass: the partial groupBy's own
    shuffle on (tile, salt) is what spreads the hot key (VERDICT r01 —
    the explicit repartition was one full-data shuffle too many)."""
    li = tables.with_derived_points(tables.load_spread(spark, sf_dir, "lineitem"), "l_orderkey")
    t8 = li.withColumn("tile", T.tile_col(F.col("x"), F.col("y"), 8).cast("bigint"))
    salted = skew.with_salt(t8, "tile", rows_per_partition=2000, sample_fraction=0.1)
    partial = salted.groupBy("tile", "salt").agg(
        F.count("*").alias("pn"),
        F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("pq"),
    )
    return (
        partial.groupBy("tile")
        .agg(
            F.sum("pn").alias("n"),
            F.sum("pq").cast("double").alias("sum_qty"),
        )
        .orderBy("tile")
    )


_SQL_SKEW_SALTED = f"""
  with pts as (
    select l_quantity,
           {x_expr(lon_expr("l_orderkey"))} as x,
           {y_expr(lat_expr("l_orderkey"))} as y
    from lineitem)
  select {tile_expr('x', 'y', 8)} as tile, count(*) as n,
         cast(sum(cast(l_quantity as decimal(18,4))) as double) as sum_qty
  from pts group by 1 order by 1
"""




COMPACT_Z = 7


def _q_cell_union_compact(spark, sf_dir):
    """Minimal-cover normalization (tiling.cell_union_compact, the S2
    CellUnion.Normalize analog): the z7 tile set covered by the derived
    order points, compacted bottom-up (complete 4-sibling quartets ->
    parent, recursively).  Oracle derives the SAME minimal cover by the
    independent rule 'emit c iff ALL its z7 descendants are present and
    parent(c) is not full' -- no merge loop."""
    from geodesk_spark.operators.tiling import cell_union_compact

    df = _derived_orders(spark, sf_dir)
    sub = 32 - COMPACT_Z
    tiles = df.select(
        (
            F.lit(COMPACT_Z << 24)
            + F.shiftleft(
                F.shiftright(F.lit((1 << 31) - 1) - F.col("y").cast("bigint"), sub), 12
            )
            + F.shiftright(F.col("x").cast("bigint") + (1 << 31), sub)
        ).alias("tile")
    )
    return cell_union_compact(tiles)


def _cell_union_compact_sql() -> str:
    sub = 1 << (32 - COMPACT_Z)
    levels = []
    picks = []
    for z in range(COMPACT_Z + 1):
        div = 1 << (COMPACT_Z - z)
        need = 4 ** (COMPACT_Z - z)
        levels.append(
            f"f{z} as (select row // {div} as r, col // {div} as c from c7 "
            f"group by 1, 2 having count(*) = {need})"
        )
        if z == 0:
            picks.append(
                f"select cast({z << 24} + r * 4096 + c as bigint) as tile from f0"
            )
        else:
            picks.append(
                f"""select cast({z << 24} + f{z}.r * 4096 + f{z}.c as bigint) as tile
                    from f{z} left join f{z-1} p
                      on p.r = f{z}.r // 2 and p.c = f{z}.c // 2
                    where p.r is null"""
            )
    return f"""
      with pts as ({{derived}}),
      c7 as (select distinct
               cast(floor((2147483647 - y) / {sub}) as bigint) as row,
               cast(floor((x + 2147483648) / {sub}) as bigint) as col
             from pts),
      {', '.join(levels)}
      {' union all '.join(picks)}
    """


# --- per-tile label placement -----------------------------------------------

LABEL_ZOOM = 6
LABEL_K = 8
LABEL_R = 1 << 23


def _q_label_placement(spark, sf_dir):
    """Per-tile label placement (tiles_sink.label_placement): top-8 order
    points per z6 tile by o_totalprice, greedy Chebyshev collision
    suppression at radius 2^23 — the renderer's symbol pass.  Oracle
    unrolls the greedy as 8 chained CTEs (g_n = g_{n-1} + rank-n rows
    clear of g_{n-1}); integer distances, bit-exact."""
    from geodesk_spark.operators.tiles_sink import label_placement

    pts = _derived_orders(spark, sf_dir)
    return label_placement(
        pts,
        "o_totalprice",
        zoom=LABEL_ZOOM,
        k=LABEL_K,
        radius=LABEL_R,
        id_col="o_orderkey",
    )


def _label_placement_sql() -> str:
    from geodesk_spark.sources.tables import lat_expr, lon_expr, tile_expr, x_expr, y_expr

    t = tile_expr("x", "y", LABEL_ZOOM)
    steps = []
    for n in range(2, LABEL_K + 1):
        steps.append(
            f"""g{n} as (
              select c.* from cand c where c.rn = {n} and not exists (
                select 1 from g{n-1} p
                where p.tile = c.tile
                  and greatest(abs(p.x - c.x), abs(p.y - c.y)) <= {LABEL_R}
              )
              union all select * from g{n-1}
            )"""
        )
    return f"""
      with pts as (
        select o_orderkey, o_totalprice,
               {x_expr(lon_expr("o_orderkey"))} as x,
               {y_expr(lat_expr("o_orderkey"))} as y
        from orders
      ),
      ranked as (
        select {t} as tile, o_orderkey as fid, x, y,
               row_number() over (partition by {t}
                                  order by o_totalprice desc, o_orderkey) as rn
        from pts
      ),
      cand as (select * from ranked where rn <= {LABEL_K}),
      g1 as (select * from cand where rn = 1),
      {', '.join(steps)}
      select tile, fid, rn as rank, x, y from g{LABEL_K}
    """


def _q_geojson_points(spark, sf_dir):
    """Distributed GeoJSON export (geometry_ops.geojson_point_col — the
    reference's Feature.toGeoJson()/GeoJson.java writer as a pure-JVM
    string column): precision-7 coordinates rendered through
    decimal(11,7), the one double->string path byte-identical across
    engines."""
    from geodesk_spark.operators import geometry_ops

    df = _derived_orders(spark, sf_dir)
    geom = geometry_ops.geojson_point_col(F.col("x"), F.col("y"))
    feature = F.concat(
        F.lit('{"type":"Feature","id":"node/'),
        F.col("o_orderkey").cast("string"),
        F.lit('","geometry":'),
        geom,
        F.lit(',"properties":{}}'),
    )
    return df.select(F.col("o_orderkey").alias("key"), feature.alias("geojson"))


def _coord7_sql() -> tuple[str, str]:
    """The byte-identical double->string coordinate render (decimal(11,7)
    cast chain, CLAUDE.md invariant) — ONE definition for every export
    oracle, twin of geometry_ops._coord7_str."""
    c1 = repr(2 * math.pi / W)
    c2 = repr(360 / math.pi)
    lon7 = f"cast(cast(floor(cast(x as double) * 360 / {W!r} * 1e7 + 0.5) / 1e7 as decimal(11,7)) as varchar)"
    lat7 = (
        f"cast(cast(floor((atan(exp(cast(y as double) * {c1})) * {c2} - 90) * 1e7 + 0.5) / 1e7"
        f" as decimal(11,7)) as varchar)"
    )
    return lon7, lat7


def _geojson_points_sql() -> str:
    lon7, lat7 = _coord7_sql()
    return f"""
      with pts as ({_DERIVED_SQL})
      select o_orderkey as key,
             '{{"type":"Feature","id":"node/' || cast(o_orderkey as varchar) ||
             '","geometry":{{"type":"Point","coordinates":[' || {lon7} || ',' ||
             {lat7} || ']}},"properties":{{}}}}' as geojson
      from pts
    """


def _q_wkt_ways(spark, sf_dir):
    """Distributed WKT export over MULTI-VERTEX geometries: synthetic
    ways (8 consecutive order keys = one way, every 5th way an area)
    through geometry_ops.wkt_way_col -- LINESTRING / closed-POLYGON
    strings, byte-matched against the SQL twin."""
    from geodesk_spark.operators import geometry_ops

    df = _derived_orders(spark, sf_dir).select(
        F.expr("o_orderkey div 8").alias("way_id"),
        (F.col("o_orderkey") % 8).alias("seq"),
        "x",
        "y",
    )
    pts = df.groupBy("way_id").agg(
        F.sort_array(F.collect_list(F.struct("seq", "x", "y"))).alias("_pts")
    )
    return pts.select(
        "way_id",
        geometry_ops.wkt_way_col(F.col("_pts"), F.col("way_id") % 5 == 0).alias("wkt"),
    )


def _wkt_ways_sql() -> str:
    lon7, lat7 = _coord7_sql()
    return f"""
      with pts as ({_DERIVED_SQL}),
      w as (select o_orderkey // 8 as way_id, o_orderkey % 8 as seq, x, y from pts),
      c as (select way_id, seq, {lon7} || ' ' || {lat7} as pt, x, y from w),
      agg as (select way_id,
                     list(pt order by seq) as lpt,
                     list(x order by seq) as lx,
                     list(y order by seq) as ly
              from c group by 1),
      r as (select way_id,
                   array_to_string(lpt, ', ') as coords,
                   lpt[1] as fp,
                   (lx[1] = lx[-1] and ly[1] = ly[-1]) as closed,
                   way_id % 5 = 0 as is_area
            from agg)
      select way_id,
             case when is_area then 'POLYGON ((' ||
                       (case when closed then coords
                             else coords || ', ' || fp end) || '))'
                  else 'LINESTRING (' || coords || ')' end as wkt
      from r
    """


# --- GOL tile-index walk as a driver query (r04) ----------------------------

WALK_ZOOMS = (2, 4, 6)

WALK_BBOX = (-(1 << 30), -(1 << 29), 1 << 30, 1 << 29)


def _q_tile_walk(spark, sf_dir):
    """GOL tile-index walk (TileIndexWalker.java:174-305): the populated
    z6 tiles of the orders points (bounded, ≤4096 distinct cells —
    a driver-side dimension read by construction) are serialized into
    the GOL index layout and walked for a half-world query bbox; rows =
    (ord, tile, tip, nw) in the reference's depth-first pre-order with
    TIP word positions.  This is the partition-pruning CONTROL surface
    (like query_tile_list), not a fact-table operator — the oracle
    re-derives order, flags, AND the TIP arithmetic independently via
    recursive CTEs + cumulative record sizes."""
    from geodesk_spark.operators import tiling

    pts = tables.with_derived_points(tables.load_spread(spark, sf_dir, "orders"), "o_orderkey")
    z = 6
    cells = (
        pts.select(
            (
                F.lit(z << 24)
                + (F.shiftright(F.lit((1 << 31) - 1) - F.col("y").cast("long"), 32 - z) * F.lit(1 << 12))
                + F.shiftright(F.col("x").cast("long") + F.lit(1 << 31), 32 - z)
            ).alias("t")
        )
        .distinct()
        .collect()
    )
    populated = {int(r["t"]) for r in cells}
    walk = tiling.tile_index_walk(populated, *WALK_BBOX, zooms=WALK_ZOOMS)
    rows = [(i + 1, t, tip, nw) for i, (t, tip, nw) in enumerate(walk)]
    return spark.createDataFrame(rows, "ord int, tile long, tip long, nw int")


def _tile_walk_sql() -> str:
    """Independent SQL derivation of the walk: the tree from the same z6
    cells, pre-order via a scalar fixed-radix key, NW flags from the
    dense-bbox rule, and TIPs from cumulative record sizes in FULL-tree
    pre-order (records = 1 page word + 1 mask word (extent 4) +
    one slot per child; leaf TIP = parent record + 2 + child index).
    Portable oracle SQL: integer keys, no array paths, explicit
    anti-joins (see CLAUDE.md)."""
    qminx, qminy, qmaxx, qmaxy = WALK_BBOX
    zs = WALK_ZOOMS
    lvl_preds = []
    for z in zs:
        left = f"(({qminx}::bigint + 2147483648) >> {32 - z})"
        right = f"(({qmaxx}::bigint + 2147483648) >> {32 - z})"
        top = f"((2147483647::bigint - {qmaxy}) >> {32 - z})"
        bottom = f"((2147483647::bigint - {qminy}) >> {32 - z})"
        lvl_preds.append(
            f"when (tile >> 24) = {z} then (tile & 4095) between {left} and {right} "
            f"and ((tile >> 12) & 4095) between {top} and {bottom}"
        )
    in_bbox = "case " + " ".join(lvl_preds) + " else false end"
    return f"""
      with recursive pts as ({_DERIVED_SQL}),
      n6 as (select distinct (6 << 24)
                    | ((( (2147483647::bigint - y) >> 26 ) :: bigint) << 12)
                    | (((x + 2147483648) >> 26) :: bigint) as tile
             from pts),
      n4 as (select distinct (4 << 24)
                    | ((((tile >> 12) & 4095) >> 2) << 12)
                    | ((tile & 4095) >> 2) as tile from n6),
      n2 as (select distinct (2 << 24)
                    | ((((tile >> 12) & 4095) >> 2) << 12)
                    | ((tile & 4095) >> 2) as tile from n4),
      nodes as (select tile from n2 union select tile from n4 union select tile from n6),
      edges as (
        select (4 << 24) | ((((tile >> 12) & 4095) >> 2) << 12) | ((tile & 4095) >> 2) as parent,
               tile as child from n6
        union
        select (2 << 24) | ((((tile >> 12) & 4095) >> 2) << 12) | ((tile & 4095) >> 2) as parent,
               tile as child from n4
        union
        select 0 as parent, tile as child from n2
      ),
      -- childNumber within the parent's 4x4 grid (steps of 2)
      cn as (select parent, child,
                    (((child >> 12) & 4095) % 4) * 4 + ((child & 4095) % 4) as num
             from edges),
      -- FULL-tree pre-order (no bbox) as one integer: the path's digits
      -- childNumber + 1 (1..16) in base 32, most significant first, over
      -- the three levels; a node's trailing digits are 0, so it sorts
      -- before its whole subtree
      full_walk(tile, depth, okey) as (
        select child, 1, (num + 1) << 10 from cn where parent = 0
        union all
        select c.child, f.depth + 1, f.okey + ((c.num + 1) << (5 * (2 - f.depth)))
        from full_walk f join cn c on c.parent = f.tile
      ),
      kids as (select parent, count(*) as n from cn group by 1),
      -- records: the root (pos 1, key 0) + every internal node, in
      -- pre-order; record size = 1 page word + 1 mask word + n slots
      -- (extent 4)
      recs as (
        select 0 as tile, 0 as okey, 2 + (select n from kids where parent = 0) as size
        union all
        select f.tile, f.okey, 2 + k.n as size
        from full_walk f join kids k on k.parent = f.tile
      ),
      rpos as (select tile,
                      1 + coalesce(sum(size) over (order by okey
                            rows between unbounded preceding and 1 preceding), 0) as pos
               from recs),
      -- leaf TIP: parent record pos + 2 + index among the parent's
      -- children; a leaf is a child that is no one's parent
      slot as (select c.child as tile,
                      rp.pos + 2 + (row_number() over (partition by c.parent order by c.num) - 1) as tip
               from cn c join rpos rp on rp.tile = c.parent
               left join kids k on k.parent = c.child
               where k.parent is null),
      tips as (select tile, pos as tip from rpos where tile <> 0
               union all select tile, tip from slot),
      visible as (
        select f.tile, f.depth, f.okey from full_walk f
        where {in_bbox.replace('tile', 'f.tile')}
      ),
      -- the walker prunes whole subtrees: a node is visited only when
      -- it and its parent are
      vis_rec(tile, okey) as (
        select tile, okey from visible where depth = 1
        union all
        select v.tile, v.okey
        from vis_rec p join cn c on c.parent = p.tile join visible v on v.tile = c.child
      )
      select cast(row_number() over (order by v.okey) as int) as ord,
             v.tile,
             t.tip,
             cast(case when {qmaxy} > 2147483647 - (((v.tile >> 12) & 4095) << (32 - (v.tile >> 24))) then 128 else 0 end
                + case when {qminx} < ((v.tile & 4095) << (32 - (v.tile >> 24))) - 2147483648 then 64 else 0 end as int) as nw
      from vis_rec v join tips t on t.tile = v.tile
    """
