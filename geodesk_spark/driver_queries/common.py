"""Driver-contract query builders; registry.py assembles them into QUERIES."""

from __future__ import annotations


import math


from collections.abc import Callable


import numpy as np


from pyspark.sql import DataFrame, SparkSession, Window, functions as F


from geodesk_spark.geo import heading as H, mercator, pip, tile as T


from geodesk_spark.operators import ann, crossmodal, dedup, images, knn as knn_mod, skew, spatial_join, text, tiling


from geodesk_spark.sources import synth, tables


from geodesk_spark.sources.tables import lat_expr, lon_expr, tile_expr, x_expr, y_expr


EC = mercator.EARTH_CIRCUMFERENCE


W = mercator.MAP_WIDTH


CAIRO = (31.24, 30.04)


CAIRO_XY = (int(mercator.x_from_lon(CAIRO[0])[()]), int(mercator.y_from_lat(CAIRO[1])[()]))


def _hexagon(cx: int, cy: int, r: int) -> np.ndarray:
    """CCW hexagon in imp coords (closed ring), integer vertices."""
    ang = np.arange(6) * (2 * np.pi / 6)
    xs = (cx + r * np.cos(ang)).astype(np.int64)
    ys = (cy + r * np.sin(ang)).astype(np.int64)
    ring = np.stack([xs, ys], axis=1).astype(np.float64)
    return np.vstack([ring, ring[:1]])


HEX_R = 120_000_000  # ~10° of longitude in imps


HEX_RING = _hexagon(CAIRO_XY[0], CAIRO_XY[1], HEX_R)


KNN_QUERIES = [("q_cairo", 31.24, 30.04), ("q_nyc", -74.01, 40.71), ("q_pacific", -150.0, -20.0)]


KNN_K = 10


ANN_QUERY_IDS = [0, 7, 42, 123, 321]


ANN_K = 5


def _dist_sql(x1: str, y1: str, x2: str, y2: str) -> str:
    # All operands forced to double: the imp deltas squared overflow int64.
    # cosh via mercator.det_cosh_sql: bit-identical to the engine's
    # scale()/scale_col() on ANY DuckDB build (libm exp diverges between
    # builds — the r01/r03 box_area_m2 driver reds).
    dx = f"(cast({x1} as double) - cast({x2} as double))"
    dy = f"(cast({y1} as double) - cast({y2} as double))"
    t = f"(((cast({y1} as double) + cast({y2} as double)) / 2) * 2 * pi() / {W!r})"
    scale = mercator.det_cosh_sql(t)
    d = f"sqrt({dx} * {dx} + {dy} * {dy})"
    return f"({d} * {EC!r} / {W!r} / {scale})"


def _derived_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tables.with_derived_points(tables.load_spread(spark, sf_dir, "orders"), "o_orderkey")


_DERIVED_SQL = f"""
  select o_orderkey,
         {x_expr(lon_expr("o_orderkey"))} as x,
         {y_expr(lat_expr("o_orderkey"))} as y
  from orders
"""


def _part_features(spark, sf_dir):
    """part table viewed as an OSM-like feature table: tags map built from
    columns, with a conditionally-present 'big' key (absent ⟺ p_size ≤ 25)."""
    p = tables.load_spread(spark, sf_dir, "part")
    tags = F.map_filter(
        F.create_map(
            F.lit("brand"), F.col("p_brand"),
            F.lit("type"), F.col("p_type"),
            F.lit("size"), F.col("p_size").cast("string"),
            F.lit("big"), F.when(F.col("p_size") > 25, F.lit("yes")),
        ),
        lambda k, v: v.isNotNull(),
    )
    return (
        p.withColumn("ftype", F.lit("way"))
        .withColumn("is_area", F.lit(False))
        .withColumn("tags", tags)
    )


RECT = (
    CAIRO_XY[0] - (1 << 27),
    CAIRO_XY[1] - (1 << 26),
    CAIRO_XY[0] + (1 << 27),
    CAIRO_XY[1] + (1 << 26),
)


def _box_sql_base() -> str:
    dx, dy = tables.half_extent_exprs("o_orderkey")
    box = tables.box_exprs("x", "y", "dx", "dy")
    return f"""
      select o_orderkey as fid, {box['minx']} as minx, {box['maxx']} as maxx,
             {box['miny']} as miny, {box['maxy']} as maxy
      from (select o_orderkey, x, y, {dx} as dx, {dy} as dy from ({_DERIVED_SQL}) p) e
    """


