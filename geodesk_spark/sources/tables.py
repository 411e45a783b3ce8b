"""Loaders for the driver's parquet tables + deterministic geo-derivation.

The TPC-H-ish tables carry no coordinates, so geospatial oracle queries
derive lon/lat from integer keys with pure rational arithmetic — bit-
identical between Spark and DuckDB — then project with the exact
Mercator formulas (floor(v+0.5) rounding both sides).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from geodesk_spark.geo.mercator import MAP_WIDTH, MAX_LAT, MIN_LAT

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def parquet_rows(sf_dir: str, name: str) -> int:
    """Row count from the parquet FOOTER (driver-side, milliseconds —
    no Spark job)."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(f"{sf_dir}/{name}.parquet").metadata.num_rows


def load_spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``load`` + repartition when the file gives fewer input splits
    than the session has cores.  Small local test files arrive as ONE
    split, which serializes every downstream per-row kernel onto one
    task (measured: the whole minhash pipeline on sf0.1 documents ran
    single-threaded).  At 100 TB the table has thousands of splits and
    this is a no-op — the condition keeps the extra shuffle strictly a
    small-file correction, never a cost at scale.
    """
    df = load(spark, sf_dir, name)
    parallelism = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < parallelism:
        return df.repartition(parallelism)
    return df


# --- deterministic key→geo derivation (shared Spark/SQL recipe) -------------
# lon in (-180, 180), lat in (-80, 80); pure integer modulo + division so
# both engines compute identical doubles.

def lon_expr(key: str) -> str:
    return f"(((({key}) * 9973) % 360000) / 1000.0 - 180.0) * 0.999"


def lat_expr(key: str) -> str:
    return f"(((({key}) * 7919) % 160000) / 1000.0 - 80.0) * 0.999"


def x_expr(lon_sql: str) -> str:
    return f"cast(floor({MAP_WIDTH!r} * ({lon_sql}) / 360 + 0.5) as bigint)"


def y_expr(lat_sql: str) -> str:
    lat = f"least(greatest({lat_sql}, {MIN_LAT!r}), {MAX_LAT!r})"
    return (
        f"cast(floor(ln(tan(({lat} + 90) * pi() / 360)) * ({MAP_WIDTH!r} / 2 / pi()) + 0.5) as bigint)"
    )


def tile_expr(x_sql: str, y_sql: str, zoom: int) -> str:
    """(zoom<<24) | (row<<12) | col without bit ops (portable SQL):
    integer divide by 2^(32-zoom)."""
    step = 1 << (32 - zoom)
    col = f"cast(floor((({x_sql}) + 2147483648) / {step}) as bigint)"
    row = f"cast(floor((2147483647 - ({y_sql})) / {step}) as bigint)"
    return f"({zoom * (1 << 24)} + ({row}) * 4096 + ({col}))"


def with_derived_points(df: DataFrame, key_col: str) -> DataFrame:
    """Spark twin of the SQL recipe above (same expressions via F.expr)."""
    lon = lon_expr(key_col)
    lat = lat_expr(key_col)
    return (
        df.withColumn("lon", F.expr(lon))
        .withColumn("lat", F.expr(lat))
        .withColumn("x", F.expr(x_expr("lon")))
        .withColumn("y", F.expr(y_expr("lat")))
    )


# --- derived bbox features (multi-tile assignment oracle) --------------------
# Half-extents are powers of two from the key so features land on every
# pyramid level {12,10,8,6,4} plus the oversized→root fallback; pure
# integer/pow arithmetic, identical in Spark SQL and DuckDB.

def half_extent_exprs(key: str) -> tuple[str, str]:
    # Moduli 18 and 17 are coprime so the (dx, dy) exponent pair cycles
    # through all 306 combinations (37 ≡ 1 and 53 ≡ -1 mod 18 would
    # otherwise anti-correlate the axes and starve large-square features).
    dx = f"cast(pow(2.0, 12 + ((({key}) * 37) % 18)) as bigint)"
    dy = f"cast(pow(2.0, 12 + ((({key}) * 53) % 17)) as bigint)"
    return dx, dy


def box_exprs(x: str, y: str, dx: str, dy: str) -> dict[str, str]:
    lo, hi = -(1 << 31), (1 << 31) - 1
    return {
        "minx": f"greatest(({x}) - ({dx}), {lo})",
        "maxx": f"least(({x}) + ({dx}), {hi})",
        "miny": f"greatest(({y}) - ({dy}), {lo})",
        "maxy": f"least(({y}) + ({dy}), {hi})",
    }


def with_derived_boxes(df: DataFrame, key_col: str) -> DataFrame:
    """Derived bbox features: point ± power-of-two half-extents (clamped)."""
    df = with_derived_points(df, key_col)
    dx, dy = half_extent_exprs(key_col)
    for name, sql in box_exprs("x", "y", dx, dy).items():
        df = df.withColumn(name, F.expr(sql))
    return df


# --- derived segments (line-predicate + length oracles) ----------------------
# Second endpoint = first + deterministic delta in [-2^24, 2^24); bounded
# deltas keep every SQL-side cross product ≤ 2^58, exact in DuckDB int64
# (the Spark-side kernel is exact regardless via the bigint fallback).

def segment_delta_exprs(key: str) -> tuple[str, str]:
    ddx = f"(((({key}) * 104729) % 33554432) - 16777216)"
    ddy = f"(((({key}) * 130363) % 33554432) - 16777216)"
    return ddx, ddy


def long_segment_delta_exprs(key: str) -> tuple[str, str]:
    """Long-segment deltas in [-2^28, 2^28) — corridor-scale features for
    the crossing join; cross products vs world coords stay < 2^61, exact
    int64 in both engines."""
    ddx = f"(((({key}) * 363889) % 536870912) - 268435456)"
    ddy = f"(((({key}) * 516127) % 536870912) - 268435456)"
    return ddx, ddy


def _with_segments(df: DataFrame, key_col: str, delta_exprs) -> DataFrame:
    """Shared recipe: x1/y1 = derived point, x2/y2 = point + delta,
    clamped int32 — the ONE place the clamp and x2/y2 form live (the
    short and long variants had drifted-prone verbatim copies)."""
    df = with_derived_points(df, key_col)
    ddx, ddy = delta_exprs(key_col)
    lo, hi = -(1 << 31), (1 << 31) - 1
    return (
        df.withColumn("x1", F.col("x"))
        .withColumn("y1", F.col("y"))
        .withColumn("x2", F.expr(f"least(greatest(x + ({ddx}), {lo}), {hi})"))
        .withColumn("y2", F.expr(f"least(greatest(y + ({ddy}), {lo}), {hi})"))
    )


def with_derived_long_segments(df: DataFrame, key_col: str) -> DataFrame:
    """x1/y1 (derived point) and x2/y2 = point + long delta, clamped int32."""
    return _with_segments(df, key_col, long_segment_delta_exprs)


def with_derived_segments(df: DataFrame, key_col: str) -> DataFrame:
    """Adds x1/y1 (derived point) and x2/y2 (short offset), clamped int32."""
    return _with_segments(df, key_col, segment_delta_exprs)
