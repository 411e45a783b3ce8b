"""Space-filling-curve cell ids (Z-order / Morton).

The reference clusters storage by its TIP walk order over the tile tree
(feature/store/TileIndexWalker.java:174-305) so spatially-near tiles
are file-near.  The cloud-warehouse analog is Z-ordering (Iceberg's
z-order rewrite, Delta OPTIMIZE ZORDER): interleave the tile col/row
bits so one int64 sort key clusters both axes.  Used as a sort/
bucketing key, it turns bbox queries into a handful of contiguous
row-group ranges — the same effect the TIP layout gives the mmap'd GOL.

Both the numpy kernel and the Column/SQL builders run the identical
shift-mask sequence, so the DuckDB oracle hash-matches bit-for-bit.
"""

from __future__ import annotations

import numpy as np

from geodesk_spark.geo import tile as T

# standard 16→32 bit spread (each step doubles the gap between bits)
_SPREAD = [
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
]


def spread_bits(v: np.ndarray) -> np.ndarray:
    """Insert a 0 between each of the low 16 bits (numpy int64)."""
    v = np.asarray(v, dtype=np.int64) & 0xFFFF
    for shift, mask in _SPREAD:
        v = (v | (v << shift)) & mask
    return v


def morton_cell(x: np.ndarray, y: np.ndarray, zoom: int) -> np.ndarray:
    """int64 Z-order id: zoom in the high byte, interleaved (row, col)
    below — sort-compatible within a zoom level."""
    col = np.asarray(T.column_from_x(x, zoom), dtype=np.int64)
    row = np.asarray(T.row_from_y(y, zoom), dtype=np.int64)
    z = (spread_bits(row) << 1) | spread_bits(col)
    return (np.int64(zoom) << 56) | z


def _spread_sql(expr: str) -> str:
    out = f"(({expr}) & 65535)"
    for shift, mask in _SPREAD:
        out = f"((({out} | ({out} << {shift})) ) & {mask})"
    return out


def morton_sql(x_sql: str, y_sql: str, zoom: int) -> str:
    """DuckDB/Spark-SQL twin of morton_cell (same shift-mask order)."""
    step = 1 << (32 - zoom)
    col = f"cast(floor((({x_sql}) + 2147483648) / {step}) as bigint)"
    row = f"cast(floor((2147483647 - ({y_sql})) / {step}) as bigint)"
    return (
        f"(cast({zoom} as bigint) * {1 << 56} + "
        f"(({_spread_sql(row)} << 1) | {_spread_sql(col)}))"
    )


def morton_cell_col(x_col, y_col, zoom: int):
    """Pure-Column Z-order id (JVM, no UDF) — same arithmetic."""
    from pyspark.sql import functions as F

    col = T.column_from_x_col(x_col, zoom).cast("long")
    row = T.row_from_y_col(y_col, zoom).cast("long")

    def spread(v):
        v = v.bitwiseAND(F.lit(0xFFFF))
        for shift, mask in _SPREAD:
            v = (v.bitwiseOR(F.shiftleft(v, shift))).bitwiseAND(F.lit(mask))
        return v

    z = F.shiftleft(spread(row), 1).bitwiseOR(spread(col))
    return F.lit(zoom << 56).cast("long") + z


# --- Hilbert curve (the S2-style clustering key) ----------------------------
#
# Z-order has unbounded jumps at quadrant seams; the Hilbert curve (what
# S2 cell ids use) guarantees consecutive ids are ALWAYS edge-adjacent
# cells, so range scans over the sort key touch contiguous runs with
# strictly better worst-case locality.  Standard iterative xy→d with
# per-level rotation; numpy kernel, Column builder, and SQL twin run the
# identical step sequence.


def hilbert_cell(x: np.ndarray, y: np.ndarray, zoom: int) -> np.ndarray:
    """int64 Hilbert id at `zoom`: zoom in the high byte, curve distance
    below (sort-compatible within a zoom level, like morton_cell)."""
    cx = np.asarray(T.column_from_x(x, zoom), dtype=np.int64)
    ry_ = np.asarray(T.row_from_y(y, zoom), dtype=np.int64)
    d = np.zeros_like(cx)
    xx, yy = cx.copy(), ry_.copy()
    s = np.int64(1) << (zoom - 1) if zoom > 0 else np.int64(0)
    while s > 0:
        rx = ((xx & s) > 0).astype(np.int64)
        ry = ((yy & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # rotate quadrant
        swap = ry == 0
        flip = swap & (rx == 1)
        xx_f = np.where(flip, s - 1 - xx, xx)
        yy_f = np.where(flip, s - 1 - yy, yy)
        xx, yy = np.where(swap, yy_f, xx_f), np.where(swap, xx_f, yy_f)
        s >>= 1
    return (np.int64(zoom) << 56) | d


def hilbert_cell_cols(df, x_col: str, y_col: str, zoom: int, out: str = "hcell"):
    """Add `out` = Hilbert id, built level-by-level as narrow projections
    (one withColumn per level keeps the expression tree linear in zoom —
    a single nested expression would double per level through the
    conditional rotation)."""
    from pyspark.sql import functions as F

    df = df.withColumn("_hx", T.column_from_x_col(F.col(x_col), zoom).cast("long"))
    df = df.withColumn("_hy", T.row_from_y_col(F.col(y_col), zoom).cast("long"))
    df = df.withColumn("_hd", F.lit(0).cast("long"))
    s = 1 << (zoom - 1) if zoom > 0 else 0
    while s > 0:
        rx = F.when(F.col("_hx").bitwiseAND(F.lit(s)) > 0, F.lit(1)).otherwise(F.lit(0))
        ry = F.when(F.col("_hy").bitwiseAND(F.lit(s)) > 0, F.lit(1)).otherwise(F.lit(0))
        df = df.withColumn("_rx", rx.cast("long")).withColumn("_ry", ry.cast("long"))
        df = df.withColumn(
            "_hd",
            F.col("_hd")
            + F.lit(s * s).cast("long")
            * (F.lit(3) * F.col("_rx")).bitwiseXOR(F.col("_ry")),
        )
        flip = (F.col("_ry") == 0) & (F.col("_rx") == 1)
        swap = F.col("_ry") == 0
        xf = F.when(flip, F.lit(s - 1) - F.col("_hx")).otherwise(F.col("_hx"))
        yf = F.when(flip, F.lit(s - 1) - F.col("_hy")).otherwise(F.col("_hy"))
        df = df.withColumn("_hxf", xf).withColumn("_hyf", yf)
        df = df.withColumn(
            "_hx2", F.when(swap, F.col("_hyf")).otherwise(F.col("_hxf"))
        ).withColumn("_hy2", F.when(swap, F.col("_hxf")).otherwise(F.col("_hyf")))
        df = df.withColumn("_hx", F.col("_hx2")).withColumn("_hy", F.col("_hy2"))
        s >>= 1
    df = df.withColumn(out, F.lit(zoom << 56).cast("long") + F.col("_hd"))
    return df.drop("_hx", "_hy", "_hd", "_rx", "_ry", "_hxf", "_hyf", "_hx2", "_hy2")


# --- Geohash (the base32 trie key) ------------------------------------------
#
# The fourth named index family: geohash interleaves lon/lat bins into a
# base32 string whose PREFIXES form a spatial trie — equal-prefix grouping
# is a coarser cell, so one string column supports multi-resolution
# rollups (substr) and prefix-range scans, complementing morton (int
# sort key), hilbert (adjacency) and hex (isotropic neighborhoods).
# 8 chars = 40 bits = 20 bits/axis (~19 m × 38 m at the equator).
# Same contract as the others: numpy kernel, pure-Column builder and
# portable SQL twin run the identical op sequence, bit-for-bit.

GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"

# 20-bit spread over int64 (5 steps; the 16-bit _SPREAD plus a leading
# 16-shift step with 64-bit masks).
_SPREAD20 = [
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
]


def _bin20(deg: np.ndarray, lo: float, width: float) -> np.ndarray:
    """floor((deg - lo) / width * 2^20), clamped to the 20-bit range.
    Op order is the parity contract — (deg+offset)/width first, then
    scale, then floor."""
    u = (np.asarray(deg, dtype=np.float64) - lo) / width
    b = np.floor(u * 1048576.0).astype(np.int64)
    return np.clip(b, 0, 1048575)


def _spread20(v: np.ndarray) -> np.ndarray:
    v = np.asarray(v, dtype=np.int64) & 0xFFFFF
    for shift, mask in _SPREAD20:
        v = (v | (v << shift)) & mask
    return v


def geohash8(lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """8-char geohash per point (numpy, vectorized)."""
    z = (_spread20(_bin20(lon, -180.0, 360.0)) << 1) | _spread20(
        _bin20(lat, -90.0, 180.0)
    )
    idx = np.stack([(z >> (35 - 5 * k)) & 31 for k in range(8)], axis=1)
    lut = np.array(list(GEOHASH_ALPHABET))
    return np.array(["".join(row) for row in lut[idx]])


def with_geohash8(df, lon_col, lat_col, name: str):
    """``df`` plus a pure-Column 8-char geohash ``name`` (JVM, no UDF):
    bit-spread + base32 lookup via element_at over the alphabet array.

    The 20-bit bins, each spread step, z and the string are successive
    projected columns, and each step reads the previous one by name.
    Written inline, each spread step copies its operand twice and each
    character copies z: ~512 copies of the lon/lat expressions in one
    plan, a multi-MiB task binary.  Spark keeps the projections apart
    because each one's column is read more than once."""
    from pyspark.sql import functions as F

    def bin20(deg, lo, width):
        u = (deg.cast("double") - F.lit(lo)) / F.lit(width)
        b = F.floor(u * F.lit(1048576.0)).cast("long")
        return F.least(F.greatest(b, F.lit(0).cast("long")), F.lit(1048575).cast("long"))

    lo, la, z = "_gh_lon", "_gh_lat", "_gh_z"
    out = df.withColumns({
        lo: bin20(lon_col, -180.0, 360.0).bitwiseAND(F.lit(0xFFFFF)),
        la: bin20(lat_col, -90.0, 180.0).bitwiseAND(F.lit(0xFFFFF)),
    })
    for shift, mask in _SPREAD20:
        out = out.withColumns({
            c: (F.col(c).bitwiseOR(F.shiftleft(F.col(c), shift))).bitwiseAND(F.lit(mask))
            for c in (lo, la)
        })
    out = out.withColumn(z, F.shiftleft(F.col(lo), 1).bitwiseOR(F.col(la)))
    alphabet = F.array(*[F.lit(c) for c in GEOHASH_ALPHABET])
    chars = [
        F.element_at(
            alphabet, (F.shiftright(F.col(z), 35 - 5 * k).bitwiseAND(F.lit(31)) + 1).cast("int")
        )
        for k in range(8)
    ]
    return out.withColumn(name, F.concat(*chars)).drop(lo, la, z)


def _spread20_sql(expr: str) -> str:
    out = f"(({expr}) & 1048575)"
    for shift, mask in _SPREAD20:
        out = f"((({out} | ({out} << {shift}))) & {mask})"
    return out


def geohash_z_sql(lon_sql: str, lat_sql: str) -> str:
    """Portable SQL for the 40-bit interleave (DuckDB oracle side).
    The spread chain duplicates its operand per step, so compute z ONCE
    (in a CTE) and extract chars from the named column."""

    def bin20(deg, lo, width):
        u = f"((({deg}) - ({lo!r})) / {width!r})"
        b = f"cast(floor({u} * 1048576.0) as bigint)"
        return f"least(greatest({b}, 0), 1048575)"

    return (
        f"(({_spread20_sql(bin20(lon_sql, -180.0, 360.0))} << 1) | "
        f"{_spread20_sql(bin20(lat_sql, -90.0, 180.0))})"
    )


def geohash_chars_sql(z_sql: str) -> str:
    """base32 string from a (cheap, e.g. column-reference) z expression."""
    chars = [
        f"substr('{GEOHASH_ALPHABET}', cast(((({z_sql}) >> {35 - 5 * k}) & 31) as int) + 1, 1)"
        for k in range(8)
    ]
    return "concat(" + ", ".join(chars) + ")"


def hilbert_sql(x_sql: str, y_sql: str, zoom: int) -> str:
    """DuckDB twin of hilbert_cell: one chained CTE per level running the
    identical rotation steps."""
    step = 1 << (32 - zoom)
    parts = [
        f"h0 as (select *, "
        f"cast(floor((({x_sql}) + 2147483648) / {step}) as bigint) as hx, "
        f"cast(floor((2147483647 - ({y_sql})) / {step}) as bigint) as hy, "
        f"cast(0 as bigint) as hd from __hilbert_input__)"
    ]
    lvl = 0
    s = 1 << (zoom - 1) if zoom > 0 else 0
    while s > 0:
        prev, lvl = lvl, lvl + 1
        parts.append(
            f"h{lvl} as (select * exclude (hx, hy, hd, rx, ry), "
            f"hd + {s * s} * xor(3 * rx, ry) as hd, "
            f"case when ry = 0 then (case when rx = 1 then {s - 1} - hy else hy end) "
            f"else hx end as hx, "
            f"case when ry = 0 then (case when rx = 1 then {s - 1} - hx else hx end) "
            f"else hy end as hy "
            f"from (select *, "
            f"case when (hx & {s}) > 0 then 1 else 0 end as rx, "
            f"case when (hy & {s}) > 0 then 1 else 0 end as ry from h{prev})"
            f")"
        )
        s >>= 1
    return (
        ", ".join(parts),
        f"(select * exclude (hx, hy, hd), cast({zoom} as bigint) * {1 << 56} + hd as hcell from h{lvl})",
    )
