"""Tile-pyramid algebra over imp coordinates.

Semantics match ``geom/Tile.java`` exactly:

- tile number packs ``(zoom << 24) | (row << 12) | col`` (Tile.java:65-68);
- ``col = (x + 2^31) >> (32 - zoom)``            (Tile.java:88-91)
- ``row = (2^31 - 1 - y) >> (32 - zoom)``        (Tile.java:93-98) — y-flip,
  rows grow southward;
- tile extent at zoom z is ``2^(32-z)`` imps (Tile.java:45-49);
- zoom range 0..12 (Tile.java:112-118).

Everything exists twice: numpy kernels and Spark Column builders that use
only built-in integer/bit functions — tile assignment never leaves the JVM.
"""

from __future__ import annotations

import numpy as np

MAX_ZOOM = 12
DEFAULT_ZOOM_LEVELS = (4, 6, 8, 10, 12)  # ZoomLevels.java:15

# Multi-tile flags — FeatureFlags.java:19-24.  A copy of a feature carries
# WEST if the feature also appears in the tile to the west, NORTH if it also
# appears in the tile to the north (row - 1).
MULTITILE_WEST = 1 << 6
MULTITILE_NORTH = 1 << 7


def column_from_x(x, zoom: int) -> np.ndarray:
    """Tile.java:88-91 (int64 math avoids the int32 overflow)."""
    x = np.asarray(x, dtype=np.int64)
    return ((x + (1 << 31)) >> (32 - zoom)).astype(np.int32)


def row_from_y(y, zoom: int) -> np.ndarray:
    """Tile.java:93-98."""
    y = np.asarray(y, dtype=np.int64)
    return (((1 << 31) - 1 - y) >> (32 - zoom)).astype(np.int32)


def from_col_row_zoom(col, row, zoom: int) -> np.ndarray:
    """Tile.java:65-68."""
    col = np.asarray(col, dtype=np.int64)
    row = np.asarray(row, dtype=np.int64)
    return ((zoom << 24) | (row << 12) | col).astype(np.int32)


def from_xyz(x, y, zoom: int) -> np.ndarray:
    """Tile.java:79-86."""
    return from_col_row_zoom(column_from_x(x, zoom), row_from_y(y, zoom), zoom)


def zoom_of(tile) -> np.ndarray:
    return (np.asarray(tile, dtype=np.int64) >> 24).astype(np.int32)


def column_of(tile) -> np.ndarray:
    return (np.asarray(tile, dtype=np.int64) & 0xFFF).astype(np.int32)


def row_of(tile) -> np.ndarray:
    return ((np.asarray(tile, dtype=np.int64) >> 12) & 0xFFF).astype(np.int32)


def left_x(tile) -> np.ndarray:
    """Tile.java:127-132: ``(col - 2^(zoom-1)) << (32-zoom)`` (int32 wrap)."""
    z = zoom_of(tile).astype(np.int64)
    col = column_of(tile).astype(np.int64)
    return ((col << (32 - z)) - (1 << 31)).astype(np.int64).astype(np.int32)


def top_y(tile) -> np.ndarray:
    """Tile.java:168-172: ``2^31-1 - (row << (32-zoom))``."""
    z = zoom_of(tile).astype(np.int64)
    row = row_of(tile).astype(np.int64)
    return ((1 << 31) - 1 - (row << (32 - z))).astype(np.int64).astype(np.int32)


def bottom_y(tile) -> np.ndarray:
    """Tile.java:157-166: ``-2^31 - ((row+1) << (32-zoom))`` with int32 wrap."""
    z = zoom_of(tile).astype(np.int64)
    row = row_of(tile).astype(np.int64)
    v = (-(1 << 31)) - ((row + 1) << (32 - z))
    # Java int arithmetic wraps mod 2^32.
    return (v & 0xFFFFFFFF).astype(np.uint32).astype(np.int32)


def right_x(tile) -> np.ndarray:
    """Tile.java:141-147."""
    z = zoom_of(tile).astype(np.int64)
    lx = left_x(tile).astype(np.int64)
    return (lx + (1 << (32 - z)) - 1).astype(np.int32)


def bounds(tile):
    """(minx, miny, maxx, maxy) of a tile — Tile.java:214-222."""
    return left_x(tile), bottom_y(tile), right_x(tile), top_y(tile)


def zoomed_out(tile, zoom: int) -> np.ndarray:
    """Parent tile at a lower zoom — Tile.java:184-190."""
    delta = zoom_of(tile) - zoom
    return from_col_row_zoom(column_of(tile) >> delta, row_of(tile) >> delta, zoom)


def neighbor(tile, d_col: int, d_row: int) -> np.ndarray:
    """Adjacent tile with wraparound — Tile.java:201-212."""
    z = zoom_of(tile).astype(np.int64)
    mask = (np.int64(1) << z) - 1
    col = (column_of(tile) + d_col) & mask
    row = (row_of(tile) + d_row) & mask
    return ((z << 24) | (row << 12) | col).astype(np.int32)


def is_black(tile) -> np.ndarray:
    """Checkerboard home-tile heuristic — Tile.java:317-320."""
    t = np.asarray(tile, dtype=np.int64)
    return ((t ^ (t >> 12)) & 1) != 0


def from_string(s: str) -> int:
    """Parse ``z/col/row`` (or ``col/row`` at z12) — Tile.java:259-303."""
    parts = s.split("/")
    try:
        if len(parts) == 2:
            zoom, col, row = 12, int(parts[0]), int(parts[1])
        elif len(parts) == 3:
            zoom, col, row = int(parts[0]), int(parts[1]), int(parts[2])
        else:
            return -1
    except ValueError:
        return -1
    if zoom < 0 or zoom > 12:
        return -1
    extent = 1 << zoom
    if col < 0 or col >= extent or row < 0 or row >= extent:
        return -1
    return int(from_col_row_zoom(col, row, zoom))


def to_string(tile: int) -> str:
    return f"{int(zoom_of(tile))}/{int(column_of(tile))}/{int(row_of(tile))}"


# ---------------------------------------------------------------------------
# Spark Column builders (pure built-in int/bit ops — stays in codegen).
# ---------------------------------------------------------------------------

def _F():
    from pyspark.sql import functions as F

    return F


def column_from_x_col(x_col, zoom: int):
    F = _F()
    return F.shiftright(x_col.cast("long") + F.lit(1 << 31), 32 - zoom).cast("int")


def row_from_y_col(y_col, zoom: int):
    F = _F()
    return F.shiftright(F.lit((1 << 31) - 1) - y_col.cast("long"), 32 - zoom).cast("int")


def tile_col(x_col, y_col, zoom: int):
    """Column: imp (x, y) -> int tile id at ``zoom``.  No UDF."""
    F = _F()
    col = column_from_x_col(x_col, zoom).cast("long")
    row = row_from_y_col(y_col, zoom).cast("long")
    return (F.lit(zoom << 24).cast("long") + F.shiftleft(row, 12) + col).cast("int")


def column_of_col(tile_c):
    return tile_c.bitwiseAND(_F().lit(0xFFF))


def row_of_col(tile_c):
    F = _F()
    return F.shiftright(tile_c, 12).bitwiseAND(F.lit(0xFFF))


def zoomed_out_col(tile_c, zoom: int, from_zoom: int):
    """Parent tile column expression when the source zoom is a constant."""
    F = _F()
    delta = from_zoom - zoom
    col = F.shiftright(column_of_col(tile_c), delta).cast("long")
    row = F.shiftright(row_of_col(tile_c), delta).cast("long")
    return (F.lit(zoom << 24).cast("long") + F.shiftleft(row, 12) + col).cast("int")


# --- typed feature ids (FeatureId.java:20-48) -------------------------------
# node=0, way=1, relation=2 packed into the low 2 bits; FeatureId.sort
# (FeatureId.java:79-92) == orderBy(typed_id) once packed.

_FTYPE_CODE = {"node": 0, "way": 1, "relation": 2}


def typed_fid_col(fid_col, ftype_col):
    """Column: (fid << 2) | type_code — unique across feature types."""
    F = _F()
    code = (
        F.when(ftype_col == "node", 0)
        .when(ftype_col == "way", 1)
        .otherwise(2)
    )
    return F.shiftleft(fid_col.cast("long"), 2) + code


def fid_of_typed_col(typed_col):
    """Inverse: plain id (logical unsigned shift, FeatureId.java:45-48)."""
    F = _F()
    return F.shiftrightunsigned(typed_col.cast("long"), 2)


def ftype_of_typed_col(typed_col):
    F = _F()
    code = typed_col.cast("long") % 4
    return (
        F.when(code == 0, "node").when(code == 1, "way").otherwise("relation")
    )


def home_tile_col(start_tile, end_tile):
    """Checkerboard home-tile heuristic for multi-tile members
    (Tile.java:305-320): prefer a black tile as the home so large
    relations concentrate member lookups on half the grid — if the
    start tile is black it wins, else a black end tile, else the start
    tile.  (The reference ships the color predicate; the assignment
    preference is its documented use.)"""
    F = _F()
    start_black = ((start_tile.bitwiseXOR(F.shiftright(start_tile, 12))) % 2) != 0
    end_black = ((end_tile.bitwiseXOR(F.shiftright(end_tile, 12))) % 2) != 0
    return (
        F.when(start_black, start_tile)
        .when(end_black, end_tile)
        .otherwise(start_tile)
    )


def intersection(tile, minx, miny, maxx, maxy):
    """Tile.intersection(tile, bounds) (geom/Tile.java:344-356): clamp a
    bounds rect to the tile's pixel box — returns (minx, miny, maxx,
    maxy) arrays; like the reference, the result may be an "empty"
    box (min > max) when tile and bounds are disjoint (callers test
    Box.isEmpty, geo/box.py semantics)."""
    extent = (np.int64(1) << (32 - zoom_of(tile))).astype(np.int64)
    tminx = left_x(tile)
    tminy = bottom_y(tile)
    tmaxx = tminx + extent - 1
    tmaxy = tminy + extent - 1
    return (
        np.maximum(tminx, minx),
        np.maximum(tminy, miny),
        np.minimum(tmaxx, maxx),
        np.minimum(tmaxy, maxy),
    )


# --- quadkeys (Bing tile naming; the string form of the quad pyramid) -------
# digit i (outermost first) interleaves the i-th bits of row and col:
# d = 2*rowbit + colbit, so a PREFIX of a quadkey names the ancestor tile —
# the property that makes quadkeys a range-scannable storage key.


def quadkey(tile) -> np.ndarray:
    """Quadkey string per tile (vectorized)."""
    z = zoom_of(tile).astype(np.int64)
    col = column_of(tile).astype(np.int64)
    row = row_of(tile).astype(np.int64)
    zmax = int(z.max()) if z.size else 0
    out = np.full(np.shape(tile), "", dtype=f"<U{max(zmax, 1)}")
    flat_out = out.ravel()
    for idx in range(flat_out.size):
        zz, cc, rr = int(z.ravel()[idx]), int(col.ravel()[idx]), int(row.ravel()[idx])
        digits = [
            str(2 * ((rr >> (zz - i)) & 1) + ((cc >> (zz - i)) & 1))
            for i in range(1, zz + 1)
        ]
        flat_out[idx] = "".join(digits)
    return out


def quadkey_sql(col_sql: str, row_sql: str, zoom: int) -> str:
    """Portable SQL (Spark AND DuckDB) for the quadkey of a (col, row)
    pair at a LITERAL zoom — concat of per-level digit lookups, pure
    integer arithmetic, no UDF on either engine."""
    digits = []
    for i in range(1, zoom + 1):
        p = 1 << (zoom - i)
        digits.append(
            f"cast(2 * (cast(floor(({row_sql}) / {p}) as int) % 2)"
            f" + (cast(floor(({col_sql}) / {p}) as int) % 2) as string)"
        )
    return "concat(" + ", ".join(digits) + ")"


def quadkey_col(tile_c, zoom: int):
    """Column twin (zoom literal): digit arithmetic stays in codegen."""
    F = _F()
    col = column_of_col(tile_c)
    row = row_of_col(tile_c)
    parts = []
    for i in range(1, zoom + 1):
        d = (
            F.shiftright(row, zoom - i).bitwiseAND(F.lit(1)) * 2
            + F.shiftright(col, zoom - i).bitwiseAND(F.lit(1))
        )
        parts.append(d.cast("string"))
    return F.concat(*parts)
