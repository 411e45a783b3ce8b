"""Tile assignment: the GOL-build tile-pyramid placement, Spark-first.

Rules (derived from the reference's storage invariants):

- The pyramid materializes zoom levels {4,6,8,10,12} by default
  (ZoomLevels.java:15); steps between consecutive levels are 1-3 zooms
  (ZoomLevels.java:98-113).
- A feature carries only two duplication flags, MULTITILE_WEST and
  MULTITILE_NORTH (FeatureFlags.java:19-24), so a stored feature spans
  at most 2×2 tiles at its assigned zoom.  A copy's WEST flag means
  "this feature also appears in the tile to the west"; NORTH likewise
  (row-1, rows grow southward).
- Placement: a feature is assigned to the HIGHEST zoom in the level set
  at which its bbox spans ≤2 columns and ≤2 rows; a feature too large
  even for the lowest level goes to the root tile 0/0/0 (zoom 0) with
  no flags — the reference's oversized-feature fallback.
- Query-time dedup (RTreeQueryTask.java:103-104 + TileIndexWalker.java
  :251-284): a copy in tile T is suppressed iff its multitile flags
  intersect the query's "northwestFlags" for T — NORTH when the query
  window extends north of T (maxY > topY(T)), WEST when it extends west
  (minX < leftX(T)).  Every feature is then emitted exactly once, from
  its northwest-most copy inside the window, with NO shuffle-based
  distinct.

Point features (our images) always occupy a single tile — flags 0 —
so the hot path is pure built-in column arithmetic.  Bbox features
(polygon layers, way-like fixtures) take the explode path.

Scale notes: tile ids are plain int columns; `repartition(col)` or
Iceberg partition-by-tile makes tile the physical partition key, and
the bbox→tile-range enumeration happens driver-side so queries prune
partitions before any scan.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from geodesk_spark.geo import mercator, tile as T

ZOOM_LEVELS = T.DEFAULT_ZOOM_LEVELS


# Column expressions of the hot paths (point tiling here, kNN rounds in
# knn.py), built once per (session, arguments): rebuilding them costs
# py4j round trips per call.
_EXPR_CACHE: dict = {}


def session_exprs(df: DataFrame, key: tuple, build) -> dict:
    """``build()``'s Column expressions for ``df``'s session and ``key``,
    built on the first call only.  ``key`` starts with the caller's name
    so two callers never share an entry."""
    k = (id(df.sparkSession), *key)
    exprs = _EXPR_CACHE.get(k)
    if exprs is None:
        exprs = _EXPR_CACHE[k] = build()
    return exprs


def with_imp_coords(df: DataFrame, lon="lon", lat="lat") -> DataFrame:
    """Add int32 imp x/y from lon/lat — JVM-side, no UDF."""
    return df.withColumns(session_exprs(df, ("imp", lon, lat), lambda: {
        "x": mercator.x_from_lon_col(F.col(lon)),
        "y": mercator.y_from_lat_col(F.col(lat)),
    }))


def with_point_tiles(df: DataFrame, zooms=ZOOM_LEVELS) -> DataFrame:
    """Add one tile column per zoom level + the canonical cell at max zoom."""

    def build():
        x, y = F.col("x"), F.col("y")
        exprs = {f"tile_z{z}": T.tile_col(x, y, z) for z in zooms}
        exprs["cell"] = exprs[f"tile_z{max(zooms)}"].cast("long")
        return exprs

    return df.withColumns(session_exprs(df, ("tiles", tuple(zooms)), build))


def assign_zoom_col(minx: Column, miny: Column, maxx: Column, maxy: Column, zooms=ZOOM_LEVELS) -> Column:
    """Column: highest zoom in `zooms` where the bbox spans ≤2 cols and ≤2 rows."""
    expr = F.lit(0)  # fallback: root tile
    for z in sorted(zooms):  # build from low to high; later (higher) wins
        col_span = T.column_from_x_col(maxx, z) - T.column_from_x_col(minx, z)
        row_span = T.row_from_y_col(miny, z) - T.row_from_y_col(maxy, z)
        expr = F.when((col_span < 2) & (row_span < 2), F.lit(z)).otherwise(expr)
    return expr


def explode_bbox_tiles(df: DataFrame, zooms=ZOOM_LEVELS) -> DataFrame:
    """Multi-tile duplication for bbox features, fully JVM-side.

    Input needs int columns minx/miny/maxx/maxy.  Output adds:
      zoom   — assigned pyramid level,
      tile   — one row per copy (≤4 copies),
      flags  — MULTITILE_WEST / MULTITILE_NORTH per copy.
    """
    df = df.withColumn("zoom", assign_zoom_col(F.col("minx"), F.col("miny"), F.col("maxx"), F.col("maxy"), zooms))

    # Per copy offsets (dc, dr) ∈ {0,1}²; copy exists iff bbox spans that col/row.
    copies = F.array(
        *[
            F.struct(F.lit(dc).alias("dc"), F.lit(dr).alias("dr"))
            for dc in (0, 1)
            for dr in (0, 1)
        ]
    )
    df = df.withColumn("_copy", F.explode(copies))

    zoom = F.col("zoom")
    # The shift amount is per-row (dynamic zoom) → SQL expr, still codegen'd.
    c0 = F.expr(f"shiftright(cast(minx as bigint) + {1 << 31}, 32 - zoom)")
    c1 = F.expr(f"shiftright(cast(maxx as bigint) + {1 << 31}, 32 - zoom)")
    r0 = F.expr(f"shiftright({(1 << 31) - 1} - cast(maxy as bigint), 32 - zoom)")  # top row
    r1 = F.expr(f"shiftright({(1 << 31) - 1} - cast(miny as bigint), 32 - zoom)")  # bottom row

    dc = F.col("_copy.dc").cast("long")
    dr = F.col("_copy.dr").cast("long")
    exists = ((dc == 0) | (c1 > c0)) & ((dr == 0) | (r1 > r0))
    df = df.filter(exists)
    col_ = c0 + dc
    row_ = r0 + dr
    tile_ = (zoom.cast("long") * F.lit(1 << 24) + F.shiftleft(row_, 12) + col_).cast("int")
    flags_ = (dc * T.MULTITILE_WEST + dr * T.MULTITILE_NORTH).cast("int")
    return df.withColumn("tile", tile_).withColumn("flags", flags_).drop("_copy")


def nw_dedup_filter(qminx: int, qmaxy: int) -> Column:
    """Query-time exactly-once filter for exploded copies.

    northwestFlags per tile (TileIndexWalker.java:287-297 dense-bbox path):
      NORTH if query maxY > topY(tile), WEST if query minX < leftX(tile);
    a copy survives iff (flags & northwestFlags) == 0
    (RTreeQueryTask.java:103-104).
    """
    top_y = F.lit((1 << 31) - 1) - F.expr("shiftleft(cast(((tile >> 12) & 4095) as bigint), 32 - (tile >> 24))")
    left_x = F.expr("shiftleft(cast((tile & 4095) as bigint), 32 - (tile >> 24))") - F.lit(1 << 31)
    nw = (
        F.when(F.lit(qmaxy) > top_y, F.lit(T.MULTITILE_NORTH)).otherwise(F.lit(0))
        + F.when(F.lit(qminx) < left_x, F.lit(T.MULTITILE_WEST)).otherwise(F.lit(0))
    )
    return F.col("flags").bitwiseAND(nw) == 0


# ---------------------------------------------------------------------------
# Slow, obviously-correct Python reference (the "GOL reference" stand-in for
# golden checks — SURVEY.md §5).  Per-row scalar code; never used in queries.
# ---------------------------------------------------------------------------

def slow_assign(minx: int, miny: int, maxx: int, maxy: int, zooms=ZOOM_LEVELS):
    """Return list of (zoom, tile, flags) copies for one bbox feature."""
    for z in sorted(zooms, reverse=True):
        c0 = (minx + (1 << 31)) >> (32 - z)
        c1 = (maxx + (1 << 31)) >> (32 - z)
        r0 = ((1 << 31) - 1 - maxy) >> (32 - z)
        r1 = ((1 << 31) - 1 - miny) >> (32 - z)
        if c1 - c0 < 2 and r1 - r0 < 2:
            out = []
            for dc in range(c1 - c0 + 1):
                for dr in range(r1 - r0 + 1):
                    flags = (T.MULTITILE_WEST if dc else 0) | (T.MULTITILE_NORTH if dr else 0)
                    t = (z << 24) | ((r0 + dr) << 12) | (c0 + dc)
                    out.append((z, t, flags))
            return out
    return [(0, 0, 0)]


def slow_query_tiles(qminx, qminy, qmaxx, qmaxy, zooms=ZOOM_LEVELS):
    """Enumerate (tile, northwestFlags) for a query bbox over all levels —
    the dense-bbox walk of TileIndexWalker.java:287-297 (plus zoom 0 root)."""
    out = []
    for z in [0, *sorted(zooms)]:
        c0 = (qminx + (1 << 31)) >> (32 - z)
        c1 = (qmaxx + (1 << 31)) >> (32 - z)
        r0 = ((1 << 31) - 1 - qmaxy) >> (32 - z)
        r1 = ((1 << 31) - 1 - qminy) >> (32 - z)
        for r in range(r0, r1 + 1):
            for c in range(c0, c1 + 1):
                top = (1 << 31) - 1 - (r << (32 - z))
                left = (c << (32 - z)) - (1 << 31)
                nw = (T.MULTITILE_NORTH if qmaxy > top else 0) | (
                    T.MULTITILE_WEST if qminx < left else 0
                )
                out.append(((z << 24) | (r << 12) | c, nw))
    return out


def query_tile_list(qminx, qminy, qmaxx, qmaxy, zooms=ZOOM_LEVELS) -> list[int]:
    """Driver-side tile enumeration for partition pruning (the Spark analog
    of the tile-index walk, SURVEY.md §2.1 'Tile-index walk')."""
    return [t for t, _ in slow_query_tiles(qminx, qminy, qmaxx, qmaxy, zooms)]


# ---------------------------------------------------------------------------
# GOL tile-index walk: serialized-index TIP assignment + walk order
# (TileIndexWalker.java:58-82 Level.init, :174-305 next()).  TIPs order the
# physical layout (walk-order clustering), so the storage-layout sort key
# and the reference's tile enumeration agree record for record.
# ---------------------------------------------------------------------------


def _tile_tree(populated: set[int], zooms) -> tuple[set[int], dict[int, set[int]]]:
    """Ancestor closure of ``populated`` over the level set + child map.
    Tiles are packed (z << 24) | (row << 12) | col (Tile.java:34-41)."""
    zs = sorted(zooms)
    tree: set[int] = set()
    children: dict[int, set[int]] = {}
    for t0 in populated:
        t = t0
        z = t >> 24
        if z not in zs:
            raise ValueError(f"tile zoom {z} not in level set {zs}")
        while True:
            tree.add(t)
            i = zs.index(z)
            pz = zs[i - 1] if i else 0
            dz = z - pz
            p = (pz << 24) | ((((t >> 12) & 0xFFF) >> dz) << 12) | ((t & 0xFFF) >> dz)
            children.setdefault(p, set()).add(t)
            if pz == 0:
                tree.add(0)
                break
            t, z = p, pz
    return tree, children


# Default level set for the serialized walk: the DEFAULT pyramid levels
# {4,6,8,10,12} plus a zoom-2 bridge, because TileIndexWalker's 64-bit
# childTileMask defines extents 2/4/8 only (steps 1-3) and the root→4
# step of the raw default would need a 16×16 grid the reference walker
# cannot read (gol-tool lays the root out specially; its source is not
# in the reference repo, so we constrain instead of guessing).
WALK_ZOOM_LEVELS = (2, *ZOOM_LEVELS)


def build_tile_index(populated: set[int], zooms=WALK_ZOOM_LEVELS, page_of=None):
    """Serialize a GOL-style tile index for a populated-tile set.

    Layout per the walker's reads (TileIndexWalker.java): a tile WITH
    children gets a record ``[page word][childTileMask (2 words when
    extent==8, else 1)][one slot per existing child, childNumber
    ascending]`` (Level.init:80-82 ``pChildEntries = pEntry +
    (extent==8 ? 12 : 8)``; next():216-217 bit-count slot lookup).  A
    slot holds the child's page shifted left 2 (flags 00, leaf) or a
    byte offset to the child's record with flag bit 01 (next():292-300
    ``pEntry += pageOrPtr ^ 1``).  The root record sits at word 1
    (start():123 ``root.init(buf, pTileIndex + 4, ...)``), records are
    appended in walk (pre)order.

    TIP per the walker (next():301): the child-record word index for
    tiles with children, the parent-slot word index for leaves.

    Steps between levels must be 1-3 (ZoomLevels.zoomSteps:108-109);
    unlike the reference we also require the root step ≤ 3 — a 64-bit
    childTileMask cannot express the DEFAULT {4,..} root's 16×16 grid,
    so root-adjacent levels in this engine start no higher than zoom 3.

    Returns (words, tips): the int32 word array and {tile: TIP}.
    """
    zs = sorted(zooms)
    steps = [zs[0]] + [b - a for a, b in zip(zs, zs[1:])]
    if not all(1 <= s <= 3 for s in steps):
        raise ValueError(f"level steps must be 1-3, got {steps} for {zs}")
    tree, children = _tile_tree(set(populated), zs)
    page_of = page_of or {}
    next_page = [1]

    def page(t: int) -> int:
        if t not in page_of:
            page_of[t] = next_page[0]
            next_page[0] += 1
        return page_of[t]

    words: list[int] = [0]  # word 0: index header (unused by the walker)
    tips: dict[int, int] = {}

    def emit(t: int, zi: int) -> int:
        """Append t's record; return its word position."""
        pos = len(words)
        step = steps[zi]
        extent = 1 << step
        cz = zs[zi]
        tile_left = (t & 0xFFF) << step
        tile_top = ((t >> 12) & 0xFFF) << step
        kids = sorted(
            children.get(t, ()),
            key=lambda c: (((c >> 12) & 0xFFF) - tile_top) * extent
            + ((c & 0xFFF) - tile_left),
        )
        mask = 0
        for c in kids:
            mask |= 1 << (
                (((c >> 12) & 0xFFF) - tile_top) * extent + ((c & 0xFFF) - tile_left)
            )
        words.append(page(t) << 2)  # the record tile's own page
        words.append(mask & 0xFFFFFFFF)
        if extent == 8:
            words.append((mask >> 32) & 0xFFFFFFFF)
        slot0 = len(words)
        words.extend(0 for _ in kids)  # slots, patched below
        for i, c in enumerate(kids):
            slot = slot0 + i
            if children.get(c):
                rec = emit(c, zi + 1)
                words[slot] = ((rec - slot) * 4) | 1  # relative byte ptr, flag 01
                tips[c] = rec
            else:
                words[slot] = page(c) << 2  # leaf page, flags 00
                tips[c] = slot
        return pos

    root_pos = emit(0, 0)
    assert root_pos == 1
    tips[0] = 1
    return words, tips


def tile_index_walk(
    populated: set[int],
    qminx: int,
    qminy: int,
    qmaxx: int,
    qmaxy: int,
    zooms=WALK_ZOOM_LEVELS,
) -> list[tuple[int, int, int]]:
    """Enumerate (tile, tip, northwestFlags) for a query bbox in the
    reference's EXACT walk order (TileIndexWalker.java:174-305):
    depth-first pre-order — a tile is reported, then its child level is
    walked to exhaustion before its next sibling — row-major within each
    level, empty cells skipped via the child mask.  northwestFlags per
    the dense-bbox rule (next():287-297).  Driver-side control only
    (the result lists tiles/partitions to scan); never per-row."""
    zs = sorted(zooms)
    steps = [zs[0]] + [b - a for a, b in zip(zs, zs[1:])]
    tree, children = _tile_tree(set(populated), zs)
    _, tips = build_tile_index(populated, zs)
    out: list[tuple[int, int, int]] = []

    def visit(parent: int, zi: int) -> None:
        z = zs[zi]
        step = steps[zi]
        extent = 1 << step
        tile_left = (parent & 0xFFF) << step
        tile_top = ((parent >> 12) & 0xFFF) << step
        left = (qminx + (1 << 31)) >> (32 - z)
        right = (qmaxx + (1 << 31)) >> (32 - z)
        top = ((1 << 31) - 1 - qmaxy) >> (32 - z)
        bottom = ((1 << 31) - 1 - qminy) >> (32 - z)
        c0, c1 = max(left - tile_left, 0), min(right - tile_left, extent - 1)
        r0, r1 = max(top - tile_top, 0), min(bottom - tile_top, extent - 1)
        for r in range(r0, r1 + 1):
            for c in range(c0, c1 + 1):
                t = (z << 24) | ((tile_top + r) << 12) | (tile_left + c)
                if t not in tree:
                    continue
                top_y = (1 << 31) - 1 - ((tile_top + r) << (32 - z))
                left_x = ((tile_left + c) << (32 - z)) - (1 << 31)
                nw = (T.MULTITILE_NORTH if qmaxy > top_y else 0) | (
                    T.MULTITILE_WEST if qminx < left_x else 0
                )
                out.append((t, tips[t], nw))
                if children.get(t) and zi + 1 < len(zs):
                    visit(t, zi + 1)

    visit(0, 0)
    return out


# --- the range cover: box -> cell keys at one zoom ---------------------------
# The one owner of "box -> packed cell keys" (explode_cover, the tile clips,
# the kNN rounds, distance_join).  cover_bounds_sql / cover_cell_sql are its
# oracles' twins, which the big-big joins' exactly-once rules need bit-equal.


def cover_cell_col(zoom: int, rr, cc):
    """Packed cell id zoom·2²⁴ + row·4096 + col (matches tile id packing).

    zoom ≤ 12 only: rows/cols beyond 4095 would silently collide in the
    12-bit row shift — and this packing is THE single definition behind
    the exactly-once intersection-cell rule of the big-big joins."""
    assert zoom <= 12, f"cover_cell packing is 12-bit row/col; got zoom={zoom}"
    return F.lit(zoom * (1 << 24)).cast("long") + rr * 4096 + cc


def cover_ranges(zoom: int, minx: Column, miny: Column, maxx: Column, maxy: Column):
    """(c0, c1, r0, r1) bigint Columns: ``zoom``'s col/row ranges of the
    imp box [minx, maxx] × [miny, maxy], clamped to the grid so a box past
    the world edge cannot spill into the next row's bits.  In the world
    they equal :func:`cover_bounds_sql`'s floor((v + 2³¹) / step)."""
    step = F.lit(float(1 << (32 - zoom)))
    lo, hi = F.lit(0).cast("long"), F.lit((1 << zoom) - 1).cast("long")
    west, north = F.lit(1 << 31).cast("long"), F.lit((1 << 31) - 1).cast("long")

    def index(v):
        return F.least(F.greatest(F.floor(v / step), lo), hi)

    return (
        index(minx + west),
        index(maxx + west),
        index(north - maxy),
        index(north - miny),
    )


def range_cover(df: DataFrame, zoom: int, box: tuple[str, str, str, str]) -> DataFrame:
    """``df`` exploded to one row per ``zoom`` cell of its box (four SQL
    expressions over ``df``: minx, miny, maxx, maxy), adding ``_cc``,
    ``_rr`` and ``cell``; the expressions are built once per session and
    (zoom, box) through :func:`session_exprs`."""

    def build():
        c0, c1, r0, r1 = cover_ranges(zoom, *(F.expr(b) for b in box))
        return {
            "cc": F.explode(F.sequence(c0, c1)),
            "rr": F.explode(F.sequence(r0, r1)),
            "cell": cover_cell_col(zoom, F.col("_rr"), F.col("_cc")),
        }

    ex = session_exprs(df, ("range_cover", zoom, box), build)
    return (
        df.withColumn("_cc", ex["cc"])
        .withColumn("_rr", ex["rr"])
        .withColumn("cell", ex["cell"])
    )


def explode_cover(df: DataFrame, zoom: int) -> DataFrame:
    """:func:`range_cover` of each segment's bbox (… x1 y1 x2 y2)."""
    return range_cover(
        df, zoom, ("least(x1, x2)", "least(y1, y2)", "greatest(x1, x2)", "greatest(y1, y2)")
    )


def cover_bounds_sql(zoom: int) -> dict[str, str]:
    """SQL twins of cover_bounds_cols over columns x1/y1/x2/y2."""
    step = 1 << (32 - zoom)
    return {
        "cmin": f"cast(floor((least(x1, x2) + 2147483648) / {step}) as bigint)",
        "cmax": f"cast(floor((greatest(x1, x2) + 2147483648) / {step}) as bigint)",
        "rmin": f"cast(floor((2147483647 - greatest(y1, y2)) / {step}) as bigint)",
        "rmax": f"cast(floor((2147483647 - least(y1, y2)) / {step}) as bigint)",
    }


def cover_cell_sql(zoom: int, rr: str = "rr", cc: str = "cc") -> str:
    return f"({zoom * (1 << 24)} + {rr} * 4096 + {cc})"


# ---------------------------------------------------------------------------
# S2-style normalized hierarchical cell cover (mixed-level quadtree covering)
# ---------------------------------------------------------------------------

def hierarchical_cover(
    df: DataFrame,
    z_min: int = 4,
    z_max: int = 12,
    minx: str = "minx",
    miny: str = "miny",
    maxx: str = "maxx",
    maxy: str = "maxy",
) -> DataFrame:
    """S2-style NORMALIZED mixed-level cell cover of a bbox: cells fully
    inside the box are emitted at the coarsest level that contains them;
    only boundary cells refine, down to ``z_max`` where remaining partial
    cells are emitted as-is.

    This is the covering that powers index acceleration at scale (S2's
    ``RegionCoverer``; GeoDesk's tile-pyramid assignment is the 2-level
    special case, TileIndexWalker.java:251-284): a query geometry covered
    by O(perimeter) mixed-level cells range-joins against a cell-keyed
    fact table with interior cells needing NO exact test (``full=true``
    ≈ the interior-waive verdict of operators/predicates.py).

    Output: input row × cover cell → columns ``zoom`` (int), ``tile``
    (the (zoom<<24)+(row<<12)+col packing of geo/tile.py, zoom ≤ 12) and
    ``full`` (boolean: cell entirely inside the bbox).

    Scale shape: per level the candidate enumeration is the BOUNDARY
    STRIPS of the parent ring only — 2 column strips + 2 row strips,
    O(perimeter/step) cells — never the full W×H grid (a world-sized
    bbox at z12 would be 16.7M cells/row; the strips keep it ≤ ~16k).
    Everything is `sequence`/`explode` + integer column arithmetic in
    one codegen stage per level; levels union without a shuffle.
    Exactly-once: a cell is emitted iff it intersects the box, its
    parent is NOT fully inside, and (it IS fully inside or z = z_max) —
    so emitted cells partition the set of intersecting z_max cells
    (tests/test_tiling.py pins this against a recursive reference).
    """
    from functools import reduce

    assert 0 <= z_min <= z_max <= 12, "packing is 12-bit row/col (zoom <= 12)"
    HALF = 1 << 31

    def _full(z: int, cc, rr):
        step = 1 << (32 - z)
        fx = ((cc * F.lit(step) - F.lit(HALF)) >= F.col(minx).cast("long")) & (
            ((cc + 1) * F.lit(step) - F.lit(HALF + 1)) <= F.col(maxx).cast("long")
        )
        fy = ((F.lit(HALF) - (rr + 1) * F.lit(step)) >= F.col(miny).cast("long")) & (
            (F.lit(HALF - 1) - rr * F.lit(step)) <= F.col(maxy).cast("long")
        )
        return fx & fy

    levels = []
    for z in range(z_min, z_max + 1):
        c0, c1, r0, r1 = cover_ranges(z, *(F.col(c) for c in (minx, miny, maxx, maxy)))
        lvl = df
        if z == z_min:
            strips = F.array(F.struct(c0.alias("clo"), c1.alias("chi"), r0.alias("rlo"), r1.alias("rhi")))
        else:
            cp0, cp1 = F.shiftright(c0, 1), F.shiftright(c1, 1)
            rp0, rp1 = F.shiftright(r0, 1), F.shiftright(r1, 1)
            l_hi = F.least(c1, cp0 * 2 + 1)
            r_lo = F.greatest(l_hi + 1, cp1 * 2)
            t_hi = F.least(r1, rp0 * 2 + 1)
            b_lo = F.greatest(t_hi + 1, rp1 * 2)
            mid_lo, mid_hi = l_hi + 1, r_lo - 1
            strips = F.array(
                F.struct(c0.alias("clo"), l_hi.alias("chi"), r0.alias("rlo"), r1.alias("rhi")),
                F.struct(r_lo.alias("clo"), c1.alias("chi"), r0.alias("rlo"), r1.alias("rhi")),
                F.struct(mid_lo.alias("clo"), mid_hi.alias("chi"), r0.alias("rlo"), t_hi.alias("rhi")),
                F.struct(mid_lo.alias("clo"), mid_hi.alias("chi"), b_lo.alias("rlo"), r1.alias("rhi")),
            )
        lvl = (
            lvl.withColumn("_st", F.explode(strips))
            .filter((F.col("_st.clo") <= F.col("_st.chi")) & (F.col("_st.rlo") <= F.col("_st.rhi")))
            .withColumn("_cc", F.explode(F.sequence(F.col("_st.clo"), F.col("_st.chi"))))
            .withColumn("_rr", F.explode(F.sequence(F.col("_st.rlo"), F.col("_st.rhi"))))
        )
        cc, rr = F.col("_cc"), F.col("_rr")
        full = _full(z, cc, rr)
        if z > z_min:
            # strips bound the ENUMERATION; the exact rule is "parent not
            # fully inside" (a ring parent can still be full when the box
            # is tile-aligned — its children must not re-emit)
            lvl = lvl.filter(~_full(z - 1, F.shiftright(cc, 1), F.shiftright(rr, 1)))
        if z < z_max:
            lvl = lvl.filter(full)
        levels.append(
            lvl.withColumn("zoom", F.lit(z))
            .withColumn("tile", (F.lit(z << 24) + rr * 4096 + cc).cast("long"))
            .withColumn("full", full)
            .drop("_st", "_cc", "_rr")
        )
    return reduce(DataFrame.unionByName, levels)


def hierarchical_cover_sql(
    rel: str,
    z_min: int = 4,
    z_max: int = 12,
    extra_cols: str = "key",
) -> str:
    """Independent DuckDB twin of :func:`hierarchical_cover` over a
    relation with (extra_cols, minx, miny, maxx, maxy): enumerates the
    FULL intersecting grid per level (no boundary-strip optimization)
    and applies the per-cell emit rule directly — green parity proves
    the strip enumeration loses/duplicates nothing."""
    parts = []
    for z in range(z_min, z_max + 1):
        step = 1 << (32 - z)
        pstep = step * 2
        fx = f"(cc * {step} - 2147483648 >= minx and (cc + 1) * {step} - 2147483649 <= maxx)"
        fy = f"(2147483648 - (rr + 1) * {step} >= miny and 2147483647 - rr * {step} <= maxy)"
        if z == z_min:
            guard = "true"
        else:
            pfx = f"((cc >> 1) * {pstep} - 2147483648 >= minx and ((cc >> 1) + 1) * {pstep} - 2147483649 <= maxx)"
            pfy = f"(2147483648 - ((rr >> 1) + 1) * {pstep} >= miny and 2147483647 - (rr >> 1) * {pstep} <= maxy)"
            guard = f"not ({pfx} and {pfy})"
        emit = f"({fx} and {fy})" if z < z_max else "true"
        parts.append(f"""
          select {extra_cols}, {z} as zoom,
                 cast({z * (1 << 24)} + rr * 4096 + cc as bigint) as tile,
                 (case when {fx} and {fy} then 1 else 0 end) as is_full
          from (
            select *,
                   unnest(generate_series(
                       cast(floor((minx + 2147483648.0) / {step}) as bigint),
                       cast(floor((maxx + 2147483648.0) / {step}) as bigint))) as cc
            from (
              select *,
                     unnest(generate_series(
                         cast(floor((2147483647.0 - maxy) / {step}) as bigint),
                         cast(floor((2147483647.0 - miny) / {step}) as bigint))) as rr
              from {rel}))
          where {guard} and {emit}""")
    return " union all ".join(parts)


def cover_join(
    points: DataFrame,
    boxes: DataFrame,
    z_min: int = 6,
    z_max: int = 10,
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """Covering join: points × bbox features through the
    :func:`hierarchical_cover` index instead of a θ-join.

    Each point explodes to its (z_min..z_max) ancestor cells — a fixed
    ×(levels) fan-out, the S2 covering-join trade — and equi-joins on
    the packed cell id (zoom lives in the id's high bits, so one join
    column matches mixed levels).  A point inside a ``full`` cover cell
    needs NO exact test (the interior-waive fast path — at a real
    workload's selectivity that is the vast majority of matches); only
    boundary-cell hits run the bbox comparison.

    Exactly-once by construction: a box's cover cells are disjoint, so
    a point hits at most one of them — no distinct, no dedup window.
    Spark plans this as ONE equi-join (broadcast when the cover side is
    dimension-sized, shuffle hash otherwise) with every expression in
    whole-stage codegen.

    Returns the joined frame (point cols + box cols + zoom/tile/full);
    semantically equal to
    ``points CROSS JOIN boxes WHERE x BETWEEN minx AND maxx AND y
    BETWEEN miny AND maxy`` (tests/test_tiling.py pins the equality).
    """
    cover = hierarchical_cover(boxes, z_min, z_max)

    def ancestor(z):
        c, _, r, _ = cover_ranges(z, F.col(x), F.col(y), F.col(x), F.col(y))
        return cover_cell_col(z, r, c)

    pts = points.withColumn("tile", F.explode(F.array(*[ancestor(z) for z in range(z_min, z_max + 1)])))
    j = pts.join(cover, "tile")
    exact = (
        (F.col(x) >= F.col("minx"))
        & (F.col(x) <= F.col("maxx"))
        & (F.col(y) >= F.col("miny"))
        & (F.col(y) <= F.col("maxy"))
    )
    return j.filter(F.col("full") | exact)


def cell_union_compact(
    cells: DataFrame, tile_col: str = "tile", materialize: bool = False
) -> DataFrame:
    """Normalize a tile/cell SET into its minimal equivalent cover — the
    S2 ``CellUnion.Normalize`` analog over the geo/tile.py pyramid
    ((zoom<<24)|(row<<12)|col packing): dedup, drop cells contained in a
    coarser cell of the set, and recursively replace every complete
    4-sibling quartet with its parent.  The compacted set covers
    exactly the same ground with the fewest cells — what you persist as
    a region index entry or broadcast as a pruning filter.

    Scale shape: containment removal is ONE explode of each cell's
    ≤MAX_ZOOM ancestor ids (pure integer columns) + a semi join against
    the set; the merge is a bounded bottom-up loop (≤ max input zoom
    rounds).  Each round is a SINGLE pass over the set — a count()
    window keyed on the level's parent ids, then every complete quartet
    rewrites to its parent in place — so the lazy plan tower grows
    linearly in zoom depth (a join/union formulation would reference
    the running set 3× per round and recompute the base scan
    exponentially at collect time).  Cell sets are index-sized, so the
    per-round window shuffle runs on dimension data, never facts.
    ``materialize=True`` additionally localCheckpoints each round (for
    very deep pyramids).

    Returns a single ``tile`` column (int), distinct.
    """
    from pyspark.sql import Window

    t = F.col(tile_col).cast("long")
    zoom = F.shiftright(t, 24)
    row = F.shiftright(t, 12).bitwiseAND(F.lit(0xFFF))
    col = t.bitwiseAND(F.lit(0xFFF))
    cur = cells.select(t.alias("tile")).distinct()

    # drop cells contained in a coarser cell of the set: explode ancestors
    def _shr(v, dz):
        # v >> dz with a COLUMN shift amount (shiftright needs a literal):
        # exact for v < 2^53 and dz <= 12 (pow-of-two doubles are exact)
        return F.floor(v.cast("double") / F.pow(F.lit(2.0), dz.cast("double"))).cast(
            "long"
        )

    anc = F.transform(
        F.sequence(F.lit(1), zoom),
        lambda dz: (
            F.shiftleft(zoom - dz, 24)
            + F.shiftleft(_shr(row, dz), 12)
            + _shr(col, dz)
        ),
    )
    pairs = cur.select("tile", F.explode(anc).alias("anc"))
    contained = pairs.join(
        cur.select(F.col("tile").alias("anc")), "anc", "left_semi"
    ).select("tile")
    cur = cur.join(contained, "tile", "left_anti")

    # ONE driver action to bound the loop; each level-z pass then runs
    # without any further collect — merged parents land at z-1 and are
    # picked up by the next iteration naturally.
    z_top = cur.agg(F.max(F.shiftright(F.col("tile"), 24))).collect()[0][0]
    if z_top is None:
        return cur
    cur = cur.localCheckpoint()  # seal the explode/anti-join base once
    for z_cur in range(int(z_top), 0, -1):
        z = F.shiftright(F.col("tile"), 24)
        r = F.shiftright(F.col("tile"), 12).bitwiseAND(F.lit(0xFFF))
        c = F.col("tile").bitwiseAND(F.lit(0xFFF))
        parent = (
            F.shiftleft(z - 1, 24)
            + F.shiftleft(F.shiftright(r, 1), 12)
            + F.shiftright(c, 1)
        )
        # one window pass: p = parent id for this level's cells (NULL for
        # other levels); a complete quartet (4 siblings sharing p) rewrites
        # to p, everything else passes through unchanged.
        cur = (
            cur.withColumn("_p", F.when(z == z_cur, parent))
            # coalesce keeps non-level rows in singleton partitions instead
            # of one giant NULL partition; a member's tile id can never
            # equal a level cell's parent id (containment removal + the
            # no-descendants-under-a-merge invariant), so no collisions.
            .withColumn(
                "_n",
                F.count("_p").over(
                    Window.partitionBy(F.coalesce("_p", "tile"))
                ),
            )
            .select(
                F.when(
                    F.col("_p").isNotNull() & (F.col("_n") == 4), F.col("_p")
                )
                .otherwise(F.col("tile"))
                .alias("tile")
            )
            .distinct()
        )
        if materialize:
            cur = cur.localCheckpoint()
    return cur


def tile_balance_audit(
    points: DataFrame,
    zoom: int,
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Geographic-balance audit of a corpus — the curation statistic a
    10^12-image pool needs before training: how evenly does the data
    spread over the tile grid?  One row with

    - ``n_tiles`` (occupied), ``n_total`` (points),
    - ``entropy_micronats`` — Shannon entropy of the tile distribution
      H = ln N − Σ nᵢ·ln nᵢ / N in integer micro-nats: each ln takes an
      INTEGER argument and floor-quantizes to bigint (the CLAUDE.md
      integer-ln law), the weighted sum is exact, and the single final
      division is floor integer division — bit-identical cross-engine.
      max-entropy uniform spread ⇒ ln n_tiles; one hot tile ⇒ → 0.
    - ``gini_num`` — the EXACT integer numerator Σ (2i−K−1)·n₍ᵢ₎ of the
      Gini coefficient over ascending per-tile counts (i 1-based,
      ties broken by tile id); G = gini_num / (K·N) is the caller's
      one float division.

    Shape: one groupBy(tile) shuffle over facts, then ONE window + agg
    over the K tile-rollup rows (bounded by 4^zoom, never by the fact
    table) — the audit costs a rollup regardless of corpus size.
    """
    from geodesk_spark.operators.text import _qln_micro
    from pyspark.sql import Window

    counts = (
        points.select(T.tile_col(F.col(x_col), F.col(y_col), zoom).alias("tile"))
        .groupBy("tile")
        .agg(F.count("*").alias("n"))
    )
    w = Window.orderBy("n", "tile")
    ranked = counts.withColumn("_i", F.row_number().over(w)).withColumn(
        "_k", F.count("*").over(Window.partitionBy())
    )
    agg = ranked.agg(
        F.count("*").alias("n_tiles"),
        F.sum("n").alias("n_total"),
        F.sum(F.col("n") * _qln_micro(F.col("n"))).alias("_s1"),
        F.sum((F.lit(2) * F.col("_i") - F.col("_k") - 1) * F.col("n")).alias(
            "gini_num"
        ),
    )
    num = (_qln_micro(F.col("n_total")) * F.col("n_total") - F.col("_s1")).alias("_num")
    return agg.select("n_tiles", "n_total", num, "gini_num").select(
        "n_tiles",
        "n_total",
        # bigint `div` (positive numerator ⇒ floor), matching DuckDB's
        # `//` exactly — NEVER float-divide then cast (the rounding law)
        F.expr("_num div n_total").cast("bigint").alias("entropy_micronats"),
        F.col("gini_num").cast("bigint").alias("gini_num"),
    )


def tile_balance_audit_sql(pts_rel: str, zoom: int) -> str:
    """DuckDB twin of tile_balance_audit (same integer-ln + exact-Gini
    formulation) over ``pts_rel`` (x, y)."""
    from geodesk_spark.operators.text import _qln_micro_sql
    from geodesk_spark.sources.tables import tile_expr

    return f"""
      with c as (select {tile_expr('x', 'y', zoom)} as tile, count(*) as n
                 from ({pts_rel}) p group by 1),
      r as (select n, row_number() over (order by n, tile) as i,
                   count(*) over () as k
            from c),
      a as (select count(*) as n_tiles, sum(n) as n_total,
                   sum(n * {_qln_micro_sql('n')}) as s1,
                   sum((2 * i - k - 1) * n) as gini_num
            from r)
      select n_tiles, n_total,
             cast(({_qln_micro_sql('n_total')} * n_total - s1) // n_total
                  as bigint) as entropy_micronats,
             cast(gini_num as bigint) as gini_num
      from a
    """


_DP_M31 = 2147483648


def _dp_laplace_table(eps: float) -> list[tuple[int, int, int]]:
    """Inverse-CDF table for the DISCRETE Laplace distribution
    P(k) ∝ e^(−eps·|k|): rows (k, lo, hi) with [lo, hi) cumulative
    ranges scaled to 2³¹, support clamped where the tail falls below
    one part in 2³¹ (the clamp mass folds into the end buckets).
    Computed HOST-side once — the same integer literals reach Spark
    and DuckDB, so no engine evaluates a transcendental (the
    _sun_constants discipline)."""
    import math

    p = math.exp(-eps)
    K = int(math.ceil(math.log(2.0 ** 31) / eps))
    w = [p ** abs(k) for k in range(-K, K + 1)]
    tot = sum(w)
    rows = []
    cum = 0.0
    lo = 0
    for i, k in enumerate(range(-K, K + 1)):
        cum += w[i]
        hi = _DP_M31 if i == 2 * K else int(math.floor(cum / tot * _DP_M31))
        if hi > lo:
            rows.append((k, lo, hi))
            lo = hi
    return rows


def dp_noisy_tile_counts(
    points: DataFrame,
    zoom: int,
    eps: float = 0.5,
    seed: int = 42,
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Differentially-private tile histogram — the location-privacy
    release every geo data product needs before publishing density:
    per-tile counts + discrete-Laplace noise at privacy budget ``eps``
    (the geometric mechanism — Ghosh/Roughgarden/Sundararajan's
    universally-optimal integer mechanism for counts).

    DETERMINISTIC noise (reproducible releases, exact cross-engine
    parity): the mechanism's inverse CDF becomes a host-literal
    (k, lo, hi) range table; a MINSTD LCG of (tile, seed) draws
    u ∈ [0, 2³¹) and ONE broadcast range join picks the noise value.
    Determinism is a *release artifact* property — rerunning the same
    release is idempotent, while a new release uses a new ``seed``
    (standard practice: the seed is part of the release's privacy
    accounting, one draw per (tile, seed)).

    One fact rollup + one broadcast join over ≤ 2·ceil(31·ln2/eps)+1
    literal rows; noisy counts clamp at 0 (post-processing, free).

    → (tile, n, noise, noisy_n).
    """
    table = _dp_laplace_table(eps)
    counts = (
        points.select(T.tile_col(F.col(x_col), F.col(y_col), zoom).alias("tile"))
        .groupBy("tile")
        .agg(F.count("*").alias("n"))
    )
    # seed is diffused through a full multiplicative round of its own —
    # a bare "+ seed" moves u by only 48271·Δseed, far below the CDF
    # bucket width, so adjacent seeds would reuse the same noise
    h0 = (
        (F.col("tile") % _DP_M31) * 48271 + F.lit((seed * 2654435761) % _DP_M31)
    ) % _DP_M31
    u = (h0 * 48271) % _DP_M31
    counts = counts.withColumn("_u", u)
    spark = points.sparkSession
    tbl = spark.createDataFrame(table, "k long, lo long, hi long")
    out = counts.join(
        F.broadcast(tbl), (F.col("_u") >= F.col("lo")) & (F.col("_u") < F.col("hi"))
    )
    return out.select(
        "tile",
        "n",
        F.col("k").alias("noise"),
        F.greatest(F.col("n") + F.col("k"), F.lit(0)).alias("noisy_n"),
    )


def dp_noisy_tile_counts_sql(
    pts_rel: str, zoom: int, eps: float = 0.5, seed: int = 42
) -> str:
    """DuckDB twin of dp_noisy_tile_counts (same literal table, LCG,
    range join)."""
    from geodesk_spark.sources.tables import tile_expr

    table = _dp_laplace_table(eps)
    vals = ",".join(f"({k},{lo},{hi})" for k, lo, hi in table)
    return f"""
      with c as (select {tile_expr('x', 'y', zoom)} as tile, count(*) as n
                 from ({pts_rel}) p group by 1),
      u as (select tile, n,
                   (((tile % {_DP_M31}) * 48271
                     + {(seed * 2654435761) % _DP_M31}) % {_DP_M31} * 48271)
                     % {_DP_M31} as u
            from c)
      select u.tile, u.n, t.k as noise,
             greatest(u.n + t.k, 0) as noisy_n
      from u join (values {vals}) t(k, lo, hi)
        on u.u >= t.lo and u.u < t.hi
    """
