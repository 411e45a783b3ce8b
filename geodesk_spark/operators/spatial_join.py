"""Broadcast spatial joins — the engine's flagship operator family.

Replicates the reference's tile-accelerated predicate evaluation
(§3.2 of SURVEY.md) as a **three-band broadcast join**:

- the reference's ``Filter.filterForTile(tile, tilePolygon)``
  (feature/Filter.java:61-77, AbstractRelateFilter.java:61-72,
  FastTileFilter.java:40-60) classifies every visited tile as
  *disjoint* (prune), *interior* (waive the geometry test) or
  *boundary* (full test);
- here, each broadcast polygon carries a precomputed tile
  classification at an adaptive zoom, and the join is ONE scan of the
  point table through two broadcast hash joins: no shuffle, no Python
  worker.  The band join classifies each point per polygon; BOUNDARY
  candidates then fetch the edges of their own thin row of the grid
  (their "slab") and run the half-open ray-cast fold on them as data.

At 100 TB this is the right shape: the polygon side is dimension-sized
(broadcast), the fact side streams through executors once, partition
pruning on the tile column can drop whole files before the scan, and
the exact-geometry fold touches only boundary-band rows (typically a
few % of candidates) and only their slab's edges, mirroring the
reference's work-avoidance.

Predicates offered (reference files in parens):
- ``contains_points``    — polygon containing point (ContainsPointFilter.java:26-72)
- ``intersects_bbox``    — feature bbox ∩ polygon bands (IntersectsFilter.java)
- ``within_distance``    — point within R meters of a target (PointDistanceFilter.java:28-122)
- ``disjoint``           — anti form (DisjointFilter.java:23-66)
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from geodesk_spark.geo import mercator, pip, tile as T

INTERIOR, BOUNDARY = 1, 2

_BANDS_CACHE: dict = {}

# Slab rows are 2**SLAB_STEP times thinner than the boundary cells, so
# a candidate folds over fewer edges (14,600-segment layer: 116 → 56
# per candidate, for a 2.2x larger slab table).
SLAB_STEP = 2

# Classification can go FINER than the z12 storage pyramid: the GOL tile
# cap is a storage-format constraint; in-engine acceleration may use any
# grid (it plays the role of the reference's sub-tile R-tree).  Cell ids
# at zoom z pack (z<<40)|(row<<20)|col — consistent across prepare and
# join, independent of the 12-bit GOL tile layout.
MAX_CLASSIFY_ZOOM = 16


def _cell_ids(zoom: int, rows, cols):
    rows = np.asarray(rows, dtype=np.int64)
    cols = np.asarray(cols, dtype=np.int64)
    return (np.int64(zoom) << 40) | (rows << 20) | cols


@dataclass
class PreparedPolygon:
    """Driver-side prepared geometry ≈ the reference's PreparedGeometry wrap
    (Features.java:447-460): rings + bbox + per-tile classification."""

    poly_id: str
    rings: list  # list[np.ndarray (n,2) float64], shell first
    minx: float
    miny: float
    maxx: float
    maxy: float
    zoom: int = 12
    # Flat single-zoom classification (for bbox-feature corner lookups in
    # operators/predicates.py): sorted int64 cell ids + band codes.
    band_tiles: np.ndarray = field(default_factory=lambda: np.empty(0, dtype=np.int64))
    band_codes: np.ndarray = field(default_factory=lambda: np.empty(0, dtype=np.int8))
    # Quadtree classification for the point join: interior kept at the
    # coarsest zoom where it is certain, boundary refined down to
    # MAX_CLASSIFY_ZOOM — a small table AND a small boundary band
    # (the analog of the reference's zoom-step tile tree,
    # ZoomLevels.java:98-113).
    qt_cells: np.ndarray = field(default_factory=lambda: np.empty(0, dtype=np.int64))
    qt_codes: np.ndarray = field(default_factory=lambda: np.empty(0, dtype=np.int8))
    # Exact-test geometry per boundary slab: slab_keys[i] is
    # (zoom << 20) | row of a sub-row (zoom + SLAB_STEP) of a row holding
    # BOUNDARY qt cells, slab_edges[i] the (k, 4) x1,y1,x2,y2 edges of
    # all rings whose y-range meets that sub-row.
    slab_keys: np.ndarray = field(default_factory=lambda: np.empty(0, dtype=np.int64))
    slab_edges: list = field(default_factory=list)

    def lookup_bands(self, tile_ids: np.ndarray) -> np.ndarray:
        """Vectorized band lookup: 0 = disjoint, else INTERIOR/BOUNDARY."""
        if len(self.band_tiles) == 0:
            return np.zeros(len(tile_ids), dtype=np.int8)
        pos = np.searchsorted(self.band_tiles, tile_ids)
        pos = np.clip(pos, 0, len(self.band_tiles) - 1)
        hit = self.band_tiles[pos] == tile_ids
        out = np.where(hit, self.band_codes[pos], 0).astype(np.int8)
        return out


def _cell_range(minx, miny, maxx, maxy, zoom: int) -> tuple[int, int, int, int]:
    """Inclusive (c0, c1, r0, r1) cell-index ranges of a bbox at ``zoom``
    (row 0 at the top of the map, matching tile row convention).  The
    ONE definition of the bbox→cell-range shift arithmetic — it used to
    be copy-pasted five times across this module (r03 review)."""
    c0 = int(minx + (1 << 31)) >> (32 - zoom)
    c1 = int(maxx + (1 << 31)) >> (32 - zoom)
    r0 = int((1 << 31) - 1 - maxy) >> (32 - zoom)
    r1 = int((1 << 31) - 1 - miny) >> (32 - zoom)
    return c0, c1, r0, r1


def _row_y_range(rows, zoom):
    """Inclusive imp y-range (miny, maxy) of cell ``rows`` at ``zoom``
    (row 0 at the top of the map) — the inverse of tile.row_from_y_col."""
    maxy = (1 << 31) - 1 - (rows << (32 - zoom))
    return maxy - (np.int64(1) << (32 - zoom)) + 1, maxy


def _segments(rings: list[np.ndarray]) -> np.ndarray:
    """All rings' segments as one (n_segs, 4) x1,y1,x2,y2 array."""
    return np.concatenate(
        [np.concatenate([r[:-1], r[1:]], axis=1) for r in rings], axis=0
    )


def _segment_bbox_mins_maxs(rings: list[np.ndarray]):
    """Per-segment bbox corners as (n_segs, 1) columns for broadcast
    cell-intersection tests (shared by the quadtree classifier and the
    conservative boundary rasterizer)."""
    segs = _segments(rings)
    return (
        np.minimum(segs[:, 0], segs[:, 2])[:, None],
        np.maximum(segs[:, 0], segs[:, 2])[:, None],
        np.minimum(segs[:, 1], segs[:, 3])[:, None],
        np.maximum(segs[:, 1], segs[:, 3])[:, None],
    )


def _touched_mask(cur_c, cur_r, zoom, sminx, smaxx, sminy, smaxy, chunk: int = 8192):
    """Which cells' bboxes intersect ANY segment bbox — vectorized with
    the segment dimension chunked so a coastline-sized ring never
    materializes an O(segs × cells) boolean matrix at once."""
    extent = np.int64(1) << (32 - zoom)
    cell_minx = (cur_c << (32 - zoom)) - (1 << 31)
    cell_maxx = cell_minx + extent - 1
    cell_miny, cell_maxy = _row_y_range(cur_r, zoom)
    touched = np.zeros(len(cur_c), dtype=bool)
    for s in range(0, len(sminx), chunk):
        e = s + chunk
        touched |= (
            (cell_minx[None, :] <= smaxx[s:e])
            & (cell_maxx[None, :] >= sminx[s:e])
            & (cell_miny[None, :] <= smaxy[s:e])
            & (cell_maxy[None, :] >= sminy[s:e])
        ).any(axis=0)
    return touched


def _quadtree_bands(
    rings: list[np.ndarray],
    minx: float,
    miny: float,
    maxx: float,
    maxy: float,
    base_axis: int = 64,
    max_zoom: int = MAX_CLASSIFY_ZOOM,
    max_cells: int = 6_000,
    level_step: int = 4,
) -> tuple[np.ndarray, np.ndarray]:
    """Adaptive quadtree classification: interior cells recorded at the
    coarsest certain zoom; boundary cells refined until max_zoom or the
    cell budget.  Returns (sorted cell ids, band codes).

    ``max_cells`` (per polygon) is deliberately small: the band table is
    the probe side of a broadcast hash join evaluated once per point ×
    level, so it must stay CACHE-resident on every executor — measured
    on the 128M-row flagship, a ~10k-cell layer table beats a ~360k-cell
    one at every parallelism level (9.7s vs 12.2s at 32 cores) because
    probe misses to DRAM cost more than the extra exact ray-casts the
    coarser boundary admits (the fold is pure in-register compute).  A
    small table also keeps the 1000-executor broadcast cheap.

    All levels live on the FIXED set {4, 8, 12, 16}: every polygon's
    base snaps down to a multiple of 4 and boundary cells refine in
    steps of 4 (256 children).  The probe side then explodes exactly
    one cell id per SHARED level — 4 probe rows per point total,
    regardless of how many polygons the layer holds or how their sizes
    differ.  (The reference's zoom-step tree bounds fan-out the same
    way: ZoomLevels.java:98-113 allows steps of 1-3; we trade a deeper
    step for a narrower probe because OUR probe cost is per-level, not
    per-tile.)"""
    sminx, smaxx, sminy, smaxy = _segment_bbox_mins_maxs(rings)

    zoom = max_zoom
    while zoom > 0:
        c0, c1, r0, r1 = _cell_range(minx, miny, maxx, maxy, zoom)
        if (c1 - c0 + 1) <= base_axis and (r1 - r0 + 1) <= base_axis:
            break
        zoom -= 1
    # Snap to the shared level set ({8,12,16} for step 4).  A base below
    # 8 only helps truly world-spanning polygons; lifting to 8 costs at
    # most 256 cells/axis on the base grid (bounded) and removes a whole
    # probe level from every query against the layer.
    if zoom > level_step:
        zoom -= zoom % level_step
    else:
        zoom = level_step
    if zoom < 8:
        c0, c1, r0, r1 = _cell_range(minx, miny, maxx, maxy, 8)
        if (c1 - c0 + 1) <= 256 and (r1 - r0 + 1) <= 256:
            zoom = 8
    c0, c1, r0, r1 = _cell_range(minx, miny, maxx, maxy, zoom)

    cols = np.arange(c0, c1 + 1, dtype=np.int64)
    rows = np.arange(r0, r1 + 1, dtype=np.int64)
    cc, rr = np.meshgrid(cols, rows)
    cur_c, cur_r = cc.ravel(), rr.ravel()

    out_cells: list[np.ndarray] = []
    out_codes: list[np.ndarray] = []
    n_emitted = 0

    while True:
        extent = np.int64(1) << (32 - zoom)
        cell_minx = (cur_c << (32 - zoom)) - (1 << 31)
        cell_miny = _row_y_range(cur_r, zoom)[0]
        touched = _touched_mask(cur_c, cur_r, zoom, sminx, smaxx, sminy, smaxy)
        # PIP only the untouched cells (the touched ones are boundary
        # regardless of their center) — at deep refinement levels most
        # children ARE untouched, so this cuts the dominant O(segs×cells)
        # ray-cast cost of layer preparation severalfold.
        interior = np.zeros(len(cur_c), dtype=bool)
        nt = ~touched
        if nt.any():
            cx = cell_minx[nt].astype(np.float64) + extent / 2
            cy = cell_miny[nt].astype(np.float64) + extent / 2
            interior[nt] = pip.points_in_polygon(cx, cy, rings)
        if interior.any():
            out_cells.append(_cell_ids(zoom, cur_r[interior], cur_c[interior]))
            out_codes.append(np.full(int(interior.sum()), INTERIOR, dtype=np.int8))
            n_emitted += int(interior.sum())

        bc, br = cur_c[touched], cur_r[touched]
        if len(bc) == 0:
            break
        # Refine boundary cells in level_step-zoom steps so every level
        # stays on the shared set.
        step = min(level_step, max_zoom - zoom)
        if step <= 0 or n_emitted + (1 << (2 * step)) * len(bc) > max_cells:
            out_cells.append(_cell_ids(zoom, br, bc))
            out_codes.append(np.full(len(bc), BOUNDARY, dtype=np.int8))
            break
        k = 1 << step
        offs = np.arange(k, dtype=np.int64)
        dc, dr = np.meshgrid(offs, offs)
        cur_c = (bc[:, None] * k + dc.ravel()[None, :]).ravel()
        cur_r = (br[:, None] * k + dr.ravel()[None, :]).ravel()
        zoom += step

    cells = np.concatenate(out_cells) if out_cells else np.empty(0, dtype=np.int64)
    codes = np.concatenate(out_codes) if out_codes else np.empty(0, dtype=np.int8)
    order = np.argsort(cells)
    return cells[order], codes[order]


def prepare_polygon(
    poly_id: str,
    rings_blob: bytes,
    max_tiles_per_axis: int = 64,
    max_zoom: int = T.MAX_ZOOM,
    level_step: int = 4,
) -> PreparedPolygon:
    """Classify grid cells into interior/boundary bands at an adaptive zoom.

    Zoom is chosen so the polygon bbox spans ≤``max_tiles_per_axis`` cells
    per axis (the reference instead descends its tile tree; same effect —
    bounded per-polygon work).  The grid may be finer than the z12
    storage pyramid (up to MAX_CLASSIFY_ZOOM) — a fine grid shrinks the
    boundary band, which is exactly the set of rows that must take the
    exact geometry kernel.  Boundary marking is conservative: every cell
    touched by a ring segment's bbox becomes boundary; interior =
    center-inside minus boundary.  Conservative boundary only moves rows
    from the free band to the exact-test band — never wrong, only slower.
    """
    rings = pip.unpack_rings(rings_blob)
    xs = np.concatenate([r[:, 0] for r in rings])
    ys = np.concatenate([r[:, 1] for r in rings])
    minx, miny, maxx, maxy = xs.min(), ys.min(), xs.max(), ys.max()

    zoom = max_zoom
    while zoom > 0:
        c0, c1, r0, r1 = _cell_range(minx, miny, maxx, maxy, zoom)
        if (c1 - c0 + 1) <= max_tiles_per_axis and (r1 - r0 + 1) <= max_tiles_per_axis:
            break
        zoom -= 1

    extent = np.int64(1) << (32 - zoom)

    # Candidate grid = the polygon bbox at ``zoom`` (every segment bbox
    # lies inside it).  Conservative boundary = cells whose bbox touches
    # any segment bbox — ONE vectorized pass shared with the quadtree
    # classifier (was a per-segment Python meshgrid + per-cell dict-store
    # loop: O(segments) driver iterations on coastline-sized rings,
    # r03 review).  Interior = center-inside and not boundary.
    c0, c1, r0, r1 = _cell_range(minx, miny, maxx, maxy, zoom)
    cols = np.arange(c0, c1 + 1, dtype=np.int64)
    rows = np.arange(r0, r1 + 1, dtype=np.int64)
    cc, rr = np.meshgrid(cols, rows)
    cc, rr = cc.ravel(), rr.ravel()
    sminx, smaxx, sminy, smaxy = _segment_bbox_mins_maxs(rings)
    touched = _touched_mask(cc, rr, zoom, sminx, smaxx, sminy, smaxy)
    cell_ids = _cell_ids(zoom, rr, cc)
    cx = (cc << (32 - zoom)) - (1 << 31) + extent // 2
    cy = (1 << 31) - 1 - (rr << (32 - zoom)) - extent // 2
    inside = pip.points_in_polygon(cx.astype(np.float64), cy.astype(np.float64), rings)
    keep = touched | inside
    band_tiles = cell_ids[keep]
    band_codes = np.where(touched[keep], BOUNDARY, INTERIOR).astype(np.int8)
    order = np.argsort(band_tiles)
    band_tiles = band_tiles[order]
    band_codes = band_codes[order]
    qt_cells, qt_codes = _quadtree_bands(rings, minx, miny, maxx, maxy,
                                         level_step=level_step)
    slab_keys, slab_edges = _slab_edges(rings, qt_cells, qt_codes)
    return PreparedPolygon(
        poly_id, rings, float(minx), float(miny), float(maxx), float(maxy),
        zoom, band_tiles, band_codes, qt_cells, qt_codes, slab_keys, slab_edges,
    )


def _slab_edges(rings, qt_cells, qt_codes) -> tuple[np.ndarray, list[np.ndarray]]:
    """Slab keys (zoom << 20) | row at the boundary cells' zoom +
    SLAB_STEP, for every sub-row of a row holding BOUNDARY cells, each
    with the edges whose y-range meets that sub-row's y-range.

    Exact, not a filter heuristic: a point in the sub-row counts a
    crossing only when ``y1 <= y < y2`` or ``y2 <= y < y1``, so every
    edge it can cross is kept and the crossing parity is unchanged."""
    segs = _segments(rings)
    ylo = np.minimum(segs[:, 1], segs[:, 3])
    yhi = np.maximum(segs[:, 1], segs[:, 3])
    rows = np.unique(qt_cells[qt_codes == BOUNDARY] >> 20)  # (zoom << 20) | row
    zoom = (rows >> 20) + SLAB_STEP
    sub = ((rows & ((1 << 20) - 1)) << SLAB_STEP)[:, None] + np.arange(1 << SLAB_STEP)
    keys = ((zoom[:, None] << 20) | sub).ravel()
    row_lo, row_hi = _row_y_range(keys & ((1 << 20) - 1), keys >> 20)
    edges = [segs[(yhi >= lo) & (ylo <= hi)] for lo, hi in zip(row_lo, row_hi)]
    return keys, edges


_PREPARED_CACHE: dict = {}


def prepare_layer(polys: list[dict]) -> list[PreparedPolygon]:
    """Prepared layers are query-compilation state (like the reference's
    cached matchers): memoized by ring CONTENT so repeated queries — and
    the bench's repeated flagship runs — pay the driver-side band
    classification once per process, not per invocation."""
    import zlib

    key = tuple((p["poly_id"], zlib.crc32(p["rings"])) for p in polys)
    cached = _PREPARED_CACHE.get(key)
    if cached is None:
        cached = [prepare_polygon(p["poly_id"], p["rings"]) for p in polys]
        _PREPARED_CACHE[key] = cached
    return cached


def point_cell_col(zoom: int):
    """Column: the point's quadtree cell id at ``zoom`` — JVM bit
    arithmetic with the packing of ``_cell_ids``: (zoom<<40)|(row<<20)|col."""
    return (
        F.lit(zoom << 40).cast("long")
        + F.shiftleft(T.row_from_y_col(F.col("y"), zoom).cast("long"), 20)
        + T.column_from_x_col(F.col("x"), zoom).cast("long")
    )


#: Per-edge fields the exact-test fold reads, as parallel double arrays.
EDGE_FIELDS = ("ylo", "yhi", "x1", "y1", "dx", "dy")
EDGE_SCHEMA = ", ".join(f"{c} array<double>" for c in EDGE_FIELDS)


def edge_fields(segs: np.ndarray) -> list[list[float]]:
    """(n, 4) x1,y1,x2,y2 segments → the EDGE_FIELDS lists.  ``x2 - x1``
    and ``y2 - y1`` round here exactly as inside the fold would, so
    precomputing them changes no bit."""
    x1, y1, x2, y2 = segs.T
    fields = (np.minimum(y1, y2), np.maximum(y1, y2), x1, y1, x2 - x1, y2 - y1)
    return [f.tolist() for f in fields]


def odd_crossings(edges, x, y):
    """Column: does the point (double columns ``x``, ``y``; pre-cast, as
    Spark re-evaluates them per element) cross an odd number of
    ``edges`` (array<struct<EDGE_FIELDS>>)?  A JVM higher-order fold with
    geo/pip.points_in_ring's answer bit for bit: ``ylo <= y < yhi`` is
    its half-open ``y1 <= y < y2 or y2 <= y < y1``, and the intersection
    is the same float64 ops in the same order.  Crossing parity over
    several rings' edges is the XOR of their parities
    (PointInPolygon.java:21-23)."""

    def crosses(e):
        return (
            (e["ylo"] <= y) & (y < e["yhi"])
            & (x < e["x1"] + (y - e["y1"]) / e["dy"] * e["dx"])
        )

    return F.size(F.filter(edges, crosses)) % 2 == 1


def _slab_frame(spark, prepared: list[PreparedPolygon]) -> DataFrame:
    """(_slab, _edges array<struct<EDGE_FIELDS>>): one row per slab of
    each polygon, keyed (polygon index << 32) | slab key, cached for the
    broadcast.  One long key keeps the broadcast a compact long-keyed
    hash relation."""
    pdf = pd.DataFrame(
        [((i << 32) | int(k), *edge_fields(e))
         for i, p in enumerate(prepared) for k, e in zip(p.slab_keys, p.slab_edges)],
        columns=["_slab", *EDGE_FIELDS],
    )
    cols = spark.createDataFrame(pdf, "_slab long, " + EDGE_SCHEMA)
    return cols.select("_slab", F.arrays_zip(*EDGE_FIELDS).alias("_edges")).cache()


def _layer_plan(spark, prepared: list[PreparedPolygon]) -> dict:
    """One ``_BANDS_CACHE`` entry: the cached band frame (``"bands"``),
    the cached slab frame (``"rings_bc"``, the key perfbench/run.py
    reads) and the Column expressions ``contains_points`` plans with.

    The probe explodes the point's quadtree cell id at every zoom level
    present in the layer (packed in the cell ids' high bits), joined
    once against the broadcast band table.  A quadtree leaf matches at
    most one zoom per polygon, so no duplicates arise.  A BOUNDARY row
    keys the slab table by its polygon's index and its point's cell
    >> 20 at the cell's zoom + SLAB_STEP, (zoom << 20) | row; INTERIOR
    rows get a null key and pass the slab join untouched."""
    zoom_list = sorted(
        {int(z) for p in prepared for z in np.unique(p.qt_cells >> 40).tolist()}
    )
    # band rows assembled vectorized per polygon (the old per-cell
    # Python loop ran on EVERY call, cache hit or not — r03 review)
    bands_pdf = pd.concat(
        [
            pd.DataFrame(
                {
                    "_band_cell": p.qt_cells.astype(np.int64),
                    "poly_id": p.poly_id,
                    "_band": p.qt_codes.astype(np.int32),
                    "_pidx": i,
                }
            )
            for i, p in enumerate(prepared)
        ],
        ignore_index=True,
    )
    bands_df = spark.createDataFrame(
        bands_pdf, schema="_band_cell long, poly_id string, _band int, _pidx long"
    ).cache()
    return {
        "bands": bands_df,
        "rings_bc": _slab_frame(spark, prepared),
        "probe": F.explode(F.array(*[point_cell_col(z) for z in zoom_list])),
        "on": F.col("_cell") == bands_df._band_cell,
        "slab": F.coalesce(*[
            F.when((F.col("_band") == BOUNDARY) & (F.shiftright("_band_cell", 40) == z),
                   F.shiftleft("_pidx", 32) + F.shiftright(point_cell_col(z + SLAB_STEP), 20))
            for z in zoom_list
        ]),
        "xy": {"_xd": F.col("x").cast("double"), "_yd": F.col("y").cast("double")},
        "match": (F.col("_band") == INTERIOR)
        | odd_crossings(F.col("_edges"), F.col("_xd"), F.col("_yd")),
    }


def contains_points(
    points: DataFrame,
    prepared: list[PreparedPolygon],
    keep_cols: list[str] | None = None,
    anti: bool = False,
) -> DataFrame:
    """Point-in-polygon broadcast join (flagship).

    Three-band plan, mirroring the reference's per-tile filter
    substitution (TileIndexWalker.java:246-259, FastTileFilter.java:40-60),
    in one scan of the points with no Python worker:

    1. A broadcast (cell, poly_id, band) table — the polygons' tile
       classification — joins against the point's cell id, computed
       JVM-side with bit arithmetic per classification zoom.  INTERIOR
       matches need nothing more.
    2. BOUNDARY-band rows (a few % — tiles the polygon outline touches)
       left-join a second broadcast table on (poly_id, slab row) and get
       only the edges of their slab; the ray-cast fold
       (``odd_crossings``) runs over that array.  Geometry travels as
       data, so plan size does not grow with the layer's vertex count.
    3. ``anti=True`` returns points matching NO polygon via a left_anti
       join on keep_cols (DisjointFilter form — keep_cols must identify
       a row, e.g. image_id).

    points must carry int imp columns ``x`` and ``y``.
    """
    keep = keep_cols or [c for c in points.columns if c not in ("x", "y")]
    spark = points.sparkSession

    # The band and slab tables, and the Column expressions of the plan
    # over them, are query-compilation state (like the reference's
    # cached matchers, MatcherCompiler.java:37-46) — build them once per
    # (layer, session): rebuilding the expressions costs py4j round trips
    # on every call.  The key hashes the cell AND ring CONTENT, not just
    # the shape: re-preparing an edited polygon with the same id/count
    # must miss the cache (rings are in the key because the slab edges
    # come from them).
    import zlib

    cache_key = (
        tuple(
            (
                p.poly_id,
                zlib.crc32(p.qt_cells.tobytes()),
                zlib.crc32(p.qt_codes.tobytes()),
                tuple(zlib.crc32(np.ascontiguousarray(r).tobytes()) for r in p.rings),
            )
            for p in prepared
        ),
        id(spark),
    )
    entry = _BANDS_CACHE.get(cache_key)
    if entry is None:
        # Evict superseded entries first: same (poly_id set, session) but
        # different content means the layer was edited/re-prepared — the
        # old cached frames would otherwise stay pinned in executor
        # memory for the session's lifetime (ADVICE r01).
        poly_ids = tuple(p.poly_id for p in prepared)
        for k in [
            k for k in _BANDS_CACHE
            if k[1] == id(spark) and tuple(e[0] for e in k[0]) == poly_ids
        ]:
            old = _BANDS_CACHE.pop(k)
            old["bands"].unpersist()
            old["rings_bc"].unpersist()
        entry = _layer_plan(spark, prepared)
        _BANDS_CACHE[cache_key] = entry

    j = (
        points.withColumn("_cell", entry["probe"])
        .join(F.broadcast(entry["bands"]), entry["on"])
        .withColumn("_slab", entry["slab"])
        .join(F.broadcast(entry["rings_bc"]), "_slab", "left")
    )
    matches = j.withColumns(entry["xy"]).filter(entry["match"]).select(*keep, "poly_id")
    if not anti:
        return matches
    return points.select(*keep).join(
        matches.select(*keep).distinct(), keep, "left_anti"
    )


def within_distance(
    points: DataFrame,
    lon: float,
    lat: float,
    meters: float,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Distance filter: candidates by bbox (deltaFromMeters box,
    PointDistanceFilter.java:28-60 + Box.java:421), exact test by
    Mercator-scaled Euclidean distance — all built-in columns, no UDF."""
    qx = int(mercator.x_from_lon(lon)[()])
    qy = int(mercator.y_from_lat(lat)[()])
    delta = float(mercator.delta_from_meters(meters, qy)[()])
    keep = keep_cols or points.columns
    cand = points.filter(
        (F.col("x") >= qx - delta) & (F.col("x") <= qx + delta)
        & (F.col("y") >= qy - delta) & (F.col("y") <= qy + delta)
    )
    dist = mercator.distance_col(F.col("x"), F.col("y"), F.lit(qx), F.lit(qy))
    return cand.withColumn("dist_m", dist).filter(F.col("dist_m") <= meters).select(*keep, "dist_m")


def bbox_query(points: DataFrame, qminx: int, qminy: int, qmaxx: int, qmaxy: int) -> DataFrame:
    """``in(bbox)`` for point features (WorldView.java:73-76): pure filter —
    Catalyst pushes it into the scan, tile partition pruning applies.

    Antimeridian-aware (Box.java:16-19, 76-79): minx > maxx denotes a box
    crossing the 180° meridian and the x-test becomes the disjunction
    ``x >= minx OR x <= maxx`` — both arms are still scan-pushable range
    predicates (two row-group intervals instead of one)."""
    if qminx <= qmaxx:
        xtest = (F.col("x") >= qminx) & (F.col("x") <= qmaxx)
    else:
        xtest = (F.col("x") >= qminx) | (F.col("x") <= qmaxx)
    return points.filter(xtest & (F.col("y") >= qminy) & (F.col("y") <= qmaxy))
