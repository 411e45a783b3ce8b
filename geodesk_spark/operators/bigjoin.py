"""Shuffle (big-big) point-in-polygon join — the non-broadcast scale path.

The flagship ``spatial_join.contains_points`` assumes a dimension-sized
polygon layer: the band table and the per-row slab edge table are
both broadcast.  That is the right plan for the reference's typical
query shape (a handful of query polygons,
ContainsPointFilter.java:26-72), but at 100 TB the layer itself can be a
fact table — every building footprint on Earth is ~10^9 polygons, far
past any broadcast threshold, and nothing may ever touch the driver.

This module keeps the SAME three-band semantics (interior cells waive
the exact test, boundary cells take it, everything else prunes —
Filter.filterForTile, FastTileFilter.java:40-60) but makes every stage
distributed:

1. **Layer preparation is a parallel Arrow pass**, not driver work:
   ``layer_bands`` runs the adaptive quadtree classifier
   (``spatial_join._quadtree_bands``) per polygon inside ``mapInPandas``
   over the layer DataFrame, emitting (cell, poly_id, band) rows.  A
   10^9-polygon layer prepares at full cluster parallelism.
2. **The candidate join is a shuffle equi-join on the cell id** — both
   sides repartition by cell; no broadcast required (AQE may still
   elect a broadcast when the prepared layer turns out small, which is
   strictly a win and changes nothing semantically).  The probe side
   explodes exactly one cell id per SHARED quadtree level {4,8,12,16}
   (see ``_quadtree_bands``: every polygon's bands land on that fixed
   level set), so probe fan-out is 4 rows/point regardless of layer
   size or polygon size mix.
3. **The exact ray-cast is the flagship's fold**
   (``spatial_join.odd_crossings``), but over a whole-polygon segment
   array fetched by a second shuffle equi-join on poly_id, where the
   flagship broadcasts per-row slabs.  Geometry arrives as data, never
   as plan literals, so plan size stays O(1) in the layer.  Only
   BOUNDARY-band candidates take this join; INTERIOR matches bypass it
   entirely.

Skew note: the boundary⋈segments join keys on poly_id, so one enormous
polygon with millions of boundary candidates is a hot key — exactly the
shape AQE's skew-join splitting handles (enabled in session.py), and
the adaptive quadtree already bounds boundary-band *width* per polygon
(max_cells), which bounds the duplication factor.

A point lies in at most one quadtree leaf of a given polygon (the
adaptive refinement partitions the bbox disjointly across its mixed
levels), so the cell join yields at most one candidate row per
(point, polygon) — no post-join dedup is needed, identical to the
broadcast path's argument.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from geodesk_spark.geo import pip
from geodesk_spark.operators.spatial_join import (
    BOUNDARY,
    INTERIOR,
    EDGE_FIELDS,
    EDGE_SCHEMA,
    _quadtree_bands,
    _segments,
    edge_fields,
    odd_crossings,
    point_cell_col,
)

#: The fixed quadtree level set every polygon's bands land on
#: (spatial_join._quadtree_bands snaps bases to multiples of 4 and
#: refines in steps of 4).
SHARED_LEVELS = (4, 8, 12, 16)


def layer_bands(polygons: DataFrame) -> DataFrame:
    """Distributed layer preparation: (poly_id string, rings binary) →
    (cell long, poly_id string, band int).

    One Arrow pass over the layer; each task classifies its polygons with
    the same adaptive quadtree kernel the broadcast path uses driver-side,
    so both paths see byte-identical band tables for the same layer
    (pinned in tests/test_bigjoin.py against ``prepare_layer``'s
    ``qt_cells``/``qt_codes``).
    """

    def gen(batches):
        for pdf in batches:
            cells_out: list[np.ndarray] = []
            ids_out: list[np.ndarray] = []
            codes_out: list[np.ndarray] = []
            for pid, blob in zip(pdf["poly_id"], pdf["rings"]):
                _, cells, codes = _quadtree_bands(pip.unpack_rings(bytes(blob)))
                cells_out.append(cells)
                codes_out.append(codes.astype(np.int32))
                ids_out.append(np.full(len(cells), pid, dtype=object))
            if not cells_out:
                continue
            yield pd.DataFrame(
                {
                    "cell": np.concatenate(cells_out),
                    "poly_id": np.concatenate(ids_out),
                    "band": np.concatenate(codes_out),
                }
            )

    return polygons.mapInPandas(gen, schema="cell long, poly_id string, band int")


def layer_segments(polygons: DataFrame) -> DataFrame:
    """(poly_id, rings binary) → (poly_id, segs array<struct<ylo,yhi,x1,y1,dx,dy>>).

    The fold's per-edge fields (``spatial_join.edge_fields``) are emitted
    as parallel double arrays (columnar through Arrow) and zipped
    JVM-side — the exact-test fold then runs on a plain column, keeping
    plan size independent of the layer.  All rings' segments
    concatenate into one array: crossing parity over the union of rings
    == XOR of per-ring parities (PointInPolygon.java:21-23).
    """

    def gen(batches):
        for pdf in batches:
            rows = [(pid, *edge_fields(_segments(pip.unpack_rings(bytes(blob)))))
                    for pid, blob in zip(pdf["poly_id"], pdf["rings"])]
            if rows:
                yield pd.DataFrame(rows, columns=["poly_id", *EDGE_FIELDS])

    cols = polygons.mapInPandas(gen, schema="poly_id string, " + EDGE_SCHEMA)
    return cols.select("poly_id", F.arrays_zip(*EDGE_FIELDS).alias("segs"))


def contains_points_big(
    points: DataFrame,
    polygons: DataFrame,
    keep_cols: list[str] | None = None,
    anti: bool = False,
) -> DataFrame:
    """Point-in-polygon where BOTH sides are large DataFrames.

    points:   int imp columns ``x`` and ``y`` plus carry-through columns.
    polygons: (poly_id string, rings binary) — ``pip.pack_rings`` blobs.

    Returns (keep_cols…, poly_id) match rows (or, with ``anti=True``,
    the points matching NO polygon — keep_cols must identify a row).
    Results are identical to ``spatial_join.contains_points`` on the same
    layer (pinned in tests/test_bigjoin.py); only the physical plan
    differs: shuffle joins instead of broadcast, Arrow layer prep instead
    of driver prep, whole-polygon segment arrays instead of slab edges.
    """
    keep = keep_cols or [c for c in points.columns if c not in ("x", "y")]
    bands = layer_bands(polygons)
    segs = layer_segments(polygons)

    probe = points.withColumn(
        "_cell", F.explode(F.array(*[point_cell_col(z) for z in SHARED_LEVELS]))
    )
    j = probe.join(bands, probe["_cell"] == bands["cell"])

    interior = j.filter(F.col("band") == INTERIOR).select(*keep, "poly_id")

    boundary = (
        j.filter(F.col("band") == BOUNDARY)
        .select(*keep, F.col("x").cast("double").alias("_xd"),
                F.col("y").cast("double").alias("_yd"), "poly_id")
        .join(segs, "poly_id")
    )
    exact = boundary.filter(
        odd_crossings(F.col("segs"), F.col("_xd"), F.col("_yd"))
    ).select(*keep, "poly_id")

    matches = interior.unionByName(exact)
    if not anti:
        return matches
    return points.select(*keep).join(
        matches.select(*keep).distinct(), keep, "left_anti"
    )


def _proper_crossing(zoom: int):
    """Proper-crossing test of a cell-joined segment pair over its
    ``a``/``b``-prefixed x1,y1,x2,y2 long columns → (proper, t, ix, iy,
    icell): the exact int64 orientation test, the intersection point and
    the ``zoom`` cover cell holding it (steps 3-4 of
    ``crossing_segments_join``)."""
    from geodesk_spark.operators.tiling import cover_cell_col

    ax1, ay1, ax2, ay2 = (F.col(f"a{c}") for c in ("x1", "y1", "x2", "y2"))
    bx1, by1, bx2, by2 = (F.col(f"b{c}") for c in ("x1", "y1", "x2", "y2"))
    d1 = (bx2 - bx1) * (ay1 - by1) - (by2 - by1) * (ax1 - bx1)
    d2 = (bx2 - bx1) * (ay2 - by1) - (by2 - by1) * (ax2 - bx1)
    d3 = (ax2 - ax1) * (by1 - ay1) - (ay2 - ay1) * (bx1 - ax1)
    d4 = (ax2 - ax1) * (by2 - ay1) - (ay2 - ay1) * (bx2 - ax1)
    proper = (((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0))) & (
        ((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0))
    )
    step = 1 << (32 - zoom)
    t = d1 / (d1 - d2)
    ix = ax1 + t * (ax2 - ax1)
    iy = ay1 + t * (ay2 - ay1)
    icell = cover_cell_col(
        zoom,
        F.floor((F.lit(2147483647) - iy) / F.lit(step)),
        F.floor((ix + F.lit(2147483648)) / F.lit(step)),
    )
    return proper, t, ix, iy, icell


def crossing_segments_join(
    a: DataFrame,
    b: DataFrame,
    zoom: int = 7,
    a_id: str = "aid",
    b_id: str = "bid",
) -> DataFrame:
    """Big-big segment×segment PROPER-crossing join → (a_id, b_id, t,
    ix, iy): every pair whose segments strictly cross (the `crossing`
    predicate, AbstractRelateFilter.java:61-72, lifted from
    feature-vs-query-geometry to a distributed two-table join), with
    the intersection point.

    Scale shape — ONE shuffle equi-join, exactly-once with NO distinct:

    1. Each side covers its segment bbox with fixed-zoom tile cells
       (sequence-explode, pure JVM; fan-out = O(len/cellsize)² per row).
    2. Shuffle join on the cell id — both sides partition by cell, AQE
       handles dense-city skew cells.
    3. The orientation tests run in EXACT int64 (|Δseg| ≤ 2²⁸ and
       world coords ≤ 2³² keep every cross product < 2⁶¹), so the
       match set is bit-deterministic; t = d1/(d1−d2) is one exact
       integer-ratio division, the only float in the operator.
    4. A pair sharing k>1 cells would emit k duplicates; instead of a
       distinct-shuffle, each match keeps ONLY the cell containing its
       intersection point (which lies on both segments, hence inside
       both covers) — the NW-flag exactly-once rule generalized to
       pair joins (tiling.nw_dedup_filter, SURVEY §2.1).
    """
    from geodesk_spark.operators.tiling import explode_cover

    def cover(df, idc, prefix):
        cov = explode_cover(df.select(idc, "x1", "y1", "x2", "y2"), zoom)
        cols = [F.col(c).alias(f"{prefix}{c}") for c in ("x1", "y1", "x2", "y2")]
        return cov.select(F.col(idc), *cols, "cell")

    ca = cover(a, a_id, "a")
    cb = cover(b, b_id, "b")
    j = ca.join(cb, "cell")

    proper, t, ix, iy, icell = _proper_crossing(zoom)
    return (
        j.filter(proper)
        .withColumn("t", t)
        .withColumn("ix", ix)
        .withColumn("iy", iy)
        .filter(F.col("cell") == icell)
        .select(a_id, b_id, "t", "ix", "iy")
    )


def ring_self_intersections(
    rings: DataFrame,
    id_col: str = "ring_id",
    xs_col: str = "xs",
    ys_col: str = "ys",
    zoom: int = 7,
) -> DataFrame:
    """Self-intersection (bowtie) detection for closed rings → one row
    ``(ring_id, i, j)`` per NON-ADJACENT segment pair that properly
    crosses; empty output ⇔ every ring is simple.  This is the core of
    OGC ``ST_IsValid`` for polygon rings — GeoDesk assumes valid
    geometry on ingest (polygon assembly, PolygonBuilder), so this is
    the validation pass a pipeline runs BEFORE assembly/tiling.

    Input: one row per ring with vertex arrays ``xs``/``ys`` (world
    ints), implicitly closed — segment k joins vertex k to vertex
    (k+1) mod n.  Adjacent segments (|i−j| = 1 and the closing pair
    {0, n−1}) share a vertex by construction and are excluded.

    Scale shape: explode to segments (one JVM transform+explode, no
    Python), cover each segment's bbox with fixed-``zoom`` cells, and
    self-join on ``(ring_id, cell)`` — a giant ring parallelizes across
    its cells instead of hitting one task with an O(n²) pair loop, and
    each crossing pair surfaces exactly once via the intersection-cell
    rule of ``crossing_segments_join`` (no distinct).  Orientation
    tests are exact int64 while segment extents stay < 2²⁸ (the module
    contract above).
    """
    from geodesk_spark.operators.tiling import explode_cover

    xs = F.col(xs_col)
    ys = F.col(ys_col)
    n = F.size(xs)
    segs = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.struct(
            i.alias("i"),
            F.get(xs, i).cast("long").alias("x1"),
            F.get(ys, i).cast("long").alias("y1"),
            F.get(xs, (i + 1) % n).cast("long").alias("x2"),
            F.get(ys, (i + 1) % n).cast("long").alias("y2"),
        ),
    )
    seg = rings.select(
        F.col(id_col).alias("_rid"), n.alias("_n"), F.explode(segs).alias("s")
    ).select("_rid", "_n", "s.*")
    cov = explode_cover(seg, zoom)

    a = cov.select(
        "_rid",
        "_n",
        "cell",
        F.col("i").alias("i"),
        *[F.col(c).alias(f"a{c}") for c in ("x1", "y1", "x2", "y2")],
    )
    b = cov.select(
        "_rid",
        "cell",
        F.col("i").alias("j"),
        *[F.col(c).alias(f"b{c}") for c in ("x1", "y1", "x2", "y2")],
    )
    j = a.join(b, ["_rid", "cell"]).filter(
        (F.col("j") > F.col("i") + 1)
        & ~((F.col("i") == 0) & (F.col("j") == F.col("_n") - 1))
    )

    proper, _, _, _, icell = _proper_crossing(zoom)
    return (
        j.filter(proper)
        .filter(F.col("cell") == icell)
        .select(
            F.col("_rid").alias(id_col),
            F.col("i").cast("long").alias("i"),
            F.col("j").cast("long").alias("j"),
        )
    )


def within_distance_join(
    a: DataFrame,
    b: DataFrame,
    delta_imps: int,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Big-big within-distance join: every (a, b) pair with EUCLIDEAN
    imp distance ≤ ``delta_imps`` — BOTH sides table-sized, no
    broadcast.  The missing cell of the join matrix beside
    knn.distance_join (table×dimension broadcast, meters semantics),
    knn.knn_join (table×dimension kNN) and contains_points_big (big-big
    PIP).

    Radius semantics are PLANAR IMPS — the reference's own window
    semantics (Box.java:421 deltaFromMeters builds an imp box, then the
    exact test runs in projected space).  A global METERS radius has no
    single safe grid at planetary latitude spread (the imp radius grows
    as sec(lat): 20 km at ±80° is ~2^30 imps — one world-cell); for
    meters semantics use the per-target broadcast knn.distance_join,
    which sizes its window at each target's own latitude.  The output
    carries ``dist_m`` (mercator meters at the pair mid-latitude) so a
    per-pair meters filter composes on top where latitudes are bounded.

    Shape (the canonical spatial-join halo exchange): grid zoom = the
    largest with cell edge ≥ delta (host-derived from the parameter
    alone), side A keyed by its own cell, side B replicated to its 3×3
    neighborhood (factor 9, ONE side), equi-join on the packed cell id,
    exact INTEGER predicate dx² + dy² ≤ δ² in decimal(38,0) — zero
    float in the decision, bit-deterministic everywhere.  One shuffle
    per side; uniform cells, so no skew beyond true data skew; each
    qualifying pair lands EXACTLY once (A cells are unique per row).

    Inputs: ``a`` (id, x, y) and ``b`` (id, x, y) in imps.
    → (id_a, id_b, dist_m).
    """
    from geodesk_spark.geo import mercator

    delta_imps = int(delta_imps)
    zoom = 0
    while zoom < 20 and (1 << (32 - (zoom + 1))) >= delta_imps:
        zoom += 1
    step = 1 << (32 - zoom)
    side = 1 << zoom

    def cx(x):
        return F.floor((x.cast("double") + F.lit(2.0**31)) / F.lit(float(step))).cast("long")

    def cy(y):
        return F.floor((F.lit(float(2**31 - 1)) - y.cast("double")) / F.lit(float(step))).cast("long")

    aa = a.select(
        F.col("id").alias(id_a),
        F.col("x").alias("_ax"),
        F.col("y").alias("_ay"),
        (cx(F.col("x")) * F.lit(side + 2) + cy(F.col("y"))).alias("_cell"),
    )
    off = F.explode(F.array(*[F.lit(i) for i in range(9)])).alias("_o")
    bb = (
        b.select(
            F.col("id").alias(id_b),
            F.col("x").alias("_bx"),
            F.col("y").alias("_by"),
            cx(F.col("x")).alias("_cx"),
            cy(F.col("y")).alias("_cy"),
            off,
        )
        .select(
            id_b,
            "_bx",
            "_by",
            (
                (F.col("_cx") + F.col("_o") % 3 - 1) * F.lit(side + 2)
                + (F.col("_cy") + F.expr("_o div 3") % 3 - 1)
            ).cast("long").alias("_cell"),
        )
    )
    dec = lambda c: c.cast("decimal(38,0)")
    dx = dec(F.col("_ax")) - dec(F.col("_bx"))
    dy = dec(F.col("_ay")) - dec(F.col("_by"))
    d = mercator.distance_col(F.col("_ax"), F.col("_ay"), F.col("_bx"), F.col("_by"))
    return (
        aa.join(bb, "_cell")
        .filter(dx * dx + dy * dy <= F.lit(delta_imps).cast("decimal(38,0)") * F.lit(delta_imps).cast("decimal(38,0)"))
        .select(id_a, id_b, d.alias("dist_m"))
    )
