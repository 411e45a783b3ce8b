"""Geometry aggregation operators: length() and area() (SURVEY §2.4).

- length (meters): per-segment Euclidean distance scaled at the segment
  mid-latitude (StoredWay.java:189-209 + Mercator.distance).
- area (m²): shoelace area × (meters-per-imp at the centroid Y)², holes
  subtracted (StoredFeature.java:473-479, Mercator.java:256-264).

One vectorized mapInPandas pass over the packed-geometry column.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from geodesk_spark.geo import mercator, pip


def with_length_area(features: DataFrame) -> DataFrame:
    """Adds length_m (lines: polyline length; polygons: shell perimeter)
    and area_m2 (polygons: shell − holes; lines: 0)."""

    def run(batches):
        for pdf in batches:
            n = len(pdf)
            length = np.zeros(n)
            area = np.zeros(n)
            for i in range(n):
                rings = pip.unpack_rings(pdf["geom"].iloc[i])
                shell = rings[0]
                length[i] = mercator.polyline_length_m(shell[:, 0], shell[:, 1])
                if pdf["gkind"].iloc[i] == "polygon":
                    area[i] = mercator.ring_area_m2(shell[:, 0], shell[:, 1])
                    for hole in rings[1:]:
                        area[i] -= mercator.ring_area_m2(hole[:, 0], hole[:, 1])
            out = pdf[["fid", "gkind"]].copy()
            out["length_m"] = length
            out["area_m2"] = area
            yield out

    return features.select("fid", "gkind", "geom").mapInPandas(
        run, schema="fid long, gkind string, length_m double, area_m2 double"
    )


def ring_centroid_cols(ring):
    """Area-weighted centroid of a simple ring, 100% JVM-side.

    ``ring`` is an ``array<struct<x:double,y:double>>`` of an OPEN ring
    (no repeated closing vertex); edges wrap i → (i+1) mod n.  Returns
    ``(area2, cx, cy)`` Columns — twice the signed shoelace area (imp²,
    CCW positive) and the centroid in imp space:

        c_i = x_i·y_j − x_j·y_i          (j = i+1 mod n)
        a2  = Σ c_i                      (left fold, array order)
        cx  = Σ (x_i + x_j)·c_i / (3·a2)
        cy  = Σ (y_i + y_j)·c_i / (3·a2)

    This is the reference's polygon centroid decomposition
    (StoredFeature.java:473-479 computes the same shoelace pass for
    area(); the centroid weights reuse each edge cross term).  One
    ``transform`` + one struct-accumulator ``aggregate`` — JVM
    higher-order functions, no UDF, no shuffle (interpreted: an operator
    holding one runs outside whole-stage codegen).  The fold
    is a left fold in array order, so an oracle that sums the same
    terms left-associatively is bit-identical.  Degenerate rings
    (a2 == 0) yield NULL centroids via ANSI x/0 — filter on a2 first.
    """
    from pyspark.sql import functions as F

    n = F.size(ring)

    def term(i):
        p = F.element_at(ring, i + 1)
        q = F.element_at(ring, ((i + 1) % n) + 1)
        c = p.x * q.y - q.x * p.y
        return F.struct(
            c.alias("c"),
            ((p.x + q.x) * c).alias("tx"),
            ((p.y + q.y) * c).alias("ty"),
        )

    terms = F.transform(F.sequence(F.lit(0), n - 1), term)
    zero = F.struct(
        F.lit(0.0).alias("a2"), F.lit(0.0).alias("sx"), F.lit(0.0).alias("sy")
    )
    acc = F.aggregate(
        terms,
        zero,
        lambda a, t: F.struct(
            (a.a2 + t.c).alias("a2"),
            (a.sx + t.tx).alias("sx"),
            (a.sy + t.ty).alias("sy"),
        ),
    )
    a2 = acc.a2
    cx = acc.sx / (F.lit(3.0) * acc.a2)
    cy = acc.sy / (F.lit(3.0) * acc.a2)
    return a2, cx, cy


def resample_along_segments(
    segs: DataFrame, every_m: float, id_col: str = "fid"
) -> DataFrame:
    """Densify: emit a point every ``every_m`` meters along each segment
    (plus the start vertex) — the standard prep for map-matching, heat
    rasters, and distance-weighted sampling of line features.

    Pure JVM: per-segment Mercator length (distance_col, the reference's
    Mercator.java:194-201 mid-latitude scale), point count by floor
    division, ``F.sequence`` + ``explode`` for the fan-out, linear
    interpolation in imp space.  No shuffle at all — the explode is a
    map-side generator, so this scales as a single pass over the segment
    table.  Output: (id, pt_seq, px, py) with pt_seq 0 at the segment
    start; a zero-length segment yields just its start point.
    """
    from pyspark.sql import functions as F

    len_m = mercator.distance_col(
        F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2")
    )
    n = F.when(len_m > 0, F.floor(len_m / F.lit(float(every_m)))).otherwise(
        F.lit(0)
    ).cast("int")
    out = segs.select(
        F.col(id_col),
        F.col("x1").cast("double").alias("_x1"),
        F.col("y1").cast("double").alias("_y1"),
        F.col("x2").cast("double").alias("_x2"),
        F.col("y2").cast("double").alias("_y2"),
        len_m.alias("_len"),
        F.explode(F.sequence(F.lit(0), n)).alias("pt_seq"),
    )
    f = F.when(
        F.col("_len") > 0,
        (F.col("pt_seq").cast("double") * F.lit(float(every_m))) / F.col("_len"),
    ).otherwise(F.lit(0.0))
    return out.select(
        id_col,
        "pt_seq",
        (F.col("_x1") + f * (F.col("_x2") - F.col("_x1"))).alias("px"),
        (F.col("_y1") + f * (F.col("_y2") - F.col("_y1"))).alias("py"),
    )


def simplify_lines_dp(
    verts: DataFrame,
    eps: int,
    line_col: str = "line_id",
    seq_col: str = "seq",
) -> DataFrame:
    """Douglas–Peucker polyline simplification — the simplify step every
    tile renderer runs before coarse-zoom encode (quantize_for_tiles
    elides only coincident grid points; DP removes sub-tolerance
    geometry).

    Split rule, EXACT integer arithmetic: an interval (i0, i1) splits at
    the first vertex j maximizing cross² where cross = dx·(yⱼ−y₀) −
    dy·(xⱼ−x₀), iff cross² > eps²·len² (the perpendicular-distance test
    cleared of its division; a degenerate zero-length chord gives 0 > 0
    = false and simplifies to its endpoints).  Python bigints make the
    comparison exact at any coordinate size; the driver oracle replays
    the same recursion as a DuckDB recursive CTE in hugeint.

    Scale shape: one shuffle (groupBy line) into a per-line Arrow
    kernel — simplification is genuinely per-geometry recursive, the
    documented case for applyInPandas.  Lines partition freely; a
    monster line is a hot key like any other (split it upstream).

    Input (line_col, seq, x, y); output the KEPT rows, same schema.
    """
    eps2 = int(eps) * int(eps)

    def simplify(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(seq_col).reset_index(drop=True)
        xs = [int(v) for v in pdf["x"]]
        ys = [int(v) for v in pdf["y"]]
        n = len(xs)
        if n <= 2:
            return pdf
        keep = {0, n - 1}
        stack = [(0, n - 1)]
        while stack:
            i0, i1 = stack.pop()
            if i1 - i0 < 2:
                continue
            dx = xs[i1] - xs[i0]
            dy = ys[i1] - ys[i0]
            l2 = dx * dx + dy * dy
            jbest, c2best = -1, -1
            for j in range(i0 + 1, i1):
                c = dx * (ys[j] - ys[i0]) - dy * (xs[j] - xs[i0])
                c2 = c * c
                if c2 > c2best:
                    jbest, c2best = j, c2
            if c2best > eps2 * l2:
                keep.add(jbest)
                stack.append((i0, jbest))
                stack.append((jbest, i1))
        return pdf.iloc[sorted(keep)]

    schema = verts.select(line_col, seq_col, "x", "y").schema
    return (
        verts.select(line_col, seq_col, "x", "y")
        .groupBy(line_col)
        .applyInPandas(lambda pdf: simplify(pdf), schema=schema)
    )


def simplify_lines_dp_sql(verts_cte: str, eps: int) -> str:
    """DuckDB twin of :func:`simplify_lines_dp`: the DP recursion as a
    recursive CTE over intervals, argmax by (cross² desc, seq), exact
    hugeint comparisons — structurally independent of the kernel's
    stack loop."""
    eps2 = int(eps) * int(eps)
    return f"""
      with recursive v as ({verts_cte}),
      iv(line_id, i0, i1) as (
        select line_id, min(seq), max(seq) from v group by line_id
        union all
        select t.line_id,
               case when k.k = 0 then t.i0 else t.j end,
               case when k.k = 0 then t.j else t.i1 end
        from (
          select * from (
            select s.line_id, s.i0, s.i1, vm.seq as j,
                   row_number() over (
                     partition by s.line_id, s.i0, s.i1
                     order by cast((v1.x - v0.x) * (vm.y - v0.y)
                                 - (v1.y - v0.y) * (vm.x - v0.x) as hugeint)
                              * ((v1.x - v0.x) * (vm.y - v0.y)
                                 - (v1.y - v0.y) * (vm.x - v0.x)) desc,
                              vm.seq) as rn,
                   cast((v1.x - v0.x) * (vm.y - v0.y)
                      - (v1.y - v0.y) * (vm.x - v0.x) as hugeint)
                   * ((v1.x - v0.x) * (vm.y - v0.y)
                      - (v1.y - v0.y) * (vm.x - v0.x)) as c2,
                   cast({eps2} as hugeint)
                   * ((v1.x - v0.x) * (v1.x - v0.x)
                      + (v1.y - v0.y) * (v1.y - v0.y)) as e2l2
            from iv s
            join v vm on vm.line_id = s.line_id
                     and vm.seq > s.i0 and vm.seq < s.i1
            join v v0 on v0.line_id = s.line_id and v0.seq = s.i0
            join v v1 on v1.line_id = s.line_id and v1.seq = s.i1
          ) c where rn = 1 and c2 > e2l2
        ) t cross join (values (0), (1)) k(k)
      ),
      keep as (
        select line_id, i0 as seq from iv
        union
        select line_id, i1 from iv
      )
      select distinct k.line_id, k.seq, v.x, v.y
      from keep k join v using (line_id, seq)
    """


def union_area_by_group(
    boxes: DataFrame, group_col: str = "g"
) -> DataFrame:
    """Dissolve: EXACT area of the union of axis-aligned boxes per group —
    the ST_Union→area analog for the bbox layer (the reference's Box
    algebra composes pairwise, Box.java:139-171; this is the n-ary union
    measure a rollup actually needs).

    Coordinate compression: within a group, the distinct box x-coords cut
    the axis into intervals (same for y); a compressed grid cell is either
    wholly inside some box or wholly outside, so
    union_area = Σ cell_area over cells covered by ≥1 box.  A group of k
    boxes makes ≤ (2k−1)² cells — quadratic in the GROUP size only, never
    in the table size, which is the right trade at scale (dissolve groups
    are dimension-sized; the fact table never self-joins).

    Plan: two window passes for the interval lists (both reuse the same
    group partitioning), a within-group interval×interval join, and a
    LEFT SEMI join against the boxes on (group, containment) — all
    equi-joins on the group key, AQE-skew-splittable.  Areas in
    decimal(38,0): a world-spanning box is (2^32)² > int64.

    Input (group_col, minx, miny, maxx, maxy) integer imps, boxes closed
    [min, max]; output (group_col, union_area) — summed exactly in
    decimal(38,0), emitted as double (the engine-portable output form;
    the sum itself never rounds).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    g = group_col
    xs = boxes.select(g, F.explode(F.array("minx", "maxx")).alias("v")).distinct()
    w = Window.partitionBy(g).orderBy("v")
    xi = (
        xs.select(g, F.col("v").alias("x0"), F.lead("v").over(w).alias("x1"))
        .filter(F.col("x1").isNotNull() & (F.col("x1") > F.col("x0")))
    )
    ys = boxes.select(g, F.explode(F.array("miny", "maxy")).alias("v")).distinct()
    yi = (
        ys.select(g, F.col("v").alias("y0"), F.lead("v").over(w.orderBy("v")).alias("y1"))
        .filter(F.col("y1").isNotNull() & (F.col("y1") > F.col("y0")))
    )
    cells = xi.join(yi, g)
    b = boxes.select(
        F.col(g).alias("bg"),
        "minx",
        "miny",
        "maxx",
        "maxy",
    )
    covered = cells.join(
        b,
        (F.col(g) == F.col("bg"))
        & (F.col("x0") >= F.col("minx"))
        & (F.col("x1") <= F.col("maxx"))
        & (F.col("y0") >= F.col("miny"))
        & (F.col("y1") <= F.col("maxy")),
        "left_semi",
    )
    area = (F.col("x1") - F.col("x0")).cast("decimal(19,0)") * (
        F.col("y1") - F.col("y0")
    ).cast("decimal(19,0)")
    return (
        covered.groupBy(g)
        .agg(F.sum(area).alias("union_area"))
        .select(
            g,
            F.col("union_area").cast("decimal(38,0)").cast("double").alias("union_area"),
        )
    )


def convex_hull_by_group(
    pts: DataFrame,
    group_col: str = "gid",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Per-group convex hull (Andrew monotone chain): the footprint
    summary of a point cluster — coverage polygons per tile/cluster,
    dissolve precursors, outlier fences.

    Returns hull VERTICES as rows (group, seq, x, y): CCW ring order in
    map orientation (y up), starting at the lexicographically smallest
    vertex, closed implicitly (last → first).  STRICT turns — collinear
    boundary points are dropped, so the vertex set is exactly the
    extreme points; degenerate groups come back whole (1 point → 1 row,
    2 points / all-collinear → the 2 extreme rows).

    Scale shape: the chain is the classic per-geometry kernel — ONE
    applyInPandas over the group partitioning (the only shuffle),
    O(n log n) per group in exact Python ints (imp deltas square past
    float53 and int64; object math costs nothing at hull sizes).
    Duplicate points are dropped before chaining.  Groups are the
    parallel grain: a single planet-sized group belongs in
    union_area_by_group / dissolve territory, not here.
    """

    def hull(pdf: pd.DataFrame) -> pd.DataFrame:
        p = sorted({(int(x), int(y)) for x, y in zip(pdf[x_col], pdf[y_col])})
        if len(p) <= 2:
            verts = p
        else:
            def cross(o, a, b):
                return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

            lower: list = []
            for q in p:
                while len(lower) >= 2 and cross(lower[-2], lower[-1], q) <= 0:
                    lower.pop()
                lower.append(q)
            upper: list = []
            for q in reversed(p):
                while len(upper) >= 2 and cross(upper[-2], upper[-1], q) <= 0:
                    upper.pop()
                upper.append(q)
            verts = lower[:-1] + upper[:-1]
            if len(verts) < 3:  # all points collinear: keep the two extremes
                verts = [p[0], p[-1]]
        g = pdf[group_col].iloc[0]
        return pd.DataFrame(
            {
                group_col: [g] * len(verts),
                "seq": range(len(verts)),
                x_col: [v[0] for v in verts],
                y_col: [v[1] for v in verts],
            }
        )

    gt = {f.name: f.dataType.simpleString() for f in pts.schema.fields}[group_col]
    return pts.select(group_col, x_col, y_col).groupBy(group_col).applyInPandas(
        hull, schema=f"{group_col} {gt}, seq int, {x_col} long, {y_col} long"
    )


def kgon_offsets(radius_imps: int, k: int = 8) -> list:
    """Integer vertex offsets of the regular k-gon inscribed in the
    radius — the disc approximation a Minkowski buffer sums with.
    Computed ONCE driver-side in Python (floor-form rounding) and
    embedded as literals in BOTH engines' plans, so no engine
    transcendental ever runs: cross-engine equality holds by
    construction."""
    import math

    return [
        (
            int(math.floor(radius_imps * math.cos(2 * math.pi * j / k) + 0.5)),
            int(math.floor(radius_imps * math.sin(2 * math.pi * j / k) + 0.5)),
        )
        for j in range(k)
    ]


def buffer_convex_by_group(
    verts: DataFrame,
    radius_imps: int,
    k: int = 8,
    group_col: str = "gid",
) -> DataFrame:
    """BUFFER (positive offset) of a convex ring per group — the GIS
    staple the reference leaves to callers: grow each footprint by a
    radius, e.g. a safety corridor around a hull before a containment
    test.  Exact construction: the Minkowski sum of a convex polygon
    with a convex k-gon disc is conv{v_i + d_j}, so the buffered ring
    is just (vertex × offset sums) → convex hull again — every step
    integer-exact, reusing the hull kernel.

    Input rows (group, x, y) must be vertices of a CONVEX ring (e.g.
    convex_hull_by_group output; interior points are harmless — the
    hull absorbs them).  Returns hull-ordered rows (group, seq, x, y),
    CCW closed implicitly.

    Scale shape: one broadcast cross join against the k-row literal
    offset table (fact side scanned once, k× explode bounded by k≤32),
    then the hull's single applyInPandas shuffle — group sizes are
    hull_size×k, tiny by construction.
    """
    offs = kgon_offsets(radius_imps, k)
    spark = verts.sparkSession
    off_df = spark.createDataFrame(offs, "ox long, oy long")
    summed = verts.crossJoin(F.broadcast(off_df)).select(
        group_col,
        (F.col("x") + F.col("ox")).alias("x"),
        (F.col("y") + F.col("oy")).alias("y"),
    )
    return convex_hull_by_group(summed, group_col=group_col)


def ring_area2_by_group(ring: DataFrame, group_col: str = "gid") -> DataFrame:
    """Twice the absolute shoelace area of a seq-ordered ring per group,
    exact: cross terms in decimal(38,0) (imp products square past
    int64), one window pass for the cyclic successor.  Returns
    (group, nv, area2) with area2 an exact integer rendered as double
    (deterministic IEEE narrowing of the same exact value on every
    engine)."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy("seq")
    xn = F.coalesce(F.lead("x").over(w), F.first("x").over(w))
    yn = F.coalesce(F.lead("y").over(w), F.first("y").over(w))
    cross = F.col("x").cast("decimal(38,0)") * yn.cast("decimal(38,0)") - xn.cast(
        "decimal(38,0)"
    ) * F.col("y").cast("decimal(38,0)")
    return (
        ring.select(group_col, "seq", "x", "y", cross.alias("_c"))
        .groupBy(group_col)
        .agg(
            F.count("*").alias("nv"),
            F.abs(F.sum("_c")).cast("decimal(38,0)").cast("double").alias("area2"),
        )
    )


def _coord7_str(c):
    """Precision-7 coordinate rendered through decimal(11,7) — the ONLY
    double→string path measured byte-identical between Spark and DuckDB
    (shortest-roundtrip Double.toString is not; decimal keeps the full
    scale on both engines).  Floor-form rounding per Mercator.java."""
    from pyspark.sql import functions as F

    return (
        ((F.floor(c * F.lit(1e7) + F.lit(0.5))) / F.lit(1e7))
        .cast("decimal(11,7)")
        .cast("string")
    )


def geojson_point_col(x_col, y_col):
    """GeoJSON Point geometry string from imp coordinates — the
    column-level Feature.toGeoJson() (GeoJson.java / Mercator.java
    precision-7 writer): pure JVM concat, no Python, safe to emit for
    10^12 rows inside whole-stage codegen."""
    from pyspark.sql import functions as F

    return F.concat(
        F.lit('{"type":"Point","coordinates":['),
        _coord7_str(mercator.lon_from_x_col(x_col)),
        F.lit(","),
        _coord7_str(mercator.lat_from_y_col(y_col)),
        F.lit("]}"),
    )


def geojson_way_col(pts_col, is_area_col):
    """GeoJSON LineString/Polygon geometry string for a way whose ordered
    vertices sit in an array<struct<x,y>> column: LineString as-is;
    area ways render as a single-ring Polygon, closing the ring iff the
    way isn't already closed (OSM closed ways repeat first=last)."""
    from pyspark.sql import functions as F

    def pt(p):
        return F.concat(
            F.lit("["),
            _coord7_str(mercator.lon_from_x_col(p.x)),
            F.lit(","),
            _coord7_str(mercator.lat_from_y_col(p.y)),
            F.lit("]"),
        )

    coords = F.concat_ws(",", F.transform(pts_col, pt))
    first, last = F.element_at(pts_col, 1), F.element_at(pts_col, -1)
    already_closed = (first.x == last.x) & (first.y == last.y)
    ring = F.when(already_closed, coords).otherwise(
        F.concat(coords, F.lit(","), pt(first))
    )
    geom = F.when(
        is_area_col,
        F.concat(F.lit('{"type":"Polygon","coordinates":[['), ring, F.lit("]]}")),
    ).otherwise(
        F.concat(F.lit('{"type":"LineString","coordinates":['), coords, F.lit("]}"))
    )
    # Empty vertex arrays would null element_at and silently null the
    # whole concat — fail loudly instead (malformed way = corrupt input).
    return F.when(F.size(pts_col) > 0, geom).otherwise(
        F.raise_error(F.lit("geojson_way_col: way with empty vertex array"))
    )


def _wkt_pt(x_col, y_col):
    from pyspark.sql import functions as F

    return F.concat(
        _coord7_str(mercator.lon_from_x_col(x_col)),
        F.lit(" "),
        _coord7_str(mercator.lat_from_y_col(y_col)),
    )


def wkt_point_col(x_col, y_col):
    """WKT POINT string — the reference's planned ``Feature.toWkt()``
    (declared, not yet shipped: Feature.java:239); same decimal-rendered
    precision-7 coordinates as the GeoJSON writer, pure JVM concat."""
    from pyspark.sql import functions as F

    return F.concat(F.lit("POINT ("), _wkt_pt(x_col, y_col), F.lit(")"))


def wkt_way_col(pts_col, is_area_col):
    """WKT LINESTRING / POLYGON string for an ordered
    array<struct<x,y>> vertex column; area ways close the ring iff not
    already closed (the GeoJSON writer's rule)."""
    from pyspark.sql import functions as F

    coords = F.concat_ws(", ", F.transform(pts_col, lambda p: _wkt_pt(p.x, p.y)))
    first, last = F.element_at(pts_col, 1), F.element_at(pts_col, -1)
    already_closed = (first.x == last.x) & (first.y == last.y)
    ring = F.when(already_closed, coords).otherwise(
        F.concat(coords, F.lit(", "), _wkt_pt(first.x, first.y))
    )
    geom = F.when(
        is_area_col, F.concat(F.lit("POLYGON (("), ring, F.lit("))"))
    ).otherwise(F.concat(F.lit("LINESTRING ("), coords, F.lit(")")))
    # fail loudly on empty vertex arrays (see geojson_way_col)
    return F.when(F.size(pts_col) > 0, geom).otherwise(
        F.raise_error(F.lit("wkt_way_col: way with empty vertex array"))
    )


CHAIKIN_OFF = 1 << 31


def chaikin_smooth(
    verts: DataFrame,
    rounds: int = 1,
    line_col: str = "line_id",
    seq_col: str = "seq",
) -> DataFrame:
    """Chaikin corner-cutting smoothing — the generalization sibling of
    Douglas–Peucker (DP removes detail, Chaikin rounds it): every round
    replaces each interior edge (Pᵢ, Pᵢ₊₁) with the quarter points
    Q = (3Pᵢ + Pᵢ₊₁)/4 and R = (Pᵢ + 3Pᵢ₊₁)/4, keeping the endpoints;
    the limit curve is the quadratic B-spline.

    Exact quarters with the sign-safe floor: coordinates are imps
    (signed), and Spark's `div` TRUNCATES where DuckDB's `//` floors —
    so both engines compute floor((3a + b + 4·2³¹) div 4) − 2³¹
    (offset makes operands nonnegative, where the two semantics agree;
    the repo's double→bigint law in integer-division form).

    Per round: ONE window lead() (reusing the per-line partitioning) +
    one 2-struct explode — rows double per round, the B-spline
    refinement budget.  Output (line_col, seq, x, y) with a dense new
    seq; endpoints preserved.
    """
    from pyspark.sql import Window, functions as F

    OFF4 = 4 * CHAIKIN_OFF
    cur = verts.select(
        F.col(line_col).alias("_l"), F.col(seq_col).alias("_s"),
        F.col("x").cast("long").alias("_x"), F.col("y").cast("long").alias("_y"),
    )
    for _ in range(rounds):
        w = Window.partitionBy("_l").orderBy("_s")
        e = cur.select(
            "_l", "_s", "_x", "_y",
            F.lead("_x").over(w).alias("_nx"),
            F.lead("_y").over(w).alias("_ny"),
            F.row_number().over(w).alias("_rn"),
            F.count("*").over(Window.partitionBy("_l")).alias("_cnt"),
        )
        q = lambda a, b: F.expr(f"((3 * {a} + {b} + {OFF4}) div 4) - {CHAIKIN_OFF}")
        mids = e.filter(F.col("_nx").isNotNull()).select(
            "_l",
            F.explode(
                F.array(
                    F.struct(
                        (F.col("_s") * 2 + 1).alias("_s"),
                        q("_x", "_nx").alias("_x"),
                        q("_y", "_ny").alias("_y"),
                    ),
                    F.struct(
                        (F.col("_s") * 2 + 2).alias("_s"),
                        q("_nx", "_x").alias("_x"),
                        q("_ny", "_y").alias("_y"),
                    ),
                )
            ).alias("_p"),
        ).select("_l", "_p._s", "_p._x", "_p._y")
        ends = e.filter((F.col("_rn") == 1) | (F.col("_rn") == F.col("_cnt"))).select(
            "_l",
            F.when(F.col("_rn") == 1, F.col("_s") * 2)
            .otherwise(F.col("_s") * 2 + 3)
            .alias("_s"),
            "_x",
            "_y",
        )
        cur = mids.unionByName(ends)
    w2 = Window.partitionBy("_l").orderBy("_s")
    return cur.select(
        F.col("_l").alias(line_col),
        (F.row_number().over(w2) - 1).alias(seq_col),
        F.col("_x").alias("x"),
        F.col("_y").alias("y"),
    )


def chaikin_smooth_sql(verts_rel: str, rounds: int = 1) -> str:
    """DuckDB twin of chaikin_smooth over ``verts_rel``
    (line_id, seq, x, y) — same offset floor-division quarters."""
    OFF4 = 4 * CHAIKIN_OFF

    def q(a: str, b: str) -> str:
        return f"((3 * {a} + {b} + {OFF4}) // 4) - {CHAIKIN_OFF}"

    parts = [f"c0 as (select line_id as l, seq as s, cast(x as bigint) as x, "
             f"cast(y as bigint) as y from ({verts_rel}) src)"]
    for r in range(1, rounds + 1):
        prev, cur = f"c{r-1}", f"c{r}"
        parts.append(f"""e{r} as materialized (
          select l, s, x, y,
                 lead(x) over (partition by l order by s) as nx,
                 lead(y) over (partition by l order by s) as ny,
                 row_number() over (partition by l order by s) as rn,
                 count(*) over (partition by l) as cnt
          from {prev})""")
        parts.append(f"""{cur} as (
          select l, s * 2 + 1 as s, {q('x', 'nx')} as x, {q('y', 'ny')} as y
          from e{r} where nx is not null
          union all
          select l, s * 2 + 2, {q('nx', 'x')}, {q('ny', 'y')}
          from e{r} where nx is not null
          union all
          select l, case when rn = 1 then s * 2 else s * 2 + 3 end, x, y
          from e{r} where rn = 1 or rn = cnt)""")
    return (
        "with " + ",\n".join(parts)
        + f"""
      select l as line_id,
             row_number() over (partition by l order by s) - 1 as seq, x, y
      from c{rounds}
    """
    )


SAMPLE_BARY_S = 1 << 20
_SAMPLE_M31 = 2147483648


def sample_points_in_polygons(
    rings: DataFrame,
    k: int = 4,
    poly_col: str = "poly_id",
    seq_col: str = "seq",
) -> DataFrame:
    """Deterministic area-weighted interior point sampling for CONVEX
    polygons (hull outputs, cells, footprints) — the label-augmentation
    generator: k reproducible points per polygon, uniformly by area, no
    rejection loop, no RNG state.

    Classic triangle-fan sampling made exact-integer: fan triangles
    (v₀, vᵢ, vᵢ₊₁) carry positive doubled areas (CCW convex ring, the
    convex_hull_by_group contract); a MINSTD LCG of (poly, sample)
    picks the triangle by cumulative-area range, two more LCG draws
    give barycentric (u, v) at scale 2²⁰ with the u+v>S fold; the point
    is a + (u·(b−a) + v·(c−a)) over S via the sign-safe OFFSET floor
    division.  The rational pre-round point is exactly inside the
    closed triangle; flooring moves < 1 imp, so samples lie within one
    imp of the polygon (and strictly inside for any polygon thicker
    than a lattice cell).

    Shape: one window pass builds fan triangles + cumulative areas
    (per-poly partitioning), samples explode k-wide from the poly
    list, and ONE equi-join on poly (filtered by the cum range — fan
    size × k candidates per poly, never cross-poly) places them.
    Degenerate polygons (< 3 vertices or zero area) yield no samples.

    → (poly_col, sample_id, px, py).
    """
    from pyspark.sql import Window, functions as F

    S = SAMPLE_BARY_S
    M = _SAMPLE_M31
    OFF = CHAIKIN_OFF
    OFFS = OFF * S

    w = Window.partitionBy("_p").orderBy("_s")
    v = rings.select(
        F.col(poly_col).alias("_p"), F.col(seq_col).alias("_s"),
        F.col("x").cast("long").alias("_x"), F.col("y").cast("long").alias("_y"),
    )
    e = v.select(
        "_p", "_x", "_y",
        (F.row_number().over(w) - 1).alias("_rn"),
        F.count("*").over(Window.partitionBy("_p")).alias("_cnt"),
        F.first("_x").over(w).alias("_ax"),
        F.first("_y").over(w).alias("_ay"),
        F.lead("_x").over(w).alias("_cx"),
        F.lead("_y").over(w).alias("_cy"),
    )
    tri = e.filter(
        (F.col("_rn") >= 1) & (F.col("_rn") <= F.col("_cnt") - 2)
    ).select(
        "_p",
        F.col("_rn").alias("_ti"),
        "_ax", "_ay",
        F.col("_x").alias("_bx"), F.col("_y").alias("_by"),
        "_cx", "_cy",
        (
            (F.col("_x") - F.col("_ax")) * (F.col("_cy") - F.col("_ay"))
            - (F.col("_y") - F.col("_ay")) * (F.col("_cx") - F.col("_ax"))
        ).alias("_a2"),
    )
    wt = Window.partitionBy("_p").orderBy("_ti")
    tri = tri.withColumn("_hi", F.sum("_a2").over(wt)).withColumn(
        "_lo", F.col("_hi") - F.col("_a2")
    ).withColumn("_tot", F.sum("_a2").over(Window.partitionBy("_p")))
    tri = tri.filter(F.col("_tot") > 0)

    polys = tri.select("_p", "_tot").distinct()
    samples = polys.select(
        "_p", "_tot", F.explode(F.array(*[F.lit(i) for i in range(1, k + 1)])).alias("_i")
    )
    h0 = ((F.col("_p") % M) * 2654435761 + F.col("_i") * 40503) % M
    h1 = (h0 * 48271) % M
    h2 = (h1 * 48271) % M
    h3 = (h2 * 48271) % M
    samples = samples.select(
        "_p", "_i",
        (h1 % F.col("_tot")).alias("_r"),
        (h2 % F.lit(S + 1)).alias("_u"),
        (h3 % F.lit(S + 1)).alias("_v"),
    ).withColumn(
        "_uf",
        F.when(F.col("_u") + F.col("_v") > S, F.lit(S) - F.col("_u")).otherwise(
            F.col("_u")
        ),
    ).withColumn(
        "_vf",
        F.when(F.col("_u") + F.col("_v") > S, F.lit(S) - F.col("_v")).otherwise(
            F.col("_v")
        ),
    )
    j = samples.join(tri, "_p").filter(
        (F.col("_r") >= F.col("_lo")) & (F.col("_r") < F.col("_hi"))
    )
    px = F.expr(
        f"((_ax * {S} + _uf * (_bx - _ax) + _vf * (_cx - _ax) + {OFFS}) div {S})"
        f" - {OFF}"
    )
    py = F.expr(
        f"((_ay * {S} + _uf * (_by - _ay) + _vf * (_cy - _ay) + {OFFS}) div {S})"
        f" - {OFF}"
    )
    return j.select(
        F.col("_p").alias(poly_col),
        F.col("_i").alias("sample_id"),
        px.cast("long").alias("px"),
        py.cast("long").alias("py"),
    )


def sample_points_in_polygons_sql(rings_rel: str, k: int = 4) -> str:
    """DuckDB twin of sample_points_in_polygons over ``rings_rel``
    (poly_id, seq, x, y)."""
    S = SAMPLE_BARY_S
    M = _SAMPLE_M31
    OFF = CHAIKIN_OFF
    OFFS = OFF * S
    ks = ",".join(f"({i})" for i in range(1, k + 1))
    return f"""
      with v as (select poly_id as p, seq as s,
                        cast(x as bigint) as x, cast(y as bigint) as y
                 from ({rings_rel}) src),
      e as (select p, x, y,
                   row_number() over (partition by p order by s) - 1 as rn,
                   count(*) over (partition by p) as cnt,
                   first_value(x) over (partition by p order by s) as ax,
                   first_value(y) over (partition by p order by s) as ay,
                   lead(x) over (partition by p order by s) as cx,
                   lead(y) over (partition by p order by s) as cy
            from v),
      tri0 as (select p, rn as ti, ax, ay, x as bx, y as by, cx, cy,
                      (x - ax) * (cy - ay) - (y - ay) * (cx - ax) as a2
               from e where rn >= 1 and rn <= cnt - 2),
      tri as materialized (
        select *, sum(a2) over (partition by p order by ti) as hi,
               sum(a2) over (partition by p order by ti) - a2 as lo,
               sum(a2) over (partition by p) as tot
        from tri0),
      polys as (select distinct p, tot from tri where tot > 0),
      sam0 as (select p, tot, i,
                      (((p % {M}) * 2654435761 + i * 40503) % {M} * 48271) % {M} as h1
               from polys cross join (values {ks}) kk(i)),
      sam1 as (select p, i, h1 % tot as r, (h1 * 48271) % {M} as h2 from sam0),
      sam2 as (select p, i, r, h2 % {S + 1} as u,
                      ((h2 * 48271) % {M}) % {S + 1} as v
               from sam1),
      sam as (select p, i, r,
                     case when u + v > {S} then {S} - u else u end as uf,
                     case when u + v > {S} then {S} - v else v end as vf
              from sam2)
      select t.p as poly_id, s.i as sample_id,
             ((t.ax * {S} + s.uf * (t.bx - t.ax) + s.vf * (t.cx - t.ax)
               + {OFFS}) // {S}) - {OFF} as px,
             ((t.ay * {S} + s.uf * (t.by - t.ay) + s.vf * (t.cy - t.ay)
               + {OFFS}) // {S}) - {OFF} as py
      from sam s join tri t on t.p = s.p and s.r >= t.lo and s.r < t.hi
    """
