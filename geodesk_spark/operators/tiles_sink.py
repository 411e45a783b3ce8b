"""Raster ↔ vector tile materialization — the MapMaker analog.

The reference's only rendering surface is MapMaker (util/MapMaker.java:
24-120): features → Leaflet HTML with a raster basemap + vector
overlays.  Re-expressed Spark-first: one ``applyInPandas`` over
tile-grouped points materializes, per (zoom, col, row):

- a raster tile: a 256×256 density histogram of the tile's points,
  encoded with the deterministic png stand-in codec, and
- a vector tile: GeoJSON FeatureCollection of the points (coordinate
  precision follows util/CoordinateTransformer.java:21-50 — 7-decimal
  rounded lon/lat).

Each task writes only its own tile files (standard object-store fan-out
at cluster scale) and returns a manifest row (tile, n_points, paths).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from geodesk_spark import codec
from geodesk_spark.geo import mercator, tile as T

TILE_PX = 256


def render_tiles(points: DataFrame, out_dir: str, tile_col: str = "tile_z8") -> DataFrame:
    """points needs (image_id, x, y, <tile_col>).  Returns the manifest
    DataFrame (tile, zoom, col, row, n_points, raster_path, vector_path)."""
    os.makedirs(out_dir, exist_ok=True)

    def render(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        tile = int(key[0])
        z = int(T.zoom_of(tile)[()])
        c = int(T.column_of(tile)[()])
        r = int(T.row_of(tile)[()])
        lx = float(T.left_x(tile)[()])
        by = float(T.bottom_y(tile)[()])
        extent = float(1 << (32 - z))

        x = pdf["x"].to_numpy(np.float64)
        y = pdf["y"].to_numpy(np.float64)
        px = np.clip(((x - lx) / extent * TILE_PX).astype(np.int64), 0, TILE_PX - 1)
        py = np.clip(((by + extent - 1 - y) / extent * TILE_PX).astype(np.int64), 0, TILE_PX - 1)
        hist = np.zeros((TILE_PX, TILE_PX), dtype=np.int64)
        np.add.at(hist, (py, px), 1)
        shade = (255 * (1 - 1 / (1 + hist))).astype(np.uint8)
        raster = np.stack([shade, shade, shade], axis=-1)

        tdir = os.path.join(out_dir, str(z), str(c))
        os.makedirs(tdir, exist_ok=True)
        raster_path = os.path.join(tdir, f"{r}.png")
        with open(raster_path, "wb") as f:
            f.write(codec.encode(raster, "png"))

        lon = mercator.lon_precision7_from_x(x)
        lat = mercator.lat_precision7_from_y(y)
        features = [
            {
                "type": "Feature",
                "geometry": {"type": "Point", "coordinates": [lon[i], lat[i]]},
                "properties": {"id": pdf["image_id"].iloc[i]},
            }
            for i in range(len(pdf))
        ]
        vector_path = os.path.join(tdir, f"{r}.geojson")
        with open(vector_path, "w") as f:
            json.dump({"type": "FeatureCollection", "features": features}, f)

        return pd.DataFrame(
            {
                "tile": [tile],
                "zoom": [z],
                "col": [c],
                "row": [r],
                "n_points": [len(pdf)],
                "raster_path": [raster_path],
                "vector_path": [vector_path],
            }
        )

    return (
        points.select("image_id", "x", "y", tile_col)
        .groupBy(tile_col)
        .applyInPandas(
            render,
            schema=(
                "tile int, zoom int, col int, row int, n_points long, "
                "raster_path string, vector_path string"
            ),
        )
    )


def write_leaflet_page(
    manifest: pd.DataFrame,
    out_dir: str,
    filename: str = "map.html",
    tile_server_url: str = "https://tile.openstreetmap.org/{z}/{x}/{y}.png",
    attribution: str = 'Map data © <a href="http://openstreetmap.org">OpenStreetMap</a> contributors',
    min_zoom: int = 0,
    max_zoom: int = 19,
    markers: list | None = None,
) -> str:
    """The MapMaker HTML surface (util/MapMaker.java:272-330): one
    self-contained Leaflet page over the rendered tile set.

    Mirrors the reference's page structure — stylesheet/script includes,
    ``#map {height:100%}``, a basemap TileLayer with min/max zoom +
    attribution, per-marker overlays, and a final fitBounds over the
    union of marker bounds (MapMaker.writeScript).  Our markers are the
    manifest's tiles: each becomes an ``L.imageOverlay`` of its rendered
    raster png (relative path ``z/col/row.png``), so the page references
    every tile the sink produced.  The manifest is the driver-side
    summary (one row per tile) — writing the page is a cheap driver
    step, like the reference's single-writer save().

    ``markers`` adds the reference's Marker surface (util/Marker.java:
    22-153, MapMaker.GeometryMarker.writeStub): each marker is a dict
    {kind: 'point'|'line'|'polygon', coords, tooltip?, url?, options?}
    with imp-coordinate geometry (point: (x, y); line: [(x, y), …];
    polygon: [ring, …] — outer first, then holes).  Emitted exactly as
    the reference writes them: ``L.circle`` / ``L.polyline`` /
    ``L.polygon`` with the options object, ``.bindTooltip(...)``, a
    click handler navigating to ``url``, ``.addTo(map)``; marker bounds
    join the final fitBounds union.
    """
    import json as _json
    rows = manifest.to_dict("records")
    parts = []
    minx = miny = float("inf")
    maxx = maxy = float("-inf")

    def latlon(x: float, y: float) -> str:
        # MapMaker.writeXY emits [lat, lon]
        return f"[{float(mercator.lat_from_y(y)[()])!r},{float(mercator.lon_from_x(x)[()])!r}]"

    for m in rows:
        tile = int(m["tile"])
        z = int(m["zoom"])
        lx = float(T.left_x(tile)[()])
        by = float(T.bottom_y(tile)[()])
        extent = float(1 << (32 - z))
        tminx, tminy = lx, by
        tmaxx, tmaxy = lx + extent - 1, by + extent - 1
        minx, miny = min(minx, tminx), min(miny, tminy)
        maxx, maxy = max(maxx, tmaxx), max(maxy, tmaxy)
        rel = f"{z}/{int(m['col'])}/{int(m['row'])}.png"
        parts.append(
            f"L.imageOverlay('{rel}', [{latlon(tminx, tminy)},{latlon(tmaxx, tmaxy)}],"
            f" {{opacity: 0.6}}).addTo(map);"
        )
    for m in markers or []:
        kind = m["kind"]
        opts = f", {_json.dumps(m['options'])}" if m.get("options") else ""
        if kind == "point":
            x, y = m["coords"]
            minx, miny = min(minx, x), min(miny, y)
            maxx, maxy = max(maxx, x), max(maxy, y)
            stub = f"L.circle({latlon(x, y)}{opts})"
        elif kind == "line":
            pts = [(float(x), float(y)) for x, y in m["coords"]]
            for x, y in pts:
                minx, miny = min(minx, x), min(miny, y)
                maxx, maxy = max(maxx, x), max(maxy, y)
            coords = ",".join(latlon(x, y) for x, y in pts)
            stub = f"L.polyline([{coords}]{opts})"
        elif kind == "polygon":
            rings = []
            for ring in m["coords"]:
                pts = [(float(x), float(y)) for x, y in ring]
                for x, y in pts:
                    minx, miny = min(minx, x), min(miny, y)
                    maxx, maxy = max(maxx, x), max(maxy, y)
                rings.append("[" + ",".join(latlon(x, y) for x, y in pts) + "]")
            stub = f"L.polygon([{','.join(rings)}]{opts})"
        else:  # pragma: no cover
            raise ValueError(f"unknown marker kind: {kind!r}")
        if m.get("tooltip"):
            stub += f".bindTooltip({_json.dumps(m['tooltip'])})"
        if m.get("url"):
            stub += f".on('click', function(){{window.location={_json.dumps(m['url'])};}})"
        parts.append(stub + ".addTo(map);")

    overlays = "\n".join(parts)
    fit = (
        f"map.fitBounds([{latlon(minx, miny)},{latlon(maxx, maxy)}]);"
        if rows or markers
        else "map.setView([0, 0], 2);"
    )
    # json.dumps both header strings (like the marker fields): a bare
    # apostrophe in the attribution would otherwise break the whole page
    script = (
        "var map = L.map('map');\n"
        f"var tilesUrl={_json.dumps(tile_server_url)};\n"
        f"var tilesAttrib={_json.dumps(attribution)};\n"
        f"var tileLayer = new L.TileLayer(tilesUrl, {{minZoom: {min_zoom}, "
        f"maxZoom: {max_zoom}, attribution: tilesAttrib}});\n"
        "map.setView([51.505, -0.09], 13);\n"
        "map.addLayer(tileLayer);\n"
        "L.control.scale().addTo(map);\n"
        f"{overlays}\n{fit}"
    )
    html = (
        '<html><head><link rel="stylesheet" '
        'href="https://unpkg.com/leaflet@1.8.0/dist/leaflet.css">\n'
        '<script src="https://unpkg.com/leaflet@1.8.0/dist/leaflet.js"></script>\n'
        "<style>\n#map {height: 100%;}\nbody {margin:0;}\n</style>\n"
        '</head>\n<body>\n<div id="map"> </div>\n'
        f"<script>{script}</script></body></html>"
    )
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, filename)
    with open(path, "w") as f:
        f.write(html)
    return path


def rasterize_pixel_counts(points: DataFrame, zoom: int = 8):
    """Raster histogram as pure JVM column arithmetic: per (tile, px, py)
    point counts at TILE_PX resolution — the same binning render_tiles
    does in numpy, expressed so Catalyst codegens it (the scale path:
    the file-writing sink consumes this rollup instead of raw points).

    px = floor((x - leftX)/extent·256) = floor((x+2^31)/2^(24 at z8)) mod 256,
    py likewise on the flipped-y axis (rows grow southward).
    """
    from pyspark.sql import functions as F

    sub = 32 - zoom - 8  # bits per pixel cell
    xs = F.col("x").cast("bigint") + (1 << 31)
    yd = F.lit((1 << 31) - 1) - F.col("y").cast("bigint")
    return (
        points.withColumn("tile", T.tile_col(F.col("x"), F.col("y"), zoom).cast("bigint"))
        .withColumn("px", (F.shiftright(xs, sub) % 256).cast("int"))
        .withColumn("py", (F.shiftright(yd, sub) % 256).cast("int"))
        .groupBy("tile", "px", "py")
        .agg(F.count("*").alias("n"))
    )


def quantize_for_tiles(
    lines: DataFrame,
    zoom: int,
    extent: int = 4096,
    line_id: str = "line_id",
    seq: str = "seq",
) -> DataFrame:
    """The vector-tile ENCODE step (MVT-style): quantize polyline
    vertices to tile-local integer coordinates and drop consecutive
    duplicates.

    Vector tile formats store geometry as small ints on a per-tile
    ``extent`` × ``extent`` grid (MVT: 4096); after quantization,
    consecutive vertices that land on the same grid point are redundant
    and every encoder elides them — that elision is what makes coarse-
    zoom tiles small.  The reference's vector output (GeoJSON in
    render_tiles, precision-7 floats) keeps full precision; this is the
    integer-grid counterpart used by binary tile pipelines.

    All integer arithmetic, pure JVM: tile col/row by bit shift, local
    offset by subtraction, grid snap by ``(local * extent) >> (32-zoom)``
    (exact — no float enters), dedup + renumber by two narrow windows
    partitioned on (line_id, tile).  One shuffle (the window partition),
    which at scale is also exactly the partitioning the tile WRITER
    needs, so the sort is reused downstream.

    Input: (line_id, seq, x, y) int imps; output (line_id, tcol, trow,
    seq_out, qx, qy) with seq_out a dense per-(line, tile) vertex index.
    """
    from pyspark.sql import Window, functions as F

    step_shift = 32 - zoom
    col = T.column_from_x_col(F.col("x"), zoom).cast("long")
    row = T.row_from_y_col(F.col("y"), zoom).cast("long")
    lx = F.col("x").cast("long") + F.lit(1 << 31).cast("long") - F.shiftleft(col, step_shift)
    ly = F.lit((1 << 31) - 1).cast("long") - F.col("y").cast("long") - F.shiftleft(row, step_shift)
    q = lines.select(
        F.col(line_id).alias("line_id"),
        F.col(seq).alias("_seq"),
        col.alias("tcol"),
        row.alias("trow"),
        F.shiftright(lx * F.lit(extent).cast("long"), step_shift).cast("int").alias("qx"),
        F.shiftright(ly * F.lit(extent).cast("long"), step_shift).cast("int").alias("qy"),
    )
    w = Window.partitionBy("line_id", "tcol", "trow").orderBy("_seq")
    q = q.withColumn("_pqx", F.lag("qx").over(w)).withColumn("_pqy", F.lag("qy").over(w))
    kept = q.filter(
        F.col("_pqx").isNull()
        | (F.col("qx") != F.col("_pqx"))
        | (F.col("qy") != F.col("_pqy"))
    )
    w2 = Window.partitionBy("line_id", "tcol", "trow").orderBy("_seq")
    return kept.withColumn("seq_out", F.row_number().over(w2)).select(
        "line_id", "tcol", "trow", "seq_out", "qx", "qy"
    )


def clip_segments_to_tiles(
    segs: DataFrame, zoom: int = 7, id_col: str = "sid"
) -> DataFrame:
    """Liang–Barsky parametric clip of segments to the tile grid — the
    geometry CLIP step of a vector-tile emit (every tile writer clips
    features to its tile rect; the reference's tile builder assigns a
    feature to each tile its geometry enters, then the renderer clips).

    Per (segment, covered tile): solve the parametric overlap
    [t0, t1] ⊆ [0, 1] of the segment against the tile rect with the
    four half-plane tests (entering edges raise t0 = max(q/p), leaving
    edges lower t1 = min(q/p), p = 0 rejects when outside the slab),
    keep t0 < t1, and emit the clipped endpoints.

    Scale shape: cover-explode (map-side, fan-out O(len/tile)²) → all
    arithmetic in one codegen stage, NO shuffle at all — the output is
    already keyed by tile for the downstream writer's partitioning.
    Division happens only under p≠0 CASE guards (lazy in both engines)
    and every float op mirrors the SQL oracle's order, so results are
    IEEE-identical.

    Input: (id_col, x1, y1, x2, y2) int imps; output (id_col, cell,
    cx1, cy1, cx2, cy2) with cell = zoom·2²⁴ + row·4096 + col and
    clipped coords rounded to 4 dp.
    """
    from pyspark.sql import functions as F

    from geodesk_spark.operators.tiling import explode_cover

    step = 1 << (32 - zoom)
    x1, y1 = F.col("x1"), F.col("y1")
    x2, y2 = F.col("x2"), F.col("y2")
    covered = explode_cover(
        segs.select(F.col(id_col), "x1", "y1", "x2", "y2"), zoom
    )
    txmin = F.col("_cc") * F.lit(step) - F.lit(2147483648)
    txmax = txmin + F.lit(step)
    tymax = F.lit(2147483647) - F.col("_rr") * F.lit(step)
    tymin = tymax - F.lit(step)
    dx = (x2 - x1).cast("double")
    dy = (y2 - y1).cast("double")
    edges = [
        (-dx, (x1 - txmin).cast("double")),
        (dx, (txmax - x1).cast("double")),
        (-dy, (y1 - tymin).cast("double")),
        (dy, (tymax - y1).cast("double")),
    ]
    reject = F.lit(False)
    entries, exits = [], []
    for p, q in edges:
        reject = reject | ((p == 0) & (q < 0))
        entries.append(F.when(p < 0, q / p).otherwise(F.lit(0.0)))
        exits.append(F.when(p > 0, q / p).otherwise(F.lit(1.0)))
    t0 = F.greatest(F.lit(0.0), *entries)
    t1 = F.least(F.lit(1.0), *exits)
    # floor(v·10⁴ + 0.5)/10⁴ instead of round(): round() ties break
    # differently across engines (Spark = exact-BigDecimal HALF_UP,
    # DuckDB = float midpoint), while this form is the same IEEE op
    # sequence everywhere (CLAUDE.md hexgrid invariant).
    def r4(c):
        return F.floor(c * F.lit(1e4) + F.lit(0.5)) / F.lit(1e4)

    return (
        covered.filter(~reject & (t0 < t1))
        .select(
            id_col,
            "cell",
            r4(x1 + t0 * dx).alias("cx1"),
            r4(y1 + t0 * dy).alias("cy1"),
            r4(x1 + t1 * dx).alias("cx2"),
            r4(y1 + t1 * dy).alias("cy2"),
        )
    )


def SH_TILE_PASSES(step: int) -> list[tuple[str, str, bool]]:
    """The four tile half-plane passes in canonical order, over
    TILE-LOCAL coordinates: x≥0, x≤extent, y≥0, y≤extent."""
    return [
        ("0", "x", True),
        (str(step), "x", False),
        ("0", "y", True),
        (str(step), "y", False),
    ]


def sh_clip_pass_expr(
    r: str, bound: str, axis: str, keep_ge: bool, engine: str, tag: str = ""
) -> str:
    """One Sutherland–Hodgman half-plane clip pass as an expression
    string over a ring column ``r`` (array<struct<x:double,y:double>>),
    renderable for either engine (``engine`` ∈ {"spark", "duckdb"}).

    The pass walks the ring's edges (prev→cur with wraparound via a
    rotate-by-one zip) and, per the standard SH emission table, yields
    [cur] (both inside), [intersection, cur] (entering),
    [intersection] (leaving) or [] (both outside) — encoded as a
    2-slot array of nullable structs flattened then null-filtered, so
    the CASE branches stay type-stable in both engines.  The division
    in the intersection point happens only under the crossing branch
    (inside(s) ≠ inside(e) ⇒ the divisor cur−prev along the clipped
    axis is nonzero), lazily in both engines.  Every float op appears
    in the IDENTICAL textual order for Spark and DuckDB so clipped
    coordinates are IEEE-bit-identical (CLAUDE.md float invariant).

    The input ``r`` is LET-BOUND as a lambda variable via a
    single-element-array transform, so the returned expression
    references ``r`` exactly ONCE.  This makes chained passes LINEAR
    in size: a naive form references its input ~6× (size guard,
    rotation, zip), and four chained passes inlined by Catalyst's
    CollapseProject blow up 6⁴-fold (measured: an 8.6 MiB task binary
    and a 35 s stage for work that takes <2 s in the let-bound form).
    ``tag`` suffixes the lambda variable names — REQUIRED distinct per
    pass when passes nest, since both engines resolve nested lambda
    variables lexically and Spark rejects shadowed names.

    Rings already degenerate (<3 vertices) pass through as empty.
    DuckDB caveat encoded here: slice ends are 1-based INCLUSIVE
    ([:-1] keeps the WHOLE list, unlike Python), so drop-last is
    spelled [:len-1].
    """
    a, o = (axis, "y" if axis == "x" else "x")
    cmp = ">=" if keep_ge else "<="
    rr, s_, e_, v_ = f"rr{tag}", f"s{tag}", f"e{tag}", f"v{tag}"
    if engine == "spark":
        s, e = s_, e_
        rot = f"concat(slice({rr}, size({rr}), 1), slice({rr}, 1, size({rr}) - 1))"

        def struct_(ix, iy):
            return f"named_struct('x', {ix}, 'y', {iy})"

        def zip_(body):
            return f"zip_with({rot}, {rr}, ({s_}, {e_}) -> {body})"

        def let_(body):
            return f"element_at(transform(array({r}), {rr} -> {body}), 1)"

        flt, ln, arr = "filter", "size", lambda items: f"array({', '.join(items)})"
    else:
        s, e = f"p{tag}[1]", f"p{tag}[2]"
        rot = f"list_concat({rr}[-1:], {rr}[:len({rr}) - 1])"

        def struct_(ix, iy):
            return f"{{'x': {ix}, 'y': {iy}}}"

        def zip_(body):
            return f"list_transform(list_zip({rot}, {rr}), p{tag} -> {body})"

        def let_(body):
            return f"(list_transform([{r}], {rr} -> {body}))[1]"

        flt, ln, arr = "list_filter", "len", lambda items: f"[{', '.join(items)}]"

    ins_s = f"({s}.{a} {cmp} ({bound}))"
    ins_e = f"({e}.{a} {cmp} ({bound}))"
    i_other = (
        f"{s}.{o} + (({bound}) - {s}.{a}) / ({e}.{a} - {s}.{a}) * ({e}.{o} - {s}.{o})"
    )
    coords = {a: f"cast(({bound}) as double)", o: i_other}
    inter = struct_(coords["x"], coords["y"])
    body = arr(
        [
            f"case when {ins_s} != {ins_e} then {inter} else null end",
            f"case when {ins_e} then {e} else null end",
        ]
    )
    clipped = f"{flt}(flatten({zip_(body)}), {v_} -> {v_} is not null)"
    empty = f"{flt}({rr}, {v_} -> false)"
    return let_(f"case when {ln}({rr}) >= 3 then {clipped} else {empty} end")


def clip_polygons_to_tiles(
    polys: DataFrame, zoom: int = 7, id_col: str = "pid", ring_col: str = "ring"
) -> DataFrame:
    """Sutherland–Hodgman clip of polygon rings to the tile grid — the
    AREA-feature side of the vector-tile emit (clip_segments_to_tiles
    covers line layers; the reference's tile builder likewise assigns a
    polygon to every tile its geometry enters, then the writer clips it
    to the tile rect before encoding).

    Per (polygon, covered tile): clip the subject ring against the four
    tile half-planes in fixed order (x≥txmin, x≤txmax, y≥tymin,
    y≤tymax) with :func:`sh_clip_pass_expr`.  A ring that fully
    contains the tile correctly reduces to the tile rect; a ring inside
    the tile passes through unchanged.  Standard SH caveat: a
    non-convex subject that enters and leaves the rect more than once
    yields ONE ring with zero-width bridge edges rather than separate
    rings — area and coverage stay correct, and the driver oracle runs
    the identical algorithm.

    The clip runs in TILE-LOCAL coordinates (vertex − tile origin — the
    frame a vector-tile encoder wants anyway): the shift is exact
    integer-in-double arithmetic, the four half-plane bounds become the
    CONSTANTS 0 and tile-extent so every pass expression is identical
    for every row, and intersection arithmetic happens at 2³²⁻ᶻ
    magnitude instead of 2³¹ — while keeping both engines' float
    op-order identical (the shift itself is exact, so clipped coords
    are bit-equal to the world-frame computation minus the origin).

    Scale shape: bbox cover-explode (map-side fan-out, O(area/tile)) →
    four chained higher-order passes, each materialized as its own
    projection so Catalyst does not inline the (self-referencing) pass
    expression multiple times — ZERO shuffle, output pre-keyed by
    ``cell`` for the tile writer's partitioning.  The passes are
    higher-order functions, evaluated interpreted, so their projections
    stay out of whole-stage codegen.

    Input: (id_col, ring array<struct<x:double,y:double>>) — OPEN ring
    (first vertex not repeated), any orientation, vertex order
    preserved.  Output: one row per surviving vertex (id_col, cell,
    seq, x, y), seq 1-based in ring order, x/y TILE-LOCAL in
    [0, 2³²⁻ᶻ], rounded with the cross-engine floor-form
    floor(v·10⁴+0.5)/10⁴; clipped rings with <3 vertices vanish.
    """
    from pyspark.sql import functions as F

    from geodesk_spark.operators.tiling import range_cover

    step = 1 << (32 - zoom)
    r = F.col(ring_col)
    xs, ys = (f"transform(`{ring_col}`, p -> p.{a})" for a in ("x", "y"))
    box = (f"array_min({xs})", f"array_min({ys})", f"array_max({xs})", f"array_max({ys})")
    covered = (
        range_cover(polys, zoom, box)
        .withColumn("_txmin", F.col("_cc") * F.lit(step) - F.lit(2147483648))
        .withColumn(
            "_tymin", F.lit(2147483647) - F.col("_rr") * F.lit(step) - F.lit(step)
        )
        .withColumn(
            "_r0",
            F.transform(
                r,
                lambda p: F.struct(
                    (p["x"] - F.col("_txmin")).alias("x"),
                    (p["y"] - F.col("_tymin")).alias("y"),
                ),
            ),
        )
    )
    cur = "_r0"
    for i, (bound, axis, keep_ge) in enumerate(SH_TILE_PASSES(step), 1):
        cur = sh_clip_pass_expr(cur, bound, axis, keep_ge, "spark", tag=str(i))
    covered = covered.withColumn("_rc", F.expr(cur))
    cur = "_rc"

    def r4(c):
        return F.floor(c * F.lit(1e4) + F.lit(0.5)) / F.lit(1e4)

    out = covered.filter(F.size(F.col(cur)) >= 3).select(
        id_col, "cell", F.posexplode(F.col(cur)).alias("_i", "_p")
    )
    return out.select(
        id_col,
        "cell",
        (F.col("_i") + 1).cast("long").alias("seq"),
        r4(F.col("_p.x")).alias("x"),
        r4(F.col("_p.y")).alias("y"),
    )


def rasterize_polygons_scanline(
    verts: DataFrame, pstep: int, poly_col: str = "poly_id", seq_col: str = "seq"
) -> DataFrame:
    """Even-odd scanline rasterization of polygon interiors → run-length
    spans (poly_id, py, px0, px1): the polygon counterpart of
    rasterize_pixel_counts (MapMaker draws polygon layers, not just
    points), on a per-polygon grid of ``pstep``-sized pixels anchored
    at floor(bbox/pstep).

    Input rings MUST be closed (last vertex = first; the driver corpus
    and rings.assemble_rings both guarantee this) — an open ring drops
    one edge and breaks the even-crossing parity theorem silently.

    Fill rule = EXACTLY the reference's ray-cast XOR (geo/pip.py,
    PointInPolygon.java truth table): a pixel center is inside iff the
    number of edge crossings strictly to its right is odd, edges
    crossing half-open in y ((y1>yc) != (y2>yc)).  Scanline form: per
    pixel row, sorted crossing xs c₁≤…≤c₂ₖ fill the half-open spans
    [c₂ᵢ₋₁, c₂ᵢ) — the parity theorem guarantees an even count.

    Numerically span bounds are EXACT mirrors of the per-pixel test:
    pstep is a power of two, so (cx − ox − h)/pstep divides without
    rounding and ceil() reproduces pixel-center comparisons bit-for-bit
    — the driver oracle recomputes every pixel independently (ray-cast
    per pixel + gaps-and-islands regrouping) and must agree exactly.

    Scale shape: edge pairing is one window over the (dimension-sized
    or sharded) vertex table; the row-explode fans each edge to its
    O(height/pstep) scan rows; the only data-sized shuffle is the
    groupBy(poly, row) that sorts each row's handful of crossings.
    Rows of different polygons/bands rasterize fully in parallel —
    the tile-renderer partitioning.
    """
    from pyspark.sql import Window, functions as F

    assert pstep % 2 == 0 and (pstep & (pstep - 1)) == 0, "pstep must be 2^k"
    h = pstep // 2
    w = Window.partitionBy(poly_col).orderBy(seq_col)
    e = (
        verts.withColumn("x2", F.lead("x").over(w))
        .withColumn("y2", F.lead("y").over(w))
        .filter(F.col("x2").isNotNull())
    )
    wb = Window.partitionBy(poly_col)
    e = e.withColumn(
        "_ox",
        F.floor(F.min(F.least("x", "x2")).over(wb) / F.lit(pstep)) * F.lit(pstep),
    ).withColumn(
        "_oy",
        F.ceil(F.max(F.greatest("y", "y2")).over(wb) / F.lit(pstep)) * F.lit(pstep),
    )
    ymin_e = F.least("y", "y2")
    ymax_e = F.greatest("y", "y2")
    py_min = F.floor((F.col("_oy") - h - ymax_e) / F.lit(pstep)) + 1
    py_max = F.floor((F.col("_oy") - h - ymin_e) / F.lit(pstep))
    rows = (
        e.filter(F.col("y") != F.col("y2"))
        .withColumn("_pymin", py_min)
        .withColumn("_pymax", py_max)
        .filter(F.col("_pymin") <= F.col("_pymax"))
        .withColumn("py", F.explode(F.sequence(F.col("_pymin"), F.col("_pymax"))))
    )
    yc = F.col("_oy") - F.col("py") * F.lit(pstep) - F.lit(h)
    cx = F.col("x") + (yc - F.col("y")) * (F.col("x2") - F.col("x")) / (
        F.col("y2") - F.col("y")
    )
    grouped = (
        rows.select(poly_col, "py", F.col("_ox"), cx.alias("cx"))
        .groupBy(poly_col, "py")
        .agg(F.sort_array(F.collect_list("cx")).alias("cs"), F.first("_ox").alias("_ox"))
    )
    cs = F.col("cs")
    spans = F.transform(
        F.sequence(F.lit(0), (F.size(cs) / F.lit(2)).cast("int") - 1),
        lambda i: F.struct(
            F.element_at(cs, 2 * i + 1).alias("c0"),
            F.element_at(cs, 2 * i + 2).alias("c1"),
        ),
    )
    # pixel spans per crossing pair; drop pixel-empty ones, then COALESCE
    # touching/adjacent spans (two crossing pairs with no pixel center in
    # the gap fill contiguous pixels — an RLE raster has one run there,
    # and the per-pixel oracle can't see the split)
    pxs = F.filter(
        F.transform(
            spans,
            lambda s: F.struct(
                F.ceil((s.c0 - F.col("_ox") - h) / F.lit(pstep)).alias("a"),
                (F.ceil((s.c1 - F.col("_ox") - h) / F.lit(pstep)) - 1).alias("b"),
            ),
        ),
        lambda s: s.a <= s.b,
    )
    merged = F.aggregate(
        pxs,
        F.array().cast("array<struct<a:bigint,b:bigint>>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0) & (s.a <= F.element_at(acc, -1).b + 1),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1).a.alias("a"),
                        F.greatest(s.b, F.element_at(acc, -1).b).alias("b"),
                    )
                ),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )
    return (
        grouped.withColumn("_s", F.explode(merged))
        .select(
            poly_col,
            "py",
            F.col("_s.a").alias("px0"),
            F.col("_s.b").alias("px1"),
        )
    )


def box_blur_counts(
    pix: DataFrame, radius: int, x_col: str = "gx", y_col: str = "gy", val: str = "n"
) -> DataFrame:
    """Separable box blur over a sparse global pixel-count grid — the
    KDE/heatmap smoothing step between rasterize_pixel_counts and the
    png encode.  Exact integer convolution: out(q) = Σ_{|dx|≤r,|dy|≤r}
    n(q+d), computed as TWO rank-1 passes (horizontal spread+regroup,
    then vertical), 2·(2r+1) fan-out instead of (2r+1)² — the separable
    decomposition that makes big kernels affordable at scale.

    Global pixel coordinates (not per-tile) mean tile borders need no
    halo exchange: the groupBy shuffle IS the halo.  Sparsity is free —
    absent pixels are zero, and the output support is exactly the
    Chebyshev-r dilation of the input support.
    """
    from pyspark.sql import functions as F

    r = radius
    h = (
        pix.withColumn(
            x_col, F.explode(F.sequence(F.col(x_col) - r, F.col(x_col) + r))
        )
        .groupBy(x_col, y_col)
        .agg(F.sum(val).alias(val))
    )
    return (
        h.withColumn(
            y_col, F.explode(F.sequence(F.col(y_col) - r, F.col(y_col) + r))
        )
        .groupBy(x_col, y_col)
        .agg(F.sum(val).alias(val))
    )


def grid_counts(points: DataFrame, grid_bits: int, x_col: str = "x", y_col: str = "y"):
    """Bin points onto the global 2^bits × 2^bits pixel lattice (the
    whole-world raster at that resolution): (gx, gy, n).  Same axis
    conventions as rasterize_pixel_counts — gy grows southward — but
    WITHOUT the per-tile split, so downstream neighborhood operators
    (box_blur_counts, vectorize_boundary_edges) need no tile halo."""
    from pyspark.sql import functions as F

    sub = 32 - grid_bits
    xs = F.col(x_col).cast("bigint") + (1 << 31)
    yd = F.lit((1 << 31) - 1) - F.col(y_col).cast("bigint")
    return (
        points.select(
            F.shiftright(xs, sub).alias("gx"),
            F.shiftright(yd, sub).alias("gy"),
        )
        .groupBy("gx", "gy")
        .agg(F.count("*").alias("n"))
    )


# Per boundary side: neighbor offset and the edge's two lattice endpoints,
# ordered CLOCKWISE in the y-down raster frame (= counter-clockwise in the
# y-up map frame), so the dense interior is always on the LEFT of x1→x2 in
# map orientation — the winding a downstream ring chainer needs.
_BOUNDARY_SIDES = (
    # (dx, dy, x1off, y1off, x2off, y2off)
    (0, -1, 0, 0, 1, 0),  # N neighbor missing → top edge, west→east
    (1, 0, 1, 0, 1, 1),   # E → right edge, north→south
    (0, 1, 1, 1, 0, 1),   # S → bottom edge, east→west
    (-1, 0, 0, 1, 0, 0),  # W → left edge, south→north
)


def vectorize_boundary_edges(
    points: DataFrame, grid_bits: int = 7, threshold: int = 3
) -> DataFrame:
    """RASTER→VECTOR: extract the boundary of the dense region of a point
    raster as lattice edge segments — the inverse of the scanline
    rasterizer, completing the reference's raster↔vector tile surface
    (util/MapMaker.java renders only raster→screen; real pipelines also
    need isoline/footprint extraction from density rasters).

    A lattice cell is INSIDE iff its point count ≥ ``threshold``; every
    unit edge separating an inside cell from an outside (or absent) cell
    is a boundary segment.  Output (x1, y1, x2, y2) in lattice coords,
    wound so the interior is left of x1→x2 in map (y-up) orientation —
    outer boundaries CCW, hole boundaries CW, exactly the marching-squares
    contract, and integer-exact (no float enters).

    Scale shape: every unit lattice edge is shared by exactly TWO cells,
    so no neighbor join is needed — each inside cell emits its 4 edges
    under a canonical edge key (kx, ky, horiz), and a groupBy keeps the
    keys contributed exactly ONCE (an interior edge arrives from both of
    its cells and cancels).  One binning aggregation over the fact table
    (scanned once), one narrow shuffle on the edge key; absent cells are
    implicit zeros, so sparsity costs nothing.
    """
    from pyspark.sql import functions as F

    inside = (
        grid_counts(points, grid_bits)
        .filter(F.col("n") >= threshold)
        .select("gx", "gy")
    )
    return cells_boundary_edges(inside)


def cells_boundary_edges(inside: DataFrame) -> DataFrame:
    """Boundary edges of an arbitrary cell MASK (gx, gy) — the inside-set
    half of vectorize_boundary_edges, factored so any mask producer
    (thresholded raster, morphology output, blob member set) can
    vectorize its footprint with the same exactly-once edge-key rollup
    and winding contract."""
    from pyspark.sql import functions as F

    # canonical edge key: horizontal edge of cell (gx,gy) at its N side
    # = S side of (gx,gy-1) → key (gx, gy, h); vertical W side = E side
    # of (gx-1,gy) → key (gx, gy, v).
    sides = F.array(
        *[
            F.struct(
                F.lit(1 if dx > 0 else 0).alias("kxo"),
                F.lit(1 if dy > 0 else 0).alias("kyo"),
                F.lit(dy != 0).alias("horiz"),
                F.lit(x1).alias("x1o"),
                F.lit(y1).alias("y1o"),
                F.lit(x2).alias("x2o"),
                F.lit(y2).alias("y2o"),
            )
            for dx, dy, x1, y1, x2, y2 in _BOUNDARY_SIDES
        ]
    )
    cand = inside.select("gx", "gy", F.explode(sides).alias("s")).select(
        (F.col("gx") + F.col("s.kxo")).alias("kx"),
        (F.col("gy") + F.col("s.kyo")).alias("ky"),
        F.col("s.horiz").alias("horiz"),
        (F.col("gx") + F.col("s.x1o")).alias("x1"),
        (F.col("gy") + F.col("s.y1o")).alias("y1"),
        (F.col("gx") + F.col("s.x2o")).alias("x2"),
        (F.col("gy") + F.col("s.y2o")).alias("y2"),
    )
    return (
        cand.groupBy("kx", "ky", "horiz")
        .agg(
            F.count("*").alias("deg"),
            F.min(F.struct("x1", "y1", "x2", "y2")).alias("e"),
        )
        .filter(F.col("deg") == 1)
        .select("e.x1", "e.y1", "e.x2", "e.y2")
    )


def hotspot_gi_star(
    points: DataFrame, grid_bits: int = 7, prebinned: bool = False
) -> DataFrame:
    """Getis-Ord Gi* hotspot scoring of the point-density raster — the
    standard local spatial-autocorrelation statistic (which cells are
    significantly hotter than the global field, not just locally maximal
    like a top-k rollup).

    Study region = the OCCUPIED cells of the global lattice (a sparse
    world grid has no meaningful "all cells" N); weights = binary 3×3
    neighborhood incl. self.  For occupied cell i with count x:

        Gi* = (S_i − x̄·n_i) / (s·sqrt((N·n_i − n_i²) / (N − 1)))

    with S_i / n_i the neighborhood count-sum / occupied-neighbor count,
    and x̄, s the global mean / population σ.  Every aggregate (S_i, n_i,
    N, Σx, Σx²) is an exact integer; floats enter only in the final
    fixed-order expression, so the score is bit-reproducible across
    partitionings and engines.

    Plan: binning agg (the only fact shuffle) → 3×3 neighborhood sums as
    TWO separable rank-1 explode+regroup passes (the box_blur shape) →
    join back to occupied cells → broadcast one global-stats row.

    The cells frame feeds three consumers (neighbor chain, join-back,
    global stats); Catalyst reuses the exchange where subtrees are
    identical, but at 100 TB the right pattern is to MATERIALIZE the
    binned rollup once (checkpoint / write) and pass it back with
    ``prebinned=True`` — then every re-read touches the tiny cells
    table, never the facts.
    """
    from pyspark.sql import functions as F

    cells = points if prebinned else grid_counts(points, grid_bits)
    h = (
        cells.withColumn("gx", F.explode(F.sequence(F.col("gx") - 1, F.col("gx") + 1)))
        .groupBy("gx", "gy")
        .agg(F.sum("n").alias("sn"), F.count("*").alias("cnt"))
    )
    v = (
        h.withColumn("gy", F.explode(F.sequence(F.col("gy") - 1, F.col("gy") + 1)))
        .groupBy("gx", "gy")
        .agg(F.sum("sn").alias("s_i"), F.sum("cnt").alias("n_i"))
    )
    occ = cells.join(v, ["gx", "gy"])
    stats = cells.agg(
        F.count("*").alias("n_tot"),
        F.sum("n").alias("sx"),
        F.sum(F.col("n") * F.col("n")).alias("sxx"),
    )
    j = occ.crossJoin(F.broadcast(stats))
    xbar = F.col("sx").cast("double") / F.col("n_tot").cast("double")
    var = F.col("sxx").cast("double") / F.col("n_tot").cast("double") - xbar * xbar
    s = F.sqrt(var)
    denom = s * F.sqrt(
        (F.col("n_tot") * F.col("n_i") - F.col("n_i") * F.col("n_i")).cast("double")
        / (F.col("n_tot").cast("double") - F.lit(1.0))
    )
    num = F.col("s_i").cast("double") - xbar * F.col("n_i").cast("double")
    # zero-or-negative global variance ⇒ the statistic is undefined;
    # emit NULL.  The variance guard must test var itself, not the
    # denominator: float cancellation can land var epsilon-NEGATIVE,
    # where sqrt gives NaN and `NaN != 0.0` is TRUE in Spark — the old
    # denom-only guard let gi_star = NaN through (r03 review; the
    # DuckDB twin would error outright on sqrt of a negative)
    gi = F.when((var > 0) & (denom != 0.0), num / denom)
    return j.select("gx", "gy", "n", gi.alias("gi_star"))


def moran_lisa(
    points: DataFrame, grid_bits: int = 7, prebinned: bool = False
) -> DataFrame:
    """Moran's I spatial autocorrelation over the point-density raster —
    the GLOBAL statistic (is the field clustered at all?) plus the LOCAL
    per-cell LISA decomposition (Anselin 1995: which cells drive it),
    the complement of `hotspot_gi_star` (Gi* flags hot/cold magnitude;
    LISA flags similarity-with-neighbors, so high-high cores AND
    low-high outliers separate).

    Study region and weights follow the Gi* contract: the OCCUPIED
    cells of the sparse global lattice, binary queen (3×3) contiguity —
    but EXCLUDING self (Moran weights have w_ii = 0, unlike Gi*).  With
    x̄ the global mean, m2 the population variance, S'_i / n'_i the
    neighbor count-sum / occupied-neighbor count:

        lag_i    = S'_i − n'_i·x̄          (= Σ_j w_ij (x_j − x̄))
        I_i      = (x_i − x̄) · lag_i / m2                     (LISA)
        I_global = (N · Σ_i (x_i−x̄)·lag_i) / (W · N·m2),  W = Σ n'_i

    Every aggregate (S'_i, n'_i, N, Σx, Σx², and the global cross terms
    A=Σ x_i S'_i, B=Σ x_i n'_i, C=Σ S'_i, D=W) is an exact integer;
    floats enter only in the final fixed-order +/×/÷ expression — no
    transcendental, so the output is bit-reproducible across engines
    and partitionings without quantization (same law as Gi*).

    Plan: binning agg (the only fact shuffle) → the same TWO separable
    rank-1 neighbor passes as Gi* → join back → one global aggregate
    row broadcast.  Returns (gx, gy, n, i_local, i_global) — i_global
    repeated per row so one artifact hash pins both statistics.
    """
    from pyspark.sql import functions as F

    cells = points if prebinned else grid_counts(points, grid_bits)
    h = (
        cells.withColumn("gx", F.explode(F.sequence(F.col("gx") - 1, F.col("gx") + 1)))
        .groupBy("gx", "gy")
        .agg(F.sum("n").alias("sn"), F.count("*").alias("cnt"))
    )
    v = (
        h.withColumn("gy", F.explode(F.sequence(F.col("gy") - 1, F.col("gy") + 1)))
        .groupBy("gx", "gy")
        .agg(F.sum("sn").alias("s_i"), F.sum("cnt").alias("n_i"))
    )
    # self is always occupied and inside its own 3×3 window: drop it.
    occ = cells.join(v, ["gx", "gy"]).select(
        "gx",
        "gy",
        "n",
        (F.col("s_i") - F.col("n")).alias("sp"),
        (F.col("n_i") - F.lit(1)).alias("np"),
    )
    stats = occ.agg(
        F.count("*").alias("n_tot"),
        F.sum("n").alias("sx"),
        F.sum(F.col("n") * F.col("n")).alias("sxx"),
        F.sum(F.col("n") * F.col("sp")).alias("a_xs"),
        F.sum(F.col("n") * F.col("np")).alias("b_xn"),
        F.sum("sp").alias("c_s"),
        F.sum("np").alias("w_sum"),
    )
    j = occ.crossJoin(F.broadcast(stats))
    xbar = F.col("sx").cast("double") / F.col("n_tot").cast("double")
    m2 = F.col("sxx").cast("double") / F.col("n_tot").cast("double") - xbar * xbar
    lag = F.col("sp").cast("double") - F.col("np").cast("double") * xbar
    i_local = F.when(
        m2 > 0, (F.col("n").cast("double") - xbar) * lag / m2
    )
    # Σ_i (x_i−x̄)(S'_i−n'_i x̄) = A − x̄(B+C) + x̄²·D, all-integer inputs
    num = (
        F.col("a_xs").cast("double")
        - xbar * (F.col("b_xn") + F.col("c_s")).cast("double")
        + xbar * xbar * F.col("w_sum").cast("double")
    )
    den = F.col("n_tot").cast("double") * m2
    i_global = F.when(
        (m2 > 0) & (F.col("w_sum") > 0),
        (F.col("n_tot").cast("double") * num)
        / (F.col("w_sum").cast("double") * den),
    )
    return j.select(
        "gx", "gy", "n", i_local.alias("i_local"), i_global.alias("i_global")
    )


def zonal_stats(
    points: DataFrame, prepared_layer, grid_bits: int = 7, keep_cols=("n",)
) -> DataFrame:
    """ZONAL STATISTICS — the classic GIS raster-by-vector aggregation:
    bin points onto the global lattice, then aggregate the density
    raster per polygon ZONE (cell count, value sum, value max per
    polygon whose interior contains the cell center — the standard
    center-rule zonal contract).

    Pure composition of existing machinery: grid_counts (one fact
    shuffle) → exact integer cell centers → the flagship broadcast PIP
    join (contains_points: three-band prune + JVM ray-cast fold)
    over the CELL table (tiny vs the fact table — the whole point of
    zonal stats at scale is that the raster rollup happens before the
    spatial test) → one bounded per-zone rollup.

    Returns (poly_id, n_cells, sum_val, max_val).
    """
    from pyspark.sql import functions as F

    from geodesk_spark.operators import spatial_join

    cells = grid_counts(points, grid_bits)
    step = 1 << (32 - grid_bits)
    centers = cells.select(
        "n",
        (F.col("gx") * step + step // 2 - (1 << 31)).cast("int").alias("x"),
        (F.lit((1 << 31) - 1) - (F.col("gy") * step + step // 2)).cast("int").alias("y"),
    )
    hits = spatial_join.contains_points(centers, prepared_layer, keep_cols=list(keep_cols))
    return hits.groupBy("poly_id").agg(
        F.count("*").alias("n_cells"),
        F.sum("n").alias("sum_val"),
        F.max("n").alias("max_val"),
    )


def mosaic_tiles(
    images_pts: DataFrame,
    out_dir: str,
    tile_col: str = "tile_z8",
    grid: int = 4,
    thumb_px: int = 64,
) -> DataFrame:
    """Per-tile contact-sheet mosaic — the curation-review surface for an
    image corpus: for every map tile, the first ``grid²`` images (by
    image_id — a deterministic, oracle-checkable pick) are decoded,
    nearest-neighbour thumbnailed to ``thumb_px``, and composed
    row-major into one ``grid·thumb_px`` square PNG per tile.

    Input needs (image_id, bytes, x, y, <tile_col>).  Returns the
    manifest (tile, zoom, col, row, n_in_tile, n_selected, mosaic_w,
    mosaic_h, path); pixel correctness is pinned by pytest golden checks
    against the deterministic codec (PSNR ≥ 40 per cell).

    Plan shape: ONE hash exchange on the tile — the rank/count window
    and the composing ``applyInPandas`` group on the same key, so
    Catalyst reuses the window's partitioning and the bytes move exactly
    once.  Selection happens before composition, so each task decodes at
    most grid² blobs per tile regardless of tile density (a city tile
    with 10^7 images still costs 16 decodes); the unselected rows ride
    the single shuffle but are dropped before any pixel work."""
    from pyspark.sql import Window, functions as F

    os.makedirs(out_dir, exist_ok=True)
    k = grid * grid
    w_all = Window.partitionBy(tile_col)
    w_rank = w_all.orderBy("image_id")
    sel = (
        images_pts.select("image_id", "bytes", tile_col)
        .withColumn("_n_in_tile", F.count("*").over(w_all))
        .withColumn("_rk", F.row_number().over(w_rank))
        .filter(F.col("_rk") <= k)
    )

    def compose(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        tile = int(key[0])
        z = int(T.zoom_of(tile)[()])
        c = int(T.column_of(tile)[()])
        r = int(T.row_of(tile)[()])
        pdf = pdf.sort_values("_rk")
        side = grid * thumb_px
        mosaic = np.zeros((side, side, 3), dtype=np.uint8)
        for i in range(len(pdf)):
            px = codec.decode(pdf["bytes"].iloc[i])
            h, w = px.shape[:2]
            yi = (np.arange(thumb_px) * h) // thumb_px
            xi = (np.arange(thumb_px) * w) // thumb_px
            gy, gx = (i // grid) * thumb_px, (i % grid) * thumb_px
            mosaic[gy : gy + thumb_px, gx : gx + thumb_px] = px[yi][:, xi]
        tdir = os.path.join(out_dir, str(z), str(c))
        os.makedirs(tdir, exist_ok=True)
        path = os.path.join(tdir, f"{r}.mosaic.png")
        with open(path, "wb") as f:
            f.write(codec.encode(mosaic, "png"))
        return pd.DataFrame(
            {
                "tile": [tile],
                "zoom": [z],
                "col": [c],
                "row": [r],
                "n_in_tile": [int(pdf["_n_in_tile"].iloc[0])],
                "n_selected": [len(pdf)],
                "mosaic_w": [side],
                "mosaic_h": [side],
                "path": [path],
            }
        )

    return sel.groupBy(tile_col).applyInPandas(
        compose,
        schema=(
            "tile int, zoom int, col int, row int, n_in_tile long, "
            "n_selected int, mosaic_w int, mosaic_h int, path string"
        ),
    )


def stencil_filter(
    pix: DataFrame,
    kernels: dict[str, list[tuple[int, int, int]]],
    x_col: str = "gx",
    y_col: str = "gy",
    val: str = "n",
) -> DataFrame:
    """General integer stencil convolution over a sparse global raster —
    the non-separable sibling of :func:`box_blur_counts` for the small
    edge/sharpen kernels of classic image processing (Laplacian, Sobel,
    Prewitt, emboss) applied to density rasters.

    ``kernels`` maps output-column name → taps ``[(dx, dy, w), ...]``;
    every kernel is applied in ONE scatter pass: each input cell explodes
    once per tap of the UNION of tap offsets (each tap row carries all
    kernel weights for that offset), then one groupBy sums per kernel.
    out_k(q) = Σ_taps w·n(q − d).  Weights and counts are integers, so
    sums are exact and order-free — bit-identical across partitionings
    and engines.  Fan-out = |distinct offsets| (≤9 for 3×3 kernels); at
    100 TB the shape is identical to box_blur_counts: the groupBy
    shuffle is the halo exchange, sparsity is free.

    Output support is the dilation of the input support by the tap
    offsets — cells where every kernel evaluates to 0 but some tap
    touched them ARE emitted (e.g. a flat Laplacian region), matching
    the dense-convolution contract.
    """
    from pyspark.sql import functions as F

    # one row per distinct offset carrying every kernel's weight there
    offs: dict[tuple[int, int], dict[str, int]] = {}
    for name, taps in kernels.items():
        for dx, dy, w in taps:
            offs.setdefault((dx, dy), {})[name] = offs.setdefault((dx, dy), {}).get(name, 0) + w
    names = list(kernels)
    tap_rows = F.array(
        *[
            F.struct(
                F.lit(dx).alias("dx"),
                F.lit(dy).alias("dy"),
                *[F.lit(ws.get(n, 0)).alias(f"w{i}") for i, n in enumerate(names)],
            )
            for (dx, dy), ws in sorted(offs.items())
        ]
    )
    t = pix.select(
        F.col(x_col), F.col(y_col), F.col(val), F.explode(tap_rows).alias("t")
    )
    return (
        t.groupBy(
            (F.col(x_col) + F.col("t.dx")).alias(x_col),
            (F.col(y_col) + F.col("t.dy")).alias(y_col),
        )
        .agg(
            *[
                F.sum(F.col(val) * F.col(f"t.w{i}")).alias(n)
                for i, n in enumerate(names)
            ]
        )
    )


def sobel_edge_energy(
    pix: DataFrame, x_col: str = "gx", y_col: str = "gy", val: str = "n"
) -> DataFrame:
    """Sobel gradient energy of a density raster: g2 = Gx² + Gy² with the
    standard 3×3 Sobel taps — the edge-detection pass of the raster
    pipeline (binning → blur → edges → vectorize).  Both gradients come
    from ONE stencil_filter scatter; the energy is an exact integer
    (integer taps, integer counts), so the result is bit-reproducible.

    Convention: out(q) = Σ w·n(q − d), i.e. taps are listed at the
    SOURCE offset they scatter from; the Gx kernel responds to west→east
    increase, Gy to north→south (raster y grows southward).
    """
    from pyspark.sql import functions as F

    gx_taps = [(1, 1, -1), (1, 0, -2), (1, -1, -1), (-1, 1, 1), (-1, 0, 2), (-1, -1, 1)]
    gy_taps = [(1, 1, -1), (0, 1, -2), (-1, 1, -1), (1, -1, 1), (0, -1, 2), (-1, -1, 1)]
    g = stencil_filter(pix, {"_gx": gx_taps, "_gy": gy_taps}, x_col, y_col, val)
    return g.select(
        x_col,
        y_col,
        (F.col("_gx") * F.col("_gx") + F.col("_gy") * F.col("_gy")).alias("g2"),
    )


def kde_heatmap_counts(
    pix: DataFrame,
    radius: int,
    x_col: str = "gx",
    y_col: str = "gy",
    val: str = "n",
) -> DataFrame:
    """Kernel-density heatmap over a sparse pixel-count raster with the
    Epanechnikov kernel on a circular support: density(q) =
    Σ_p n(p) · max(0, r² + 1 − d²(p, q)) with d² = dx² + dy² in cell
    units — the standard KDE heatmap tile layer, chosen over a Gaussian
    because the kernel is RATIONAL: every weight is an exact integer
    (center r²+1, rim 1), so partial sums commute and the raster is
    bit-identical across partitionings and engines (a quantized Gaussian
    would tie-break differently per libm).

    Fan-out is the circular tap count (~π r²; 29 at r=3) in one
    explode → one groupBy — the KDE radius is a QUALITY radius, small by
    design; large smoothing radii belong to the separable
    box_blur_counts path instead.
    """
    from pyspark.sql import functions as F

    r = radius
    taps = F.filter(
        F.flatten(
            F.transform(
                F.sequence(F.lit(-r), F.lit(r)),
                lambda dx: F.transform(
                    F.sequence(F.lit(-r), F.lit(r)),
                    lambda dy: F.struct(
                        dx.alias("dx"),
                        dy.alias("dy"),
                        (F.lit(r * r + 1) - dx * dx - dy * dy).alias("w"),
                    ),
                ),
            )
        ),
        lambda t: t["w"] > 0,
    )
    t = pix.select(F.col(x_col), F.col(y_col), F.col(val), F.explode(taps).alias("t"))
    return (
        t.groupBy(
            (F.col(x_col) + F.col("t.dx")).alias(x_col),
            (F.col(y_col) + F.col("t.dy")).alias(y_col),
        )
        .agg(F.sum(F.col(val) * F.col("t.w")).alias("density"))
    )


def label_placement(
    points: DataFrame,
    score_col: str,
    zoom: int = 6,
    k: int = 8,
    radius: int = 1 << 23,
    id_col: str = "fid",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Per-tile label placement: the renderer primitive that picks which
    feature labels a tile shows.  Within each ``zoom`` tile, features are
    ranked by ``score_col`` descending (ties: ``id_col`` ascending) and
    the top ``k`` candidates run the classic greedy suppression — a
    candidate is PLACED iff its Chebyshev distance to every
    already-placed label in the tile exceeds ``radius`` (collision
    boxes, MapLibre/Mapnik semantics, per-tile like any tiled
    renderer's symbol pass).

    Scale shape: one window shuffle keyed on the tile (rank + cap to
    ``k``), then the sequential greedy runs as a pure-JVM
    ``aggregate`` fold over the ≤k collected candidates — no Python,
    no per-tile task serialization beyond the bounded fold; tiles are
    independent.  Integer Chebyshev tests → bit-deterministic output
    ``(tile, fid, rank, x, y)`` for placed labels only.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    step = 1 << (32 - zoom)
    tile = (
        F.lit(zoom << 24)
        + F.floor((F.lit(2147483647) - F.col(y_col)) / F.lit(step)) * 4096
        + F.floor((F.col(x_col) + F.lit(2147483648)) / F.lit(step))
    ).cast("long")
    w = Window.partitionBy("tile").orderBy(
        F.col("_score").desc(), F.col("fid").asc()
    )
    cand = (
        points.select(
            tile.alias("tile"),
            F.col(id_col).cast("long").alias("fid"),
            F.col(x_col).cast("long").alias("x"),
            F.col(y_col).cast("long").alias("y"),
            F.col(score_col).alias("_score"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    empty = F.expr(
        "cast(array() as array<struct<rank:int,fid:bigint,x:bigint,y:bigint>>)"
    )
    placed = (
        cand.groupBy("tile")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("rank", "fid", "x", "y"))
            ).alias("cs")
        )
        .select(
            "tile",
            F.aggregate(
                "cs",
                empty,
                lambda acc, c: F.when(
                    F.forall(
                        acc,
                        lambda p: F.greatest(
                            F.abs(p.x - c.x), F.abs(p.y - c.y)
                        )
                        > radius,
                    ),
                    F.concat(acc, F.array(c)),
                ).otherwise(acc),
            ).alias("placed"),
        )
        .select("tile", F.explode("placed").alias("p"))
        .select(
            "tile",
            F.col("p.fid").alias("fid"),
            F.col("p.rank").cast("long").alias("rank"),
            F.col("p.x").alias("x"),
            F.col("p.y").alias("y"),
        )
    )
    return placed


# Marching-squares case table: corner bits tl=1, tr=2, br=4, bl=8 (bit set
# = value >= level, the "inside" half); per case the contour segments as
# (edge_from, edge_to) with edges 0=top 1=right 2=bottom 3=left.  Saddles
# (5, 10) use the FIXED rule that separates the two inside corners (no
# center-average disambiguation) — deterministic by construction.
_MS_CASES = {
    1: [(0, 3)],
    2: [(0, 1)],
    3: [(3, 1)],
    4: [(1, 2)],
    5: [(0, 1), (2, 3)],
    6: [(0, 2)],
    7: [(3, 2)],
    8: [(2, 3)],
    9: [(0, 2)],
    10: [(0, 3), (1, 2)],
    11: [(1, 2)],
    12: [(1, 3)],
    13: [(0, 1)],
    14: [(0, 3)],
}


def contour_segments(
    raster: DataFrame,
    level: int,
    gx_col: str = "gx",
    gy_col: str = "gy",
    val_col: str = "n",
) -> DataFrame:
    """Marching-squares isoline extraction over a sparse integer raster
    (e.g. ``grid_counts`` output) — the raster→vector half of tile
    materialization: density rasters back to contour polylines
    (choropleth boundaries, heatmap isolines) at threshold ``level``.

    Treats each raster cell value as a lattice SAMPLE; every 2×2 block
    of samples yields 0–2 contour segments by the 16-case table above,
    with linear interpolation along crossed edges (``(t−v1)/(v2−v1)``,
    one IEEE division — bit-identical across engines, no rounding
    needed).  Absent samples read as 0, and blocks whose four corners
    are all absent are never materialized: each nonzero sample
    (negative included — Laplacian/Sobel rasters are valid input)
    SCATTERS to the ≤4 blocks that reference it (one explode), then one
    groupBy pivots the corners — sparse in, sparse out, one explode +
    ONE aggregation shuffle, no Python.

    Output: (bx, by, case_id, seg, x1, y1, x2, y2) in lattice units —
    (bx, by) is the block's top-left sample; y grows southward (raster
    frame).  Requires ``level >= 1`` (so all-absent blocks carry no
    contour).
    """
    from pyspark.sql import functions as F

    assert level >= 1, "level must be >= 1 for sparse-block correctness"
    t = F.lit(float(level))
    scatter = F.array(
        *[
            F.struct(
                (F.col(gx_col) - dx).alias("bx"),
                (F.col(gy_col) - dy).alias("by"),
                F.lit(tag).alias("tag"),
                F.col(val_col).cast("double").alias("v"),
            )
            for tag, (dx, dy) in (
                ("tl", (0, 0)),
                ("tr", (1, 0)),
                ("bl", (0, 1)),
                ("br", (1, 1)),
            )
        ]
    )
    corners = (
        raster.filter(F.col(val_col) != 0)
        .select(F.explode(scatter).alias("s"))
        .select("s.*")
        .groupBy("bx", "by")
        .agg(
            *[
                F.coalesce(
                    F.max(F.when(F.col("tag") == tag, F.col("v"))), F.lit(0.0)
                ).alias(tag)
                for tag in ("tl", "tr", "bl", "br")
            ]
        )
    )
    tl, tr, bl, br = (F.col(c) for c in ("tl", "tr", "bl", "br"))
    case = (
        (tl >= t).cast("int")
        + (tr >= t).cast("int") * 2
        + (br >= t).cast("int") * 4
        + (bl >= t).cast("int") * 8
    )
    rows = [
        (c, seg, e1, e2)
        for c, segs in _MS_CASES.items()
        for seg, (e1, e2) in enumerate(segs)
    ]
    spark = raster.sparkSession
    table = F.broadcast(
        spark.createDataFrame(rows, "case_id int, seg int, e1 int, e2 int")
    )
    j = corners.withColumn("case_id", case).join(table, "case_id")

    bx, by = F.col("bx").cast("double"), F.col("by").cast("double")

    def _pt(edge):
        # endpoint on the given edge: linear interp between its corners
        return (
            F.when(edge == 0, F.struct((bx + (t - tl) / (tr - tl)).alias("x"), by.alias("y")))
            .when(edge == 1, F.struct((bx + 1).alias("x"), (by + (t - tr) / (br - tr)).alias("y")))
            .when(edge == 2, F.struct((bx + (t - bl) / (br - bl)).alias("x"), (by + 1).alias("y")))
            .otherwise(F.struct(bx.alias("x"), (by + (t - tl) / (bl - tl)).alias("y")))
        )
    p1 = _pt(F.col("e1"))
    p2 = _pt(F.col("e2"))
    return j.select(
        F.col("bx").cast("long").alias("bx"),
        F.col("by").cast("long").alias("by"),
        F.col("case_id").cast("long").alias("case_id"),
        F.col("seg").cast("long").alias("seg"),
        p1.x.alias("x1"),
        p1.y.alias("y1"),
        p2.x.alias("x2"),
        p2.y.alias("y2"),
    )


def morphology_mask(
    mask: DataFrame,
    op: str = "close",
    radius: int = 1,
    x_col: str = "gx",
    y_col: str = "gy",
) -> DataFrame:
    """Binary morphology over a sparse cell mask — dilate / erode /
    open / close with a (2r+1)² box structuring element, the classic
    mask-cleanup ops (fill pinholes, drop speckle, bridge hairline
    gaps) applied to global rasters (vision's morphology = GIS's
    focal any/all).

    Set formulation rides the stencil scatter: each present cell
    scatters into its SE box, and the per-cell hit COUNT decides
    membership — dilation keeps count ≥ 1 (touched at all), erosion
    keeps count = (2r+1)² (every SE neighbor present; the center is in
    its own SE, so erosion output ⊆ input support).  Opening =
    erode∘dilate, closing = dilate∘erode — each pass is ONE explode +
    ONE groupBy(cell) shuffle over integer counts, exact and
    order-free; compound ops are two passes.

    → (gx, gy) member cells of the result mask.
    """
    from pyspark.sql import functions as F

    se = [(dx, dy) for dx in range(-radius, radius + 1)
          for dy in range(-radius, radius + 1)]
    full = len(se)
    taps = F.explode(
        F.array(
            *[
                F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                for dx, dy in se
            ]
        )
    ).alias("t")

    def _pass(m: DataFrame, thresh: int) -> DataFrame:
        sc = m.select(F.col(x_col).alias("_x"), F.col(y_col).alias("_y"), taps)
        return (
            sc.groupBy(
                (F.col("_x") + F.col("t.dx")).alias(x_col),
                (F.col("_y") + F.col("t.dy")).alias(y_col),
            )
            .agg(F.count("*").alias("_c"))
            .filter(F.col("_c") >= thresh)
            .select(x_col, y_col)
        )

    m = mask.select(x_col, y_col).distinct()
    if op == "dilate":
        return _pass(m, 1)
    if op == "erode":
        return _pass(m, full)
    if op == "close":
        return _pass(_pass(m, 1), full)
    if op == "open":
        return _pass(_pass(m, full), 1)
    raise ValueError(f"unknown morphology op {op!r}")


def morphology_mask_sql(mask_rel: str, op: str = "close", radius: int = 1) -> str:
    """DuckDB twin of morphology_mask over ``mask_rel`` (gx, gy)."""
    se = ",".join(
        f"({dx},{dy})"
        for dx in range(-radius, radius + 1)
        for dy in range(-radius, radius + 1)
    )
    full = (2 * radius + 1) ** 2

    def _pass(rel: str, thresh: int) -> str:
        return f"""select gx + dx as gx, gy + dy as gy
           from ({rel}) m cross join (values {se}) t(dx, dy)
           group by 1, 2 having count(*) >= {thresh}"""

    base = f"select distinct gx, gy from ({mask_rel}) src"
    if op == "dilate":
        return _pass(base, 1)
    if op == "erode":
        return _pass(base, full)
    if op == "close":
        return _pass(_pass(base, 1), full)
    if op == "open":
        return _pass(_pass(base, full), 1)
    raise ValueError(f"unknown morphology op {op!r}")


def label_blobs(
    mask: DataFrame,
    connectivity: int = 8,
    x_col: str = "gx",
    y_col: str = "gy",
    max_rounds: int = 25,
) -> DataFrame:
    """Connected-component (blob) labeling of a sparse cell mask — the
    raster twin of vision's CCL and GIS's region grouping (island /
    patch detection): every maximal 4- or 8-connected cell group gets
    one label and its blob statistics.

    Cells pack to one bigint key (gx·2³² + gy — grid coords must be
    non-negative, the grid_counts contract); adjacency edges come from
    ONE scatter over the HALF offset set (right/down[/diagonals] —
    each undirected neighbor pair materializes exactly once) + ONE
    equi-join against the mask; components resolve via dedup's
    large/small-star contraction (O(log n) rounds on a shrinking edge
    list — the same machinery as duplicate-group CC, so planet-sized
    blobs at 100 TB follow the proven path).  Isolated cells label
    themselves.  Blob id = the component's smallest packed key, i.e.
    its lexicographically first (gx, gy) cell — deterministic.

    → (blob_id, n_cells, gx0, gy0, gx1, gy1) per blob.
    """
    from pyspark.sql import functions as F

    from geodesk_spark.operators.dedup import connected_components

    offs = {8: [(1, 0), (0, 1), (1, 1), (1, -1)], 4: [(1, 0), (0, 1)]}[connectivity]
    cells = mask.select(
        F.col(x_col).cast("long").alias("_x"), F.col(y_col).cast("long").alias("_y")
    ).distinct()
    key = (F.col("_x") * F.lit(1 << 32) + F.col("_y")).alias("_k")
    c = cells.select("_x", "_y", key)
    taps = F.explode(
        F.array(
            *[
                F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                for dx, dy in offs
            ]
        )
    ).alias("t")
    probe = c.select("_k", "_x", "_y", taps).select(
        F.col("_k").alias("_ka"),
        (F.col("_x") + F.col("t.dx")).alias("_x"),
        (F.col("_y") + F.col("t.dy")).alias("_y"),
    )
    edges = probe.join(c, ["_x", "_y"]).select("_ka", F.col("_k").alias("_kb"))
    lab = connected_components(edges, "_ka", "_kb", max_iter=max_rounds)
    labeled = c.join(lab, c._k == lab.doc_id, "left").select(
        "_x", "_y", F.coalesce(F.col("comp_id"), F.col("_k")).alias("blob_id")
    )
    return labeled.groupBy("blob_id").agg(
        F.count("*").alias("n_cells"),
        F.min("_x").alias("gx0"),
        F.min("_y").alias("gy0"),
        F.max("_x").alias("gx1"),
        F.max("_y").alias("gy1"),
    )


def label_blobs_sql(mask_rel: str, connectivity: int = 8) -> str:
    """DuckDB twin of label_blobs: TRUE transitive closure by recursive
    CTE over the same half-offset edge set (min-reachable-key label —
    which is exactly the star-contraction fixpoint label), so a green
    row also proves the Spark side CONVERGED."""
    offs = {8: [(1, 0), (0, 1), (1, 1), (1, -1)], 4: [(1, 0), (0, 1)]}[connectivity]
    half = ",".join(f"({dx},{dy})" for dx, dy in offs)
    return f"""
      with recursive c as materialized (
        select distinct cast(gx as bigint) as x, cast(gy as bigint) as y,
               cast(gx as bigint) * 4294967296 + cast(gy as bigint) as k
        from ({mask_rel}) src),
      e0 as (select a.k as ka, b.k as kb
             from c a cross join (values {half}) t(dx, dy)
             join c b on b.x = a.x + t.dx and b.y = a.y + t.dy),
      e as materialized (
        select ka, kb from e0 union select kb, ka from e0),
      reach(s, t) as (
        select k, k from c
        union
        select r.s, e.kb from reach r join e on r.t = e.ka),
      lab as (select s as k, min(t) as blob_id from reach group by s)
      select l.blob_id,
             cast(count(*) as bigint) as n_cells,
             min(c.x) as gx0, min(c.y) as gy0,
             max(c.x) as gx1, max(c.y) as gy1
      from c join lab l on l.k = c.k
      group by l.blob_id
    """


def overview_pyramid(
    base_imgs: DataFrame,
    out_dir: str,
    base_zoom: int,
    levels: int,
    tile_px: int = 64,
) -> DataFrame:
    """Overview (image-pyramid) build — the gdaladdo / gdal2tiles
    recipe that every tile-served imagery stack runs after ingest:
    level z−1 tiles are composed from their ≤4 level-z children, each
    child box-downsampled 2× into its quadrant (col&1, row&1), absent
    children left black; repeat for ``levels`` levels.  This IS the
    reference's quad-tile pyramid (geo/tile zoomed_out algebra) with an
    image payload riding it.

    Input: (tile, bytes) at ``base_zoom``, each blob a tile_px²
    image.  Per level ONE groupBy(parent) + applyInPandas compose —
    4 decodes + 1 encode per parent task, images never move twice in a
    level; level count is log₂ and each level shrinks the table 4×, so
    the whole pyramid costs ~⅓ extra over the base scan (the geometric
    series), the same budget as raster overviews anywhere.

    2×-downsample is the exact integer mean of each 2×2 pixel block
    (floor division — deterministic, no float), so pytest can replay
    pixels bit-for-bit through the deterministic codec.

    Returns the manifest: (zoom, tile, n_children, path) for every
    written overview tile, all levels unioned.
    """
    from pyspark.sql import functions as F

    from geodesk_spark.geo import tile as T

    os.makedirs(out_dir, exist_ok=True)

    def compose_level(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        parent = int(key[0])
        z = int(T.zoom_of(parent)[()])
        pc = int(T.column_of(parent)[()])
        pr = int(T.row_of(parent)[()])
        half = tile_px // 2
        out = np.zeros((tile_px, tile_px, 3), dtype=np.uint8)
        for t, blob in zip(pdf["_ctile"], pdf["bytes"]):
            t = int(t)
            qx = (int(T.column_of(t)[()]) & 1) * half
            qy = (int(T.row_of(t)[()]) & 1) * half
            px = codec.decode(blob)
            # exact integer 2x2 box mean (floor) — deterministic
            p = px[: half * 2, : half * 2].astype(np.uint16)
            ds = (p[0::2, 0::2] + p[0::2, 1::2] + p[1::2, 0::2] + p[1::2, 1::2]) // 4
            out[qy : qy + half, qx : qx + half] = ds.astype(np.uint8)
        tdir = os.path.join(out_dir, str(z), str(pc))
        os.makedirs(tdir, exist_ok=True)
        path = os.path.join(tdir, f"{pr}.png")
        with open(path, "wb") as f:
            f.write(codec.encode(out, "png"))
        return pd.DataFrame(
            {
                "zoom": [z],
                "tile": [parent],
                "n_children": [len(pdf)],
                "path": [path],
            }
        )

    cur = base_imgs.select(F.col("tile").alias("_ctile"), "bytes")
    manifests = []
    for lvl in range(levels):
        z = base_zoom - lvl
        parent = T.zoomed_out_col(F.col("_ctile"), z - 1, z)
        lvl_out = (
            cur.withColumn("_ptile", parent)
            .groupBy("_ptile")
            .applyInPandas(
                compose_level, schema="zoom int, tile int, n_children int, path string"
            )
            .localCheckpoint(eager=True)  # materialize: next level reads these files
        )
        manifests.append(lvl_out)
        # next level reads the just-written overview tiles back through
        # a distributed scan of the manifest (paths are on shared
        # storage by contract) — no driver-side byte shuttling
        cur = lvl_out.select(
            F.col("tile").alias("_ctile"), F.col("path").alias("_path")
        ).mapInPandas(_read_tiles_batch, schema="_ctile int, bytes binary")
    out = manifests[0]
    for m in manifests[1:]:
        out = out.unionByName(m)
    return out


def _read_tiles_batch(batches):
    for pdf in batches:
        yield pd.DataFrame(
            {
                "_ctile": pdf["_ctile"],
                "bytes": [open(p, "rb").read() for p in pdf["_path"]],
            }
        )
