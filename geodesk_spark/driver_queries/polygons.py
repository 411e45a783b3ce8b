"""Driver-contract query builders; registry.py assembles them into QUERIES."""

from __future__ import annotations

from geodesk_spark.driver_queries.common import (
    F,
    dedup,
    np,
    pip,
    synth,
)

def _q_polygon_assembly(spark, sf_dir):
    """Multipolygon assembly (PolygonBuilder.java:162-250): deterministic
    relations built by chopping the synthetic polygon layer's rings into
    shuffled/reversed member runs, reassembled distributed by rel_id.
    Oracle = the layer's unchopped ground truth (ring/vertex counts +
    bbox per relation) as a VALUES table — independent of the chaining
    code under test; pytest additionally pins PIP-equivalence
    (tests/test_polygons.py)."""
    from geodesk_spark.operators import polygons as polys_mod

    rng = np.random.default_rng(13)
    member_rows, wn_rows = [], []
    wid = 0
    for rel_id, poly in enumerate(synth.polygon_layer()):
        for ring in pip.unpack_rings(poly["rings"]):
            k = len(ring) - 1
            n_chunks = min(3, max(1, k - 2))
            cuts = sorted(rng.choice(np.arange(1, k), size=n_chunks - 1, replace=False)) if n_chunks > 1 else []
            bounds = [0, *cuts, k]
            runs = [ring[bounds[i]: bounds[i + 1] + 1] for i in range(n_chunks)]
            rng.shuffle(runs)
            for r in runs:
                if rng.random() < 0.5:
                    r = r[::-1]
                member_rows.append((rel_id, wid, "outer"))
                for s_i, (x, y) in enumerate(r):
                    wn_rows.append((wid, s_i, int(x), int(y)))
                wid += 1
    members = spark.createDataFrame(member_rows, "rel_id long, member_id long, role string")
    way_nodes = spark.createDataFrame(wn_rows, "way_id long, seq int, x int, y int")
    out = polys_mod.assemble_relation_polygons(members, way_nodes)
    return out.select(
        "rel_id", "n_parts", "n_rings", "n_vertices", "n_dangling", "valid",
        "status", "minx", "miny", "maxx", "maxy",
    ).orderBy("rel_id")


def _polygon_assembly_sql() -> str:
    """Ground-truth expectations straight from the polygon layer (each
    layer polygon is one part: one outer ring + optional hole inside it),
    NOT derived through the assembly code."""
    rows = []
    for rel_id, poly in enumerate(synth.polygon_layer()):
        rings = pip.unpack_rings(poly["rings"])
        n_vertices = int(sum(len(r) - 1 for r in rings))
        rows.append(
            f"({rel_id}, 1, {len(rings)}, {n_vertices}, 0, true, 'valid', "
            f"{poly['minx']}, {poly['miny']}, {poly['maxx']}, {poly['maxy']})"
        )
    return (
        "select * from (values "
        + ", ".join(rows)
        + ") as t(rel_id, n_parts, n_rings, n_vertices, n_dangling, valid, "
        "status, minx, miny, maxx, maxy) order by rel_id"
    )


def _geomcoll_fixture():
    """Deterministic relation-nesting fixture for the non-area
    GeometryCollection path: routes (ways), point sets, mixed members,
    a super-relation recursing through a non-area sub-relation, a
    reference CYCLE (104↔105), an empty relation, and two area
    sub-relations (200 split-run rectangle, 201 closed rectangle)."""
    wn = []

    def way(wid, pts):
        for i, (x, y) in enumerate(pts):
            wn.append((wid, i, x, y))

    way(1, [(0, 0), (100, 0), (100, 80)])          # area rel 200, run 1
    way(2, [(100, 80), (0, 80), (0, 0)])           # area rel 200, run 2
    way(3, [(200, 0), (300, 0), (300, 50), (200, 50), (200, 0)])  # area rel 201
    way(10, [(0, 0), (10, 5), (20, 9)])
    way(11, [(20, 9), (30, 14)])
    way(12, [(-5, -5), (-10, -20)])
    way(13, [(500, 500), (510, 510), (520, 505)])
    nodes = [(1, 7, 7), (2, -3, 12), (3, 40, 40), (4, 60, -10), (20, 999, 999)]
    members = [
        (100, 10, "w", ""), (100, 11, "w", ""), (100, 12, "w", ""),
        (101, 1, "n", ""), (101, 2, "n", ""), (101, 3, "n", ""), (101, 4, "n", ""),
        (102, 13, "w", ""), (102, 1, "n", ""), (102, 200, "r", ""),
        (103, 100, "r", ""), (103, 201, "r", ""), (103, 2, "n", ""),
        (104, 105, "r", ""), (104, 10, "w", ""),
        (105, 104, "r", ""), (105, 20, "n", ""),
        (200, 1, "w", "outer"), (200, 2, "w", "outer"),
        (201, 3, "w", "outer"),
    ]
    rels = [
        (100, False), (101, False), (102, False), (103, False),
        (104, False), (105, False), (106, False), (200, True), (201, True),
    ]
    return members, rels, wn, nodes


def _q_relation_geomcollection(spark, sf_dir):
    """Non-area relation → GeometryCollection summary
    (StoredRelation.toGeometryCollection, StoredRelation.java:74-166):
    recursive member gathering with cycle guard, typed MultiLineString /
    MultiPoint / GeometryCollection exactly as the reference branches."""
    from geodesk_spark.operators import polygons as polys_mod

    members, rels, wn, nodes = _geomcoll_fixture()
    m = spark.createDataFrame(members, "rel_id long, member_id long, member_type string, role string")
    ra = spark.createDataFrame(rels, "rel_id long, is_area boolean")
    w = spark.createDataFrame(wn, "way_id long, seq int, x int, y int")
    n = spark.createDataFrame(nodes, "node_id long, x int, y int")
    out = polys_mod.relation_geometry_collection(m, ra, w, n)
    return out.select(
        "rel_id", "geom_type", "n_geoms", "n_vertices",
        F.coalesce("minx", F.lit(0)).alias("minx"),
        F.coalesce("miny", F.lit(0)).alias("miny"),
        F.coalesce("maxx", F.lit(0)).alias("maxx"),
        F.coalesce("maxy", F.lit(0)).alias("maxy"),
    ).orderBy("rel_id")


def _geomcoll_sql() -> str:
    """Recursive-CTE oracle: DuckDB walks the same member graph (UNION
    dedup = the reference's processedRelations cycle guard); area
    sub-relation polygons enter as ground-truth VALUES (rectangles with
    known ring/vertex/bbox), independent of the assembly code."""
    members, rels, wn, nodes = _geomcoll_fixture()
    mv = ", ".join(f"({r}, {m}, '{t}')" for r, m, t, _ in members)
    rv = ", ".join(f"({r}, {str(a).lower()})" for r, a in rels)
    wv = ", ".join(f"({w}, {s}, {x}, {y})" for w, s, x, y in wn)
    nv = ", ".join(f"({i}, {x}, {y})" for i, x, y in nodes)
    ap = "(200, 'Polygon', 4, 0, 0, 100, 80), (201, 'Polygon', 4, 200, 0, 300, 50)"
    return f"""
      with recursive
        m(rel_id, member_id, member_type) as (values {mv}),
        ra(rel_id, is_area) as (values {rv}),
        wn(way_id, seq, x, y) as (values {wv}),
        nd(node_id, x, y) as (values {nv}),
        ap(rel_id, gtype, nv, minx, miny, maxx, maxy) as (values {ap}),
        reach(root_rel_id, rel_id) as (
          select rel_id, rel_id from ra where not is_area
          union
          select r.root_rel_id, m.member_id
          from reach r
          join m on m.rel_id = r.rel_id and m.member_type = 'r'
          join ra a on a.rel_id = m.member_id and not a.is_area
        ),
        ways as (
          select way_id, count(*) as nv, min(x) as minx, min(y) as miny,
                 max(x) as maxx, max(y) as maxy
          from wn group by 1),
        geoms as (
          select r.root_rel_id, 'Point' as gtype, 1 as nv,
                 nd.x as minx, nd.y as miny, nd.x as maxx, nd.y as maxy
          from reach r
          join m on m.rel_id = r.rel_id and m.member_type = 'n'
          join nd on nd.node_id = m.member_id
          union all
          select r.root_rel_id, 'LineString', w.nv, w.minx, w.miny, w.maxx, w.maxy
          from reach r
          join m on m.rel_id = r.rel_id and m.member_type = 'w'
          join ways w on w.way_id = m.member_id
          union all
          select r.root_rel_id, ap.gtype, ap.nv, ap.minx, ap.miny, ap.maxx, ap.maxy
          from reach r
          join m on m.rel_id = r.rel_id and m.member_type = 'r'
          join ap on ap.rel_id = m.member_id
        ),
        agg as (
          select root_rel_id as rel_id,
                 case when count(distinct gtype) = 1 and min(gtype) = 'LineString'
                        then 'MultiLineString'
                      when count(distinct gtype) = 1 and min(gtype) = 'Point'
                        then 'MultiPoint'
                      else 'GeometryCollection' end as geom_type,
                 cast(count(*) as int) as n_geoms, cast(sum(nv) as int) as n_vertices,
                 min(minx) as minx, min(miny) as miny,
                 max(maxx) as maxx, max(maxy) as maxy
          from geoms group by 1)
      select r.rel_id, coalesce(geom_type, 'GeometryCollection') as geom_type,
             coalesce(n_geoms, 0) as n_geoms, coalesce(n_vertices, 0) as n_vertices,
             coalesce(minx, 0) as minx, coalesce(miny, 0) as miny,
             coalesce(maxx, 0) as maxx, coalesce(maxy, 0) as maxy
      from (select rel_id from ra where not is_area) r
      left join agg using (rel_id)
      order by r.rel_id
    """


def _phash_fixture():
    """500 uniform-random 64-bit phashes (synth's splitmix stream) + 50
    planted clones with ≤2 bits flipped: at 64 bits, unplanted pairs at
    Hamming ≤3 have probability ~2e-15, so the expected answer is
    exactly the planted pairs — an oracle that would catch both recall
    loss (banding bug) and false positives (distance bug)."""
    from geodesk_spark.sources.synth import _splitmix64

    ids = np.arange(500, dtype=np.uint64)
    ph = _splitmix64(ids).astype(np.int64)
    rows = [(f"img{int(i):012d}", int(p)) for i, p in zip(ids, ph)]
    for i in range(0, 500, 10):
        m = (1 << (i % 61)) | (1 << ((i * 13 + 7) % 61))
        rows.append((f"dup{i:012d}", int(ph[i]) ^ m))
    return rows


def _q_phash_hamming(spark, sf_dir):
    """Image near-dup by perceptual hash (dedup.phash_neardup_pairs):
    4×16-bit band blocking with the pigeonhole exact-recall guarantee,
    exact bit_count(xor) distance — all JVM."""
    rows = _phash_fixture()
    imgs = spark.createDataFrame(rows, "image_id string, phash long")
    return dedup.phash_neardup_pairs(imgs).orderBy("id_a", "id_b")


def _phash_hamming_sql() -> str:
    """Brute-force all-pairs oracle — deliberately NOT mirroring the
    banding, so the blocking scheme itself is under test."""
    vals = ", ".join(f"('{i}', {p})" for i, p in _phash_fixture())
    return f"""
      with t(image_id, phash) as (values {vals})
      select a.image_id as id_a, b.image_id as id_b,
             cast(bit_count(xor(a.phash, b.phash)) as int) as hamming
      from t a join t b on a.image_id < b.image_id
      where bit_count(xor(a.phash, b.phash)) <= 3
      order by 1, 2
    """




# --- ring validity (self-intersection detection) ----------------------------

RING_MAX_PTS = 8
_RING_M = 1 << 25   # localization modulus: vertices land within +/-2^24
_RING_H = 1 << 24   # of the ring's center -> int64-exact determinants
_RING_LO = -(1 << 31) + _RING_H
_RING_HI = (1 << 31) - 1 - _RING_H


def _q_ring_validity(spark, sf_dir):
    """Ring self-intersection pairs (bigjoin.ring_self_intersections, the
    OGC ST_IsValid bowtie test): per-user rings built from the first 8
    event points localized into a +/-2^24 window around the first point
    (keeps every orientation determinant int64-exact in both engines);
    emits (ring_id, i, j) for every non-adjacent properly-crossing
    segment pair.  Oracle is cell-free: a direct per-ring quadratic
    segment self-join with the same exact integer predicate."""
    from pyspark.sql import Window

    from geodesk_spark.driver_queries.graph_mobility import _located_events
    from geodesk_spark.operators.bigjoin import ring_self_intersections

    ev = _located_events(spark, sf_dir)
    wo = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    def _clamp(c):
        return F.greatest(F.least(c, F.lit(_RING_HI)), F.lit(_RING_LO))

    def _loc(c, ctr):
        return ctr + ((((c - ctr) % _RING_M) + _RING_M) % _RING_M) - _RING_H

    pts = (
        ev.withColumn("idx", F.row_number().over(wo))
        .withColumn("cx", _clamp(F.first("x").over(wo)))
        .withColumn("cy", _clamp(F.first("y").over(wo)))
        .filter(F.col("idx") <= RING_MAX_PTS)
        .select(
            "user_id",
            "idx",
            _loc(F.col("x"), F.col("cx")).alias("vx"),
            _loc(F.col("y"), F.col("cy")).alias("vy"),
        )
    )
    rings = (
        pts.groupBy("user_id")
        .agg(F.array_sort(F.collect_list(F.struct("idx", "vx", "vy"))).alias("vs"))
        .filter(F.size("vs") >= 3)
        .select(
            F.col("user_id").alias("ring_id"),
            F.transform("vs", lambda s: s.vx).alias("xs"),
            F.transform("vs", lambda s: s.vy).alias("ys"),
        )
    )
    return ring_self_intersections(rings)


def _ring_validity_sql() -> str:
    from geodesk_spark.driver_queries.graph_mobility import _EVENTS_LOCATED_SQL

    def loc(c, ctr):
        return f"{ctr} + (((({c} - {ctr}) % {_RING_M}) + {_RING_M}) % {_RING_M}) - {_RING_H}"

    return f"""
      with pts as ({_EVENTS_LOCATED_SQL}),
      rn as (select user_id as u, x, y,
                    row_number() over (partition by user_id
                                       order by ts_us, event_id) as idx
             from pts),
      p as (select * from rn where idx <= {RING_MAX_PTS}),
      ctr as (select u, least(greatest(x, {_RING_LO}), {_RING_HI}) as cx,
                     least(greatest(y, {_RING_LO}), {_RING_HI}) as cy
              from p where idx = 1),
      v as (select p.u, p.idx,
                   {loc('p.x', 'cx')} as vx,
                   {loc('p.y', 'cy')} as vy,
                   count(*) over (partition by p.u) as n
            from p join ctr on ctr.u = p.u),
      v3 as (select * from v where n >= 3),
      seg as (select a.u, a.n, a.idx - 1 as i,
                     a.vx as x1, a.vy as y1, b.vx as x2, b.vy as y2
              from v3 a join v3 b
                on b.u = a.u
               and b.idx = case when a.idx = a.n then 1 else a.idx + 1 end),
      pr as (select a.u, a.i, b.i as j,
                    (b.x2-b.x1)*(a.y1-b.y1) - (b.y2-b.y1)*(a.x1-b.x1) as d1,
                    (b.x2-b.x1)*(a.y2-b.y1) - (b.y2-b.y1)*(a.x2-b.x1) as d2,
                    (a.x2-a.x1)*(b.y1-a.y1) - (a.y2-a.y1)*(b.x1-a.x1) as d3,
                    (a.x2-a.x1)*(b.y2-a.y1) - (a.y2-a.y1)*(b.x2-a.x1) as d4
             from seg a join seg b
               on b.u = a.u and b.i > a.i + 1
              and not (a.i = 0 and b.i = a.n - 1))
      select u as ring_id, i, j from pr
      where ((d1 > 0 and d2 < 0) or (d1 < 0 and d2 > 0))
        and ((d3 > 0 and d4 < 0) or (d3 < 0 and d4 > 0))
    """
