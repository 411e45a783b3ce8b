"""Three-band PIP join + distance filter + kNN vs brute-force numpy."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geodesk_spark.geo import mercator, pip
from geodesk_spark.operators import knn as knn_mod, spatial_join, tiling
from geodesk_spark.sources import synth


@pytest.fixture(scope="module")
def world(spark):
    df = synth.images_df(spark, 20_000, with_bytes=False, partitions=8)
    df = tiling.with_point_tiles(tiling.with_imp_coords(df)).cache()
    pdf = df.select("image_id", "lon", "lat", "x", "y").toPandas()
    yield df, pdf
    df.unpersist()


@pytest.fixture(scope="module")
def layer():
    return synth.polygon_layer()


def test_contains_points_matches_bruteforce(world, layer):
    df, pdf = world
    prepared = spatial_join.prepare_layer(layer)
    got = (
        spatial_join.contains_points(df, prepared, keep_cols=["image_id"])
        .toPandas()
    )
    got_set = set(map(tuple, got[["image_id", "poly_id"]].to_numpy().tolist()))

    x = pdf["x"].to_numpy(dtype=np.float64)
    y = pdf["y"].to_numpy(dtype=np.float64)
    exp_set = set()
    for p in layer:
        rings = pip.unpack_rings(p["rings"])
        inside = pip.points_in_polygon(x, y, rings)
        for iid in pdf["image_id"].to_numpy()[inside]:
            exp_set.add((iid, p["poly_id"]))
    assert got_set == exp_set
    assert len(got_set) > 100  # hot cities guarantee plenty of matches


def test_disjoint_anti_join(world, layer):
    df, pdf = world
    prepared = spatial_join.prepare_layer(layer)
    n_total = len(pdf)
    matched = (
        spatial_join.contains_points(df, prepared, keep_cols=["image_id"])
        .select("image_id").distinct().count()
    )
    anti = spatial_join.contains_points(df, prepared, keep_cols=["image_id"], anti=True).count()
    assert anti == n_total - matched


def test_contains_points_reuses_layer_expressions(world, layer, monkeypatch):
    """A second call on the same layer plans from the expressions cached
    beside the layer's frames (no cell-id expression is rebuilt) and
    returns the same rows."""
    df, _ = world
    prepared = spatial_join.prepare_layer(layer)

    def rows():
        out = spatial_join.contains_points(df, prepared, keep_cols=["image_id"])
        return sorted(map(tuple, out.collect()))

    first = rows()
    n_entries = len(spatial_join._BANDS_CACHE)
    built = []
    real = spatial_join.point_cell_col
    monkeypatch.setattr(spatial_join, "point_cell_col", lambda z: built.append(z) or real(z))
    assert rows() == first
    assert built == []
    assert len(spatial_join._BANDS_CACHE) == n_entries


def test_within_distance(world):
    df, pdf = world
    lon, lat, radius = 139.69, 35.69, 25_000.0  # 25 km around Tokyo
    got = spatial_join.within_distance(df, lon, lat, radius, keep_cols=["image_id"]).toPandas()

    qx = float(mercator.x_from_lon(lon)[()])
    qy = float(mercator.y_from_lat(lat)[()])
    d = mercator.distance(pdf["x"].to_numpy(np.float64), pdf["y"].to_numpy(np.float64), qx, qy)
    exp = set(pdf["image_id"].to_numpy()[d <= radius])
    assert set(got["image_id"]) == exp
    assert len(exp) > 50
    assert np.allclose(np.sort(got["dist_m"].to_numpy()), np.sort(d[d <= radius]))


def test_knn_matches_bruteforce(world):
    df, pdf = world
    queries = [("q_tokyo", 139.7, 35.7), ("q_paris", 2.3, 48.9), ("q_ocean", -140.0, -30.0)]
    k = 10
    got = knn_mod.knn(df, queries, k=k).toPandas()

    x = pdf["x"].to_numpy(np.float64)
    y = pdf["y"].to_numpy(np.float64)
    ids = pdf["image_id"].to_numpy()
    for qid, lon, lat in queries:
        qx = float(mercator.x_from_lon(lon)[()])
        qy = float(mercator.y_from_lat(lat)[()])
        d = mercator.distance(x, y, qx, qy)
        order = np.lexsort((ids, d))[:k]
        exp = list(ids[order])
        sub = got[got["query_id"] == qid].sort_values("rank")
        assert list(sub["image_id"]) == exp, qid


def _ngon_layer(n_polys: int, n_verts: int) -> list[dict]:
    """Many detailed polygons: regular n-gons on a lon/lat grid."""
    polys = []
    for i in range(n_polys):
        lon = -150 + (i % 20) * 15.0
        lat = -60 + (i // 20) * 25.0
        cx = float(mercator.x_from_lon(lon)[()])
        cy = float(mercator.y_from_lat(lat)[()])
        ang = np.arange(n_verts) * (2 * np.pi / n_verts)
        r = 40_000_000 * (1 + 0.1 * np.sin(5 * ang + i))
        ring = np.stack([cx + r * np.cos(ang), cy + r * np.sin(ang)], axis=1)
        ring = np.vstack([ring, ring[:1]]).astype(np.float64)
        polys.append(dict(poly_id=f"ngon_{i}", rings=pip.pack_rings([ring])))
    return polys


def _hand_layer() -> list[dict]:
    """Edge cases for the slab-indexed exact test: horizontal edges on a
    row bottom (y = 0) and on a row top (y = (3 << 20) - 1) at every zoom
    from 12 up, a vertex starting an edge on that row top, a vertical edge
    spanning dozens of slab rows, a hole, and a second polygon across
    y = 0 with negative coordinates."""
    top = (3 << 20) - 1
    shell = np.array([(0, 0), (4_000_000, 0), (4_000_000, top),
                      (2_500_000, top), (1_000_000, 6_000_000), (0, 0)],
                     dtype=np.float64)
    hole = np.array([(1_000_000, 1_000_000), (2_000_000, 1_000_000),
                     (2_000_000, 2_000_000), (1_000_000, 2_000_000),
                     (1_000_000, 1_000_000)], dtype=np.float64)
    tri = np.array([(-3e6, -2e6), (-1e6, 2.5e6), (-5e6, 1e6), (-3e6, -2e6)])
    return [dict(poly_id="hand_holed", rings=pip.pack_rings([shell, hole])),
            dict(poly_id="hand_tri", rings=pip.pack_rings([tri]))]


def assert_geometry_as_data(df, layer, max_len: int = 10_000):
    """The analyzed plan embeds no ring-vertex literal, in either the
    Python or the JVM spelling of the double, and stays under a fixed
    length: the plan does not grow with the layer's vertex count."""
    plan = df._jdf.queryExecution().analyzed().toString()
    jdouble = df.sparkSession._jvm.java.lang.Double
    for p in layer:
        for ring in pip.unpack_rings(p["rings"]):
            for v in ring[:-1].ravel().tolist():
                assert repr(v) not in plan and jdouble.toString(v) not in plan, v
    assert len(plan) < max_len, len(plan)


@pytest.mark.parametrize(
    "make_layer",
    [lambda: _ngon_layer(12, 60), lambda: _ngon_layer(12, 1000), _hand_layer],
    ids=["ngon_720_segs", "ngon_12000_segs", "hand_edge_cases"],
)
def test_contains_points_slab_exact_matches_bruteforce(spark, make_layer):
    """The one exact path (BOUNDARY candidates fold over their slab's
    edges only) equals the numpy ray-cast over every ring, including
    points whose y sits exactly on a slab row's bottom and top value."""
    layer = make_layer()
    prepared = spatial_join.prepare_layer(layer)
    rng = np.random.default_rng(5)
    xs, ys = [], []
    for p in prepared:
        xs.append(rng.integers(int(p.minx), int(p.maxx), 400))
        ys.append(rng.integers(int(p.miny), int(p.maxy), 400))
        # on every boundary slab's bottom and top row: on, just left and
        # just right of each edge that spans it
        x1, y1, x2, y2 = np.concatenate(
            [np.concatenate([r[:-1], r[1:]], axis=1) for r in p.rings]).T
        for key in p.slab_keys:
            for yv in spatial_join._row_y_range(key & ((1 << 20) - 1), key >> 20):
                on = (np.minimum(y1, y2) <= yv) & (yv <= np.maximum(y1, y2)) & (y1 != y2)
                xi = x1[on] + (yv - y1[on]) / (y2[on] - y1[on]) * (x2[on] - x1[on])
                xs += [np.floor(xi) - 1, np.floor(xi), np.ceil(xi) + 1]
                ys.append(np.full(3 * len(xi), yv))
    x, y = np.concatenate(xs), np.concatenate(ys)
    ids = np.array([f"p{i}" for i in range(len(x))])
    pts = spark.createDataFrame(
        [(i, int(a), int(b)) for i, a, b in zip(ids, x, y)],
        "image_id string, x long, y long",
    )
    out = spatial_join.contains_points(pts, prepared, keep_cols=["image_id"])
    got = set(map(tuple, out.toPandas()[["image_id", "poly_id"]].to_numpy().tolist()))
    exp = set()
    for p in layer:
        inside = pip.points_in_polygon(x.astype(np.float64), y.astype(np.float64),
                                       pip.unpack_rings(p["rings"]))
        exp |= {(i, p["poly_id"]) for i in ids[inside]}
    assert got == exp
    assert len(exp) > 100
    assert_geometry_as_data(out, layer)


def test_knn_many_queries_bounded(world):
    """≥100 concurrent queries: the expansion loop stays bounded and every
    query returns exactly k exact neighbours (spot-checked vs brute force)."""
    df, pdf = world
    rng = np.random.default_rng(3)
    queries = [
        (f"q{i}", float(rng.uniform(-170, 170)), float(rng.uniform(-60, 60)))
        for i in range(120)
    ]
    k = 3
    got = knn_mod.knn(df, queries, k=k).toPandas()
    assert len(got) == len(queries) * k
    assert got.groupby("query_id")["rank"].max().eq(k).all()
    x = pdf["x"].to_numpy(np.float64)
    y = pdf["y"].to_numpy(np.float64)
    ids = pdf["image_id"].to_numpy()
    for qid, lon, lat in queries[::17]:
        qx = float(mercator.x_from_lon(lon)[()])
        qy = float(mercator.y_from_lat(lat)[()])
        d = mercator.distance(x, y, qx, qy)
        exp = list(ids[np.lexsort((ids, d))[:k]])
        sub = got[got["query_id"] == qid].sort_values("rank")
        assert list(sub["image_id"]) == exp, qid


@pytest.mark.parametrize("init_radius_imps", ["auto", 1 << 20])
def test_knn_join_matches_bruteforce(world, init_radius_imps):
    """kNN join: DataFrame query side, exact vs brute force — includes an
    ocean query that re-expands; from the small 1 << 20 first window its
    k-th neighbour is not provably inside, so it takes later rounds."""
    df, pdf = world
    queries = [("q_tokyo", 139.7, 35.7), ("q_paris", 2.3, 48.9), ("q_ocean", -140.0, -30.0)]
    k = 10
    spark = df.sparkSession
    qrows = [
        (qid, int(mercator.x_from_lon(lon)[()]), int(mercator.y_from_lat(lat)[()]))
        for qid, lon, lat in queries
    ]
    qdf = spark.createDataFrame(qrows, "query_id string, x long, y long")
    got = knn_mod.knn_join(
        df.select("image_id", "x", "y"), qdf, k=k, init_radius_imps=init_radius_imps
    ).toPandas()
    assert len(got) == len(queries) * k

    x = pdf["x"].to_numpy(np.float64)
    y = pdf["y"].to_numpy(np.float64)
    ids = pdf["image_id"].to_numpy()
    for qid, lon, lat in queries:
        qx = float(mercator.x_from_lon(lon)[()])
        qy = float(mercator.y_from_lat(lat)[()])
        d = mercator.distance(x, y, qx, qy)
        exp = list(ids[np.lexsort((ids, d))[:k]])
        sub = got[got["query_id"] == qid].sort_values("rank")
        assert list(sub["image_id"]) == exp, qid


def test_knn_join_matches_knn(world):
    """knn_join (DataFrame query side) must agree row-for-row with the
    driver-list knn() on an identical query set, including re-expansion."""
    df, _ = world
    rng = np.random.default_rng(11)
    queries = [
        (f"q{i}", float(rng.uniform(-170, 170)), float(rng.uniform(-60, 60)))
        for i in range(60)
    ]
    k = 4
    spark = df.sparkSession
    qdf = spark.createDataFrame(
        [
            (qid, int(mercator.x_from_lon(lon)[()]), int(mercator.y_from_lat(lat)[()]))
            for qid, lon, lat in queries
        ],
        "query_id string, x long, y long",
    )
    pts = df.select("image_id", "x", "y")
    a = knn_mod.knn(pts, queries, k=k).toPandas()
    b = knn_mod.knn_join(pts, qdf, k=k).toPandas()
    key = ["query_id", "rank"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    assert list(a["image_id"]) == list(b["image_id"])
    assert np.allclose(a["dist_m"].to_numpy(), b["dist_m"].to_numpy())


def test_knn_join_reuses_round_expressions(world, monkeypatch):
    """knn_join builds each round's Column expressions once per session:
    after the first call neither the probe's tile nor the Mercator
    distance is built again, and the rows stay the same."""
    from geodesk_spark.geo import tile as T

    monkeypatch.setattr(tiling, "_EXPR_CACHE", {})
    built = []
    real_tile, real_dist = T.tile_col, mercator.distance_col
    monkeypatch.setattr(T, "tile_col", lambda *a: built.append("tile") or real_tile(*a))
    monkeypatch.setattr(
        mercator, "distance_col", lambda *a: built.append("dist") or real_dist(*a)
    )
    df, _ = world
    queries = [("q_tokyo", 139.7, 35.7), ("q_paris", 2.3, 48.9), ("q_ocean", -140.0, -30.0)]
    qdf = knn_mod._query_frame(df.sparkSession, queries)
    pts = df.select("image_id", "x", "y")
    key = ["query_id", "rank"]
    cols = ["query_id", "image_id", "dist_m", "rank"]

    def run():
        out = knn_mod.knn_join(pts, qdf, k=5, init_radius_imps=1 << 20)
        return out.toPandas()[cols].sort_values(key).reset_index(drop=True).to_dict("records")

    first = run()
    assert "tile" in built and "dist" in built
    n_built = len(built)
    assert run() == first
    assert len(built) == n_built


@pytest.mark.parametrize("qtype", ["int", "bigint"])
def test_knn_join_integer_query_ids_round_trip(world, qtype):
    """Integer query ids come back unchanged, with their input type
    (rounds rank on their own dense int key and map it back)."""
    df, _ = world
    ids = [7, -3, (1 << 31) - 1] if qtype == "int" else [1 << 40, 5, -(1 << 35)]
    lonlat = [(139.7, 35.7), (2.3, 48.9), (-140.0, -30.0)]
    qdf = df.sparkSession.createDataFrame(
        pd.DataFrame({
            "qid": ids,
            "x": [int(mercator.x_from_lon(lon)[()]) for lon, _ in lonlat],
            "y": [int(mercator.y_from_lat(lat)[()]) for _, lat in lonlat],
        }),
        f"qid {qtype}, x long, y long",
    )
    pts = df.select("image_id", "x", "y")
    out = knn_mod.knn_join(pts, qdf, k=3, query_id="qid")
    assert _knn_out_types(out)["qid"] == qtype
    got = out.toPandas().to_dict("records")
    assert sorted({r["qid"] for r in got}) == sorted(ids)
    assert len(got) == 3 * 3


# knn_join's output types: the id and query_id types come from the inputs
_KNN_OUT_TYPES = {"image_id": "string", "query_id": "string", "dist_m": "double", "rank": "int"}


def _knn_out_types(out):
    return {f.name: f.dataType.simpleString() for f in out.schema.fields}


def test_knn_join_k_exceeds_points(spark):
    """k larger than the point count: the world-window round must return
    every point (rank ≤ n) instead of looping or dropping the query."""
    pts = spark.createDataFrame(
        [("a", 10, 10), ("b", 500_000, -20), ("c", -300_000, 9_000)],
        "image_id string, x long, y long",
    )
    qdf = spark.createDataFrame([("q", 0, 0)], "query_id string, x long, y long")
    out = knn_mod.knn_join(pts, qdf, k=10)
    assert _knn_out_types(out) == _KNN_OUT_TYPES
    got = out.toPandas().sort_values("rank")
    # by exact distance: a (~14 imps), c (~300k imps), b (500k imps)
    assert list(got["image_id"]) == ["a", "c", "b"]
    assert list(got["rank"]) == [1, 2, 3]


def test_knn_join_empty_queries(spark):
    pts = spark.createDataFrame([("a", 0, 0)], "image_id string, x long, y long")
    qdf = spark.createDataFrame([], "query_id string, x long, y long")
    out = knn_mod.knn_join(pts, qdf, k=3)
    assert out.count() == 0
    assert _knn_out_types(out) == _KNN_OUT_TYPES
    # non-string ids keep their input types too
    pts = spark.createDataFrame([(7, 0, 0)], "pid long, x long, y long")
    qdf = spark.createDataFrame([], "qid int, x long, y long")
    out = knn_mod.knn_join(pts, qdf, k=3, id_col="pid", query_id="qid")
    assert out.count() == 0
    assert _knn_out_types(out) == {"pid": "bigint", "qid": "int", "dist_m": "double", "rank": "int"}


def test_knn_join_round_plan_limits_before_shuffle(spark):
    """Pin the executed plan of knn_join's last round, read from the SQL
    status store (the AQE-final plan): each query's top-k is cut by a
    partial WindowGroupLimit before the candidates are shuffled on the
    query id, one Window ranks them, and every leaf is a JVM local
    relation (no Scan ExistingRDD, no Python worker)."""
    import time

    rng = np.random.default_rng(2)
    pts = spark.createDataFrame(
        pd.DataFrame({
            "image_id": [f"p{i}" for i in range(5_000)],
            "x": rng.integers(-(1 << 31), 1 << 31, 5_000),
            "y": rng.integers(-(1 << 31), 1 << 31, 5_000),
        })
    )
    queries = [("q_tokyo", 139.7, 35.7), ("q_ocean", -140.0, -30.0)]
    qdf = knn_mod._query_frame(spark, queries)
    store = spark._jsparkSession.sharedState().statusStore()
    first = store.executionsCount()
    assert len(knn_mod.knn_join(pts, qdf, k=5, init_radius_imps=1 << 22).collect()) == 10
    rounds = []
    execs = store.executionsList(first, 1 << 20)
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        deadline = time.time() + 10
        # the listener bus is asynchronous: wait for the end event
        while store.execution(eid).get().completionTime().isEmpty() and time.time() < deadline:
            time.sleep(0.05)
        graph = store.planGraph(eid)
        nodes = {n.id(): n for n in (graph.allNodes().apply(j) for j in range(graph.allNodes().size()))}
        if any(n.name() == "Window" for n in nodes.values()):
            edges = [graph.edges().apply(j) for j in range(graph.edges().size())]
            rounds.append((nodes, edges))
    assert len(rounds) >= 2  # sparse points, small first window: re-expansion
    nodes, edges = rounds[-1]
    names = [n.name() for n in nodes.values()]
    assert names.count("Window") == 1
    assert "Scan ExistingRDD" not in names
    for name in names:
        assert "Python" not in name and "InPandas" not in name and "InArrow" not in name, name
    # edges point from child to parent
    below_qid_exchange = [
        nodes[e.fromId()] for e in edges
        if nodes[e.toId()].name() == "Exchange"
        and "hashpartitioning(_qid" in nodes[e.toId()].desc()
    ]
    assert [(n.name(), n.desc().endswith("Partial")) for n in below_qid_exchange] == [
        ("WindowGroupLimit", True)
    ]


def _last_round_join_rows(spark, first_execution: int) -> int:
    """BroadcastHashJoin output rows of the last knn_join round (the last
    execution with a Window) since ``first_execution``, read from the SQL
    status store."""
    import time

    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList(first_execution, 1 << 20)
    last = None
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        deadline = time.time() + 10
        while store.execution(eid).get().completionTime().isEmpty() and time.time() < deadline:
            time.sleep(0.05)
        graph = store.planGraph(eid)
        nodes = [graph.allNodes().apply(j) for j in range(graph.allNodes().size())]
        if any(n.name() == "Window" for n in nodes):
            last = (eid, nodes)
    eid, nodes = last
    values = store.executionMetrics(eid)
    rows = 0
    for n in nodes:
        if n.name() == "BroadcastHashJoin":
            for m in (n.metrics().apply(j) for j in range(n.metrics().size())):
                if m.name() == "number of output rows":
                    rows += int(values.get(m.accumulatorId()).get().replace(",", ""))
    return rows


def test_knn_join_caps_bound_dense_candidates(spark, monkeypatch):
    """80 % of the points sit in one 0.1° cluster and every query is
    inside it: each query's window holds the whole cluster, its cap box a
    few dozen points.  The capped round joins ≥5× fewer candidates than
    the same call with every cap forced to NO_CAP, with identical rows."""
    rng = np.random.default_rng(8)
    n, n_hot = 20_000, 16_000
    lon = np.concatenate([10.0 + rng.uniform(-0.05, 0.05, n_hot), rng.uniform(-180, 180, n - n_hot)])
    lat = np.concatenate([50.0 + rng.uniform(-0.05, 0.05, n_hot), rng.uniform(-85, 85, n - n_hot)])
    pts = spark.createDataFrame(pd.DataFrame({
        "image_id": [f"p{i}" for i in range(n)],
        "x": mercator.x_from_lon(lon).astype(np.int64),
        "y": mercator.y_from_lat(lat).astype(np.int64),
    }))
    queries = [
        (f"q{i}", 10.0 + a, 50.0 + b) for i, (a, b) in enumerate(rng.uniform(-0.04, 0.04, (8, 2)))
    ]
    qdf = knn_mod._query_frame(spark, queries)
    store = spark._jsparkSession.sharedState().statusStore()

    def run():
        first = store.executionsCount()
        rows = sorted(map(tuple, knn_mod.knn_join(pts, qdf, k=5).collect()))
        return rows, _last_round_join_rows(spark, first)

    capped_rows, capped = run()
    monkeypatch.setattr(
        knn_mod, "_caps", lambda sample, n, k, qx, qy: np.full(len(qx), knn_mod.NO_CAP)
    )
    rows, uncapped = run()
    assert rows == capped_rows
    assert len(rows) == 8 * 5
    assert capped > 0 and uncapped >= 5 * capped, (capped, uncapped)


def test_knn_join_cap_is_sound_and_retries(spark, monkeypatch):
    """A forced cap c on one query at the origin: its k nearest points in
    the c-box sit near the box corners (≈1.4c away), and one point on the
    x axis at 1.1c lies just outside the box.  The capped round cannot
    prove its top k, so the query re-runs uncapped, and the result equals
    brute force with the axis point in the top k."""
    c, k = 1 << 20, 4
    corners = [(0.98, 0.97), (-0.97, 0.99), (0.99, -0.96), (-0.96, -0.98)]
    rng = np.random.default_rng(5)
    far = rng.integers(4 * c, 1 << 28, (40, 2)) * rng.choice([-1, 1], (40, 2))
    xs = [int(a * c) for a, _ in corners] + [int(1.1 * c)] + far[:, 0].tolist()
    ys = [int(b * c) for _, b in corners] + [0] + far[:, 1].tolist()
    ids = [f"p{i:02d}" for i in range(len(xs))]
    pts = spark.createDataFrame(pd.DataFrame({"image_id": ids, "x": xs, "y": ys}))
    qdf = spark.createDataFrame([("q0", 0, 0)], "query_id string, x long, y long")
    d = mercator.distance(np.array(xs, np.float64), np.array(ys, np.float64), 0.0, 0.0)
    exp = [ids[i] for i in np.lexsort((ids, d))[:k]]
    assert "p04" in exp  # the axis point
    caps = []
    monkeypatch.setattr(
        knn_mod, "_caps", lambda sample, n, k, qx, qy: caps.append(c) or np.full(len(qx), c)
    )
    got = knn_mod.knn_join(pts, qdf, k=k, init_radius_imps=1 << 24).toPandas().sort_values("rank")
    assert list(got["image_id"]) == exp
    assert caps == [c]  # the query was capped


def test_knn_point_sample_is_bounded_and_deterministic(spark):
    """The sample holds ≤ SAMPLE_ROWS rows, is the same on every call and
    partitioning, is the whole corpus (with its exact size) below
    SAMPLE_ROWS, and estimates a larger corpus's size within 10 %."""
    def frame(n):
        i = F.col("id")
        return spark.range(n).select(
            i.alias("pid"), (i * 7919 % (1 << 30)).alias("x"), (i * 104729 % (1 << 30)).alias("y")
        )

    xy, n = knn_mod._point_sample(frame(1_000), "pid")
    assert n == 1_000 and len(xy) == 1_000
    big = frame(200_000)
    a, n_a = knn_mod._point_sample(big, "pid")
    b, n_b = knn_mod._point_sample(big.repartition(3), "pid")
    assert len(a) == knn_mod.SAMPLE_ROWS
    assert np.array_equal(a, b) and n_a == n_b
    assert abs(n_a - 200_000) <= 20_000, n_a


def test_knn_assert_unique_ids(spark):
    dup = spark.createDataFrame(
        [("a", 0, 0), ("a", 5, 5), ("b", 9, 9)], "image_id string, x int, y int"
    )
    with pytest.raises(ValueError, match="duplicate"):
        knn_mod.knn(dup, [("q", 0.0, 0.0)], k=1, assert_unique_ids=True)


def test_bbox_query_pushdown(world):
    df, _ = world
    q = spatial_join.bbox_query(df.select("image_id", "x", "y"), 0, 0, 1 << 28, 1 << 28)
    plan = q._jdf.queryExecution().executedPlan().toString()
    # The bbox predicate must sit in the scan stage, not behind an exchange.
    assert "Exchange" not in plan


def test_snap_to_segments_bruteforce(world):
    """The bbox+slack prefilter must never drop the true argmin segment:
    full numpy brute force over every (point, segment) pair."""
    df, pdf = world
    rng = np.random.default_rng(11)
    n_seg = 60
    sx1 = rng.integers(-2_000_000_000, 2_000_000_000, n_seg)
    sy1 = rng.integers(-1_500_000_000, 1_500_000_000, n_seg)
    sx2 = sx1 + rng.integers(-(1 << 24), 1 << 24, n_seg)
    sy2 = sy1 + rng.integers(-(1 << 24), 1 << 24, n_seg)
    sx2[0], sy2[0] = sx1[0], sy1[0]  # one degenerate (point) segment
    segs = df.sparkSession.createDataFrame(
        [(int(i), int(sx1[i]), int(sy1[i]), int(sx2[i]), int(sy2[i])) for i in range(n_seg)],
        "seg_id long, x1 long, y1 long, x2 long, y2 long",
    )
    meters = 900_000.0
    got = {
        r["image_id"]: (r["seg_id"], r["t"], r["dist_m"])
        for r in knn_mod.snap_to_segments(
            df.limit(3000), segs, meters, point_id="image_id"
        ).collect()
    }

    px = pdf["x"].to_numpy()[:3000].astype(np.float64)
    py = pdf["y"].to_numpy()[:3000].astype(np.float64)
    ids = pdf["image_id"].to_numpy()[:3000]
    abx = (sx2 - sx1).astype(np.float64)
    aby = (sy2 - sy1).astype(np.float64)
    len2 = abx * abx + aby * aby
    n_checked = 0
    for i in range(len(px)):
        apx = px[i] - sx1
        apy = py[i] - sy1
        dot = apx * abx + apy * aby
        t = np.where(len2 == 0, 0.0, np.clip(np.divide(dot, np.where(len2 == 0, 1, len2)), 0, 1))
        cx = sx1 + t * abx
        cy = sy1 + t * aby
        d = mercator.distance(px[i], py[i], cx, cy)
        j = int(np.argmin(d))
        if d[j] <= meters:
            n_checked += 1
            want = (j, float(t[j]), float(d[j]))
            have = got[ids[i]]
            assert have[0] == want[0], (ids[i], have, want)
            assert abs(have[1] - want[1]) < 1e-9
            assert abs(have[2] - want[2]) < 1e-6 * max(1.0, want[2])
        else:
            assert ids[i] not in got
    assert n_checked > 20  # the radius actually matched a useful subset


def test_idw_interpolate_matches_numpy_fold(world):
    """IDW = rank-ordered 1/d² folds over the exact kNN set; bit-compared
    against the same fold in numpy, plus the exact-hit guard."""
    df, pdf = world
    val = (F.crc32(F.col("image_id")) % 1000).cast("double")
    pts = df.withColumn("val", val)
    queries = [("q_tokyo", 139.7, 35.7), ("q_paris", 2.3, 48.9)]
    k = 6
    got = {
        r["query_id"]: (r["idw_value"], r["n_samples"])
        for r in knn_mod.idw_interpolate(pts, queries, k=k, val_col="val").collect()
    }
    vals = {r["image_id"]: float(r["val"]) for r in pts.select("image_id", "val").collect()}
    x = pdf["x"].to_numpy(np.float64)
    y = pdf["y"].to_numpy(np.float64)
    ids = pdf["image_id"].to_numpy()
    for qid, lon, lat in queries:
        qxi = int(mercator.x_from_lon(lon)[()])
        qyi = int(mercator.y_from_lat(lat)[()])
        d = mercator.distance(x, y, float(qxi), float(qyi))
        order = np.lexsort((ids, d))[:k]
        num = den = 0.0
        for i in order:  # rank order, same fold
            dx = float(int(x[i]) - qxi)
            dy = float(int(y[i]) - qyi)
            d2 = max(dx * dx + dy * dy, 1.0)
            num += vals[ids[i]] / d2
            den += 1.0 / d2
        assert got[qid][1] == k
        assert got[qid][0] == num / den, qid


def test_idw_exact_hit_dominates(spark):
    """A sample exactly ON the query point gets weight 1/1 and must pull
    the estimate to (almost) its own value."""
    lon, lat = 10.0, 20.0
    qx = int(mercator.x_from_lon(lon)[()])
    qy = int(mercator.y_from_lat(lat)[()])
    rows = [("hit", qx, qy, 500.0)] + [
        (f"far{i}", qx + 2_000_000 + i, qy, 1.0) for i in range(4)
    ]
    df = spark.createDataFrame(rows, "image_id string, x long, y long, val double")
    [r] = knn_mod.idw_interpolate(df, [("q", lon, lat)], k=5, val_col="val").collect()
    assert abs(r["idw_value"] - 500.0) < 1e-3


def test_route_measure_along_polyline(spark):
    """Measures accumulate exactly along an equatorial 3-segment route;
    points at a shared vertex tie-break to the lower seq segment."""
    from geodesk_spark.operators import knn as knn_mod

    # 3 equal segments along the equator (y=0): scale=cosh(0)=1, so
    # meters-per-imp is the exact constant EC/W.
    L = 1 << 20
    segs = spark.createDataFrame(
        [(7, 1, 0, 0, L, 0), (7, 2, L, 0, 2 * L, 0), (7, 3, 2 * L, 0, 3 * L, 0)],
        "route_id long, seq long, x1 long, y1 long, x2 long, y2 long",
    )
    pts = spark.createDataFrame(
        [(1, L // 2, 1000),    # mid segment 1
         (2, L, -1000),        # exactly at the shared vertex of seq 1/2
         (3, 3 * L, 0)],       # route end
        "key long, x long, y long",
    )
    out = {r["key"]: r for r in
           knn_mod.route_measure(pts, segs, 100_000.0, point_id="key").collect()}
    from geodesk_spark.geo import mercator
    seg_m = float(mercator.distance(0, 0, L, 0)[()])
    seg_um = int(seg_m * 1e6 + 0.5)
    assert out[1]["seq"] == 1 and out[1]["t_micro"] == 500_000
    assert out[1]["measure_um"] == int(0.5 * seg_um + 0.5)
    # vertex tie: dist equal on seq 1 (t=1) and seq 2 (t=0) -> lower seg_id
    assert out[2]["seq"] == 1 and out[2]["t_micro"] == 1_000_000
    assert out[2]["measure_um"] == seg_um
    assert out[3]["seq"] == 3 and out[3]["measure_um"] == 3 * seg_um


def test_flagship_plan_shape_regression(spark, tmp_path):
    """Pin the flagship pipeline's physical plan — the engine's headline
    scale claims as hard asserts, so a regression (an accidental
    shuffle, a Python worker in the hot path, a lost broadcast) fails
    CI instead of silently costing 10x at 100 TB:
    - ZERO shuffle Exchange before the rollup (one fact-side pass),
    - the polygon band table arrives by BroadcastExchange into a
      BroadcastHashJoin,
    - no BatchEvalPython / ArrowEvalPython / MapInPandas / FlatMapsInPandas
      nodes anywhere (no Python worker),
    - no ring-vertex literal in the analyzed plan, whose length stays
      bounded (the layer's geometry arrives as broadcast data)."""
    import re

    from geodesk_spark.operators import spatial_join, tiling
    from geodesk_spark.sources import synth

    path = str(tmp_path / "imgs")
    synth.images_df(spark, 20_000, with_bytes=False, partitions=4).write.parquet(path)
    prepared = spatial_join.prepare_layer(synth.polygon_layer())
    imgs = spark.read.parquet(path)
    pts = tiling.with_point_tiles(tiling.with_imp_coords(imgs))
    joined = spatial_join.contains_points(
        pts.select("image_id", "x", "y", "cell"), prepared,
        keep_cols=["image_id", "cell"],
    )
    plan = spark._jvm.PythonSQLUtils.explainString(
        joined._jdf.queryExecution(), "formatted"
    )
    nodes = re.findall(r"\(\d+\) ([A-Za-z]+)", plan)
    assert "BroadcastHashJoin" in nodes and "BroadcastExchange" in nodes
    assert "Exchange" not in nodes  # shuffle-free: only BroadcastExchange
    for py_node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                    "FlatMapGroupsInPandas"):
        assert py_node not in nodes, py_node
    # the projection must prune to the three columns the kernel needs
    assert re.search(r"ReadSchema: struct<image_id:string,lon:double,lat:double>", plan)
    # geometry travels as data: no ring-vertex literal, bounded plan
    assert_geometry_as_data(joined, synth.polygon_layer())
