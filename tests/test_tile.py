"""Golden parity with the reference's TileTest
(/root/reference/src/test/java/com/geodesk/geom/TileTest.java)."""

import numpy as np

from geodesk_spark.geo import tile as T

I32_MIN = -(1 << 31)
I32_MAX = (1 << 31) - 1


def test_from_string():
    # TileTest.java:10-17
    assert T.from_string("0/0/0") == 0
    assert T.from_string("3/6/7") == 0x3007006
    assert T.from_string("12/4367/0") == -1
    assert T.from_string("3/97/-4") == -1
    assert T.from_string("not a valid tile") == -1


def test_from_xyz():
    # TileTest.java:19-28
    assert T.from_xyz(I32_MIN, I32_MAX, 12)[()] == T.from_string("12/0/0")
    assert T.from_xyz(I32_MIN, I32_MAX, 0)[()] == T.from_string("0/0/0")
    assert T.from_xyz(I32_MAX, I32_MIN, 0)[()] == T.from_string("0/0/0")
    assert T.from_xyz(0, 0, 0)[()] == T.from_string("0/0/0")


def test_bounds_goldens():
    # TileTest.java:30-68
    cases_left = {
        "0/0/0": -2147483648,
        "3/2/0": -1073741824,
        "3/2/1": -1073741824,
        "3/2/4": -1073741824,
        "12/1297/1162": -787480576,
        "12/3097/4000": 1099956224,
        "4/3/15": -1342177280,
        "6/2/44": -2013265920,
    }
    for s, v in cases_left.items():
        assert T.left_x(T.from_string(s))[()] == v, s

    cases_top = {
        "0/0/0": 2147483647,
        "1/0/1": -1,
        "3/2/0": 2147483647,
        "3/2/1": 1610612735,
        "3/2/4": -1,
        "12/1297/1162": 929038335,
        "12/3097/4000": -2046820353,
        "4/3/15": -1879048193,
        "6/2/44": -805306369,
    }
    for s, v in cases_top.items():
        assert T.top_y(T.from_string(s))[()] == v, s

    cases_bottom = {
        "0/0/0": -2147483648,
        "1/0/1": -2147483648,
        "1/0/0": 0,
        "3/2/0": 1610612736,
        "3/2/1": 1073741824,
        "3/2/4": -536870912,
        "12/1297/1162": 927989760,
        "12/3097/4000": -2047868928,
        "4/3/15": -2147483648,
        "6/2/44": -872415232,
    }
    for s, v in cases_bottom.items():
        assert T.bottom_y(T.from_string(s))[()] == v, s

    assert T.to_string(int(T.from_xyz(-787480576, 929038335, 12)[()])) == "12/1297/1162"
    assert T.from_xyz(-1342177280, -1879048193, 4)[()] == T.from_string("4/3/15")


def test_col_row_goldens():
    # TileTest.java:70-97
    assert T.column_from_x(-787480576, 12)[()] == 1297
    assert T.column_from_x(0x7FFFFFFF, 12)[()] == 4095
    assert T.column_from_x(-0x80000000, 12)[()] == 0
    assert T.row_from_y(927989760, 12)[()] == 1162
    assert T.row_from_y(929038335, 12)[()] == 1162
    assert T.row_from_y(-0x80000000, 12)[()] == 4095
    assert T.row_from_y(0x7FFFFFFF, 12)[()] == 0
    assert T.column_from_x(-1342177280, 4)[()] == 3
    assert T.row_from_y(-2147483648, 4)[()] == 15
    assert T.row_from_y(-1879048193, 4)[()] == 15
    assert T.column_from_x(0x7FFFFFFF, 4)[()] == 15
    assert T.row_from_y(-0x80000000, 4)[()] == 15
    assert T.row_from_y(0x7FFFFFFF, 4)[()] == 0
    assert T.column_from_x(-0x80000000, 4)[()] == 0
    for v in [0, I32_MIN, I32_MAX]:
        assert T.column_from_x(v, 0)[()] == 0
        assert T.row_from_y(v, 0)[()] == 0
    assert T.column_from_x(0, 1)[()] == 1
    assert T.column_from_x(I32_MIN, 1)[()] == 0
    assert T.column_from_x(I32_MAX, 1)[()] == 1
    assert T.row_from_y(0, 1)[()] == 0
    assert T.row_from_y(-1, 1)[()] == 1
    assert T.row_from_y(I32_MIN, 1)[()] == 1
    assert T.row_from_y(I32_MAX, 1)[()] == 0


def test_z12_extremes():
    # TileTest.java:99-110
    assert T.left_x(T.from_string("12/0/0"))[()] == I32_MIN
    assert T.top_y(T.from_string("12/0/0"))[()] == I32_MAX
    assert T.top_y(T.from_string("12/3567/0"))[()] == I32_MAX
    assert T.bottom_y(T.from_string("12/4031/0"))[()] == 2146435072
    assert T.top_y(0)[()] == I32_MAX
    assert T.bottom_y(0)[()] == I32_MIN


def test_zoomed_out_neighbor_black():
    t = T.from_string("12/1297/1162")
    assert T.to_string(int(T.zoomed_out(t, 10)[()])) == "10/324/290"
    assert T.to_string(int(T.zoomed_out(t, 4)[()])) == "4/5/4"
    n = T.neighbor(np.array([t]), -1, 0)[0]
    assert T.to_string(int(n)) == "12/1296/1162"
    n = T.neighbor(np.array([t]), 0, -1)[0]
    assert T.to_string(int(n)) == "12/1297/1161"
    # isBlack alternates between E-W neighbors (Tile.java:317-320).
    a = T.is_black(t)[()]
    b = T.is_black(int(T.neighbor(np.array([t]), 1, 0)[0]))[()]
    assert a != b


def test_roundtrip_random():
    rng = np.random.default_rng(7)
    x = rng.integers(I32_MIN, I32_MAX, 10000, dtype=np.int64).astype(np.int32)
    y = rng.integers(I32_MIN, I32_MAX, 10000, dtype=np.int64).astype(np.int32)
    for z in (0, 1, 4, 6, 8, 10, 12):
        t = T.from_xyz(x, y, z)
        assert (T.left_x(t) <= x).all()
        assert (T.right_x(t) >= x).all()
        assert (T.bottom_y(t) <= y).all()
        assert (T.top_y(t) >= y).all()


def test_morton_spread_and_locality():
    """spread_bits == bit-by-bit reference; morton id preserves the
    quadtree property: the 2x2 child block of a cell is contiguous."""
    import numpy as np

    from geodesk_spark.geo import curve

    rng = np.random.default_rng(9)
    v = rng.integers(0, 1 << 16, 200)
    got = curve.spread_bits(v)
    want = np.zeros_like(got)
    for b in range(16):
        want |= ((v >> b) & 1).astype(np.int64) << (2 * b)
    assert np.array_equal(got, want)

    # sibling cells (same parent at zoom-1) occupy 4 consecutive codes
    x = rng.integers(-(1 << 30), 1 << 30, 50)
    y = rng.integers(-(1 << 30), 1 << 30, 50)
    z12 = curve.morton_cell(x, y, 12)
    from geodesk_spark.geo import tile as T
    col = np.asarray(T.column_from_x(x, 12), dtype=np.int64)
    row = np.asarray(T.row_from_y(y, 12), dtype=np.int64)
    base = (curve.spread_bits(row >> 1) << 1 | curve.spread_bits(col >> 1)) << 2
    child = (z12 & ((1 << 56) - 1)) - base
    assert ((child >= 0) & (child < 4)).all()


def test_typed_fid_roundtrip(spark):
    from pyspark.sql import functions as F

    from geodesk_spark.geo import tile as T

    df = spark.createDataFrame(
        [(1, "node"), (1, "way"), (1, "relation"), (123456789, "way")],
        "fid long, ftype string",
    ).withColumn("tid", T.typed_fid_col(F.col("fid"), F.col("ftype")))
    rows = df.select(
        "fid", "ftype", "tid",
        T.fid_of_typed_col(F.col("tid")).alias("back"),
        T.ftype_of_typed_col(F.col("tid")).alias("btype"),
    ).collect()
    tids = set()
    for r in rows:
        assert r["back"] == r["fid"] and r["btype"] == r["ftype"]
        tids.add(r["tid"])
    assert len(tids) == 4  # unique across types (FeatureId.java:20-29)
    assert {r["tid"] for r in rows if r["fid"] == 1} == {4, 5, 6}


def test_home_tile_checkerboard(spark):
    from pyspark.sql import functions as F

    from geodesk_spark.geo import tile as T
    import numpy as np

    rng = np.random.default_rng(4)
    rows = [(int(a), int(b)) for a, b in rng.integers(0, 1 << 28, (200, 2))]
    df = spark.createDataFrame(rows, "s int, e int").withColumn(
        "home", T.home_tile_col(F.col("s"), F.col("e"))
    )
    for r in df.collect():
        sb = bool(T.is_black(r["s"])[()])
        eb = bool(T.is_black(r["e"])[()])
        want = r["s"] if sb else (r["e"] if eb else r["s"])
        assert r["home"] == want


def test_hilbert_cell_properties_and_parity(spark):
    """Hilbert curve (S2-style clustering key, geo/curve.py): bijection +
    the adjacency property Z-order lacks (consecutive ids are always
    edge-adjacent cells), and numpy ↔ Column parity on random points."""
    import pandas as pd

    from geodesk_spark.geo import curve

    zoom = 5
    n = 1 << zoom
    cols, rows = np.meshgrid(np.arange(n), np.arange(n))
    step = 1 << (32 - zoom)
    xs = cols.ravel().astype(np.int64) * step - (1 << 31)
    ys = (1 << 31) - 1 - rows.ravel().astype(np.int64) * step
    d = curve.hilbert_cell(xs, ys, zoom) - (zoom << 56)
    assert sorted(d.tolist()) == list(range(n * n))  # bijection over the grid
    order = np.argsort(d)
    cseq, rseq = cols.ravel()[order], rows.ravel()[order]
    assert (np.abs(np.diff(cseq)) + np.abs(np.diff(rseq)) == 1).all()

    rng = np.random.default_rng(11)
    X = rng.integers(-(2**31), 2**31 - 1, 4000, dtype=np.int64)
    Y = rng.integers(-(2**31), 2**31 - 1, 4000, dtype=np.int64)
    df = spark.createDataFrame(pd.DataFrame({"x": X, "y": Y}))
    got = (
        curve.hilbert_cell_cols(df, "x", "y", 12)
        .toPandas()
        .sort_values(["x", "y"])
        .reset_index(drop=True)
    )
    want = (
        pd.DataFrame({"x": X, "y": Y, "w": curve.hilbert_cell(X, Y, 12)})
        .sort_values(["x", "y"])
        .reset_index(drop=True)
    )
    assert (got["hcell"].to_numpy() == want["w"].to_numpy()).all()


def test_geohash_golden_vectors_and_parity(spark):
    """Known geohash.org vectors; prefix-trie property; numpy vs Column
    vs DuckDB-SQL three-way bit parity."""
    import duckdb
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from geodesk_spark.geo import curve

    # Classic published vectors (8-char truncation of the full hash).
    vecs = [
        (-5.603, 42.605, "ezs42"),
        (10.40744, 57.64911, "u4pruydq"),
        (13.361389, 38.115556, "sqc8b49r"),
    ]
    got = curve.geohash8(np.array([v[0] for v in vecs]), np.array([v[1] for v in vecs]))
    for (_, _, exp), g in zip(vecs, got):
        assert g.startswith(exp)

    rng = np.random.default_rng(11)
    lon = rng.uniform(-180, 180, 3000)
    lat = rng.uniform(-85, 85, 3000)
    ref = curve.geohash8(lon, lat)

    # Prefix-trie: equal 4-char prefixes iff equal 20-bit truncated bins.
    z20 = (curve._spread20(curve._bin20(lon, -180.0, 360.0)) << 1) | curve._spread20(
        curve._bin20(lat, -90.0, 180.0)
    )
    pre = np.array([s[:4] for s in ref])
    by_bits = {}
    for p, b in zip(pre.tolist(), (z20 >> 20).tolist()):
        by_bits.setdefault(b, set()).add(p)
    assert all(len(s) == 1 for s in by_bits.values())

    # Column parity.
    sdf = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    got_col = [
        r["gh"] for r in curve.with_geohash8(sdf, F.col("lon"), F.col("lat"), "gh").collect()
    ]
    assert got_col == ref.tolist()

    # DuckDB twin parity.
    duckdb.register("ghp", pd.DataFrame({"lon": lon, "lat": lat}))
    q = (
        f"with z as (select {curve.geohash_z_sql('lon', 'lat')} as z from ghp) "
        f"select {curve.geohash_chars_sql('z')} as gh from z"
    )
    assert [r[0] for r in duckdb.sql(q).fetchall()] == ref.tolist()


# ----------------------------------------------------- z-order storage layout


def test_zorder_layout_prunes_partitions(spark, tmp_path):
    """The TIP walk-order analog on parquet: a bbox read of a z-order-
    partitioned dataset must OPEN only the partitions whose Morton
    prefix intersects the bbox — partition pruning as the storage-level
    spatial index."""
    import numpy as np
    from pyspark.sql import functions as F
    from geodesk_spark.sources import layout

    rng = np.random.default_rng(31)
    n = 20_000
    xs = rng.integers(-(1 << 30), 1 << 30, n)
    ys = rng.integers(-(1 << 30), 1 << 30, n)
    df = spark.createDataFrame(
        [(int(i), int(xs[i]), int(ys[i])) for i in range(n)],
        "pid long, x long, y long",
    )
    path = str(tmp_path / "zorded")
    layout.write_zordered(df, path, zoom=3)

    bbox = (0, 0, (1 << 28), (1 << 28))  # well inside one zoom-3 cell
    ds = spark.read.parquet(path)
    pruned = ds.filter(layout.bbox_partition_filter(bbox, zoom=3)).filter(
        (F.col("x") >= bbox[0]) & (F.col("x") <= bbox[2])
        & (F.col("y") >= bbox[1]) & (F.col("y") <= bbox[3])
    )
    full_files = len(ds.inputFiles())
    assert full_files >= 16  # data spans 16 populated zoom-3 cells
    # Catalyst pushes the prefix IN-list into the scan's PartitionFilters
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "z3" in plan
    # execution touches exactly the ONE matching partition's file(s)
    touched = {r[0] for r in pruned.select(F.input_file_name()).distinct().collect()}
    assert len(touched) == 1
    # pruning must not change the answer
    brute = {int(i) for i in range(n)
             if 0 <= xs[i] <= (1 << 28) and 0 <= ys[i] <= (1 << 28)}
    got = {r["pid"] for r in pruned.collect()}
    assert got == brute and len(brute) > 50


def test_str_pack_cells_invariants(spark):
    """STR packing invariants vs a direct numpy computation: balanced
    cells (ntile sizes), non-overlapping slice x-ranges, and in-slice
    y-ordering — on a SKEWED field (80% of points in one hot corner),
    where the fixed Morton grid would leave most cells empty."""
    import numpy as np
    from geodesk_spark.sources import layout

    rng = np.random.default_rng(17)
    n = 4_000
    hot = rng.integers(0, 1 << 24, (int(n * 0.8), 2))
    cold = rng.integers(-(1 << 30), 1 << 30, (n - len(hot), 2))
    pts = np.vstack([hot, cold])
    df = spark.createDataFrame(
        [(int(i), int(pts[i, 0]), int(pts[i, 1])) for i in range(n)],
        "id long, x long, y long",
    )
    nx = ny = 4
    rows = layout.with_str_cells(df, nx, ny, id_col="id").collect()
    assert len(rows) == n
    # direct: argsort by (x, id) → slices; within slice by (y, id)
    order = sorted(range(n), key=lambda i: (int(pts[i, 0]), i))
    base, extra = divmod(n, nx)
    exp_sx = {}
    pos = 0
    for s in range(1, nx + 1):
        size = base + (1 if s <= extra else 0)
        for i in order[pos:pos + size]:
            exp_sx[i] = s
        pos += size
    for r in rows:
        assert exp_sx[r["id"]] == r["sx"], r
    # balanced: every cell within one row of n/(nx*ny)
    from collections import Counter
    sizes = Counter((r["sx"], r["sy"]) for r in rows)
    assert len(sizes) == nx * ny
    assert max(sizes.values()) - min(sizes.values()) <= 1
    # slice x-ranges may touch only at ties
    slice_x = {}
    for r in rows:
        lo, hi = slice_x.get(r["sx"], (None, None))
        x = r["x"]
        slice_x[r["sx"]] = (x if lo is None else min(lo, x),
                            x if hi is None else max(hi, x))
    for s in range(1, nx):
        assert slice_x[s][1] <= slice_x[s + 1][0] + 1  # ties allowed
    # within a slice, sy respects y order the same way
    for s in range(1, nx + 1):
        cell_rows = sorted(
            (r for r in rows if r["sx"] == s), key=lambda r: (r["y"], r["id"])
        )
        seen = [r["sy"] for r in cell_rows]
        assert seen == sorted(seen)


def test_write_str_packed_balances_skew(spark, tmp_path):
    """The sampled write path must split a hot-corner field into
    near-equal files (the whole point vs the fixed grid) and a bbox
    read over the cold region must SKIP the hot cells' files."""
    import numpy as np
    from pyspark.sql import functions as F
    from geodesk_spark.sources import layout

    rng = np.random.default_rng(23)
    n = 20_000
    hot = rng.integers(0, 1 << 20, (int(n * 0.8), 2))
    cold = rng.integers(-(1 << 30), 1 << 30, (n - len(hot), 2))
    pts = np.vstack([hot, cold])
    df = spark.createDataFrame(
        [(int(i), int(pts[i, 0]), int(pts[i, 1])) for i in range(n)],
        "id long, x long, y long",
    )
    path = str(tmp_path / "strpack")
    layout.write_str_packed(df, path, nx=4, ny=4)
    ds = spark.read.parquet(path)
    assert ds.count() == n
    sizes = {r["str_cell"]: r["n"] for r in
             ds.groupBy("str_cell").agg(F.count("*").alias("n")).collect()}
    assert len(sizes) == 16
    # approx quantile boundaries: no cell more than ~2x the mean
    assert max(sizes.values()) <= 2 * (n / 16)
    # per-cell min/max stats act as R-tree rects: a far-corner bbox
    # intersects only a few cells' rects
    stats = ds.groupBy("str_cell").agg(
        F.min("x").alias("minx"), F.max("x").alias("maxx"),
        F.min("y").alias("miny"), F.max("y").alias("maxy"),
    ).collect()
    qx0, qy0, qx1, qy1 = -(1 << 30), -(1 << 30), -(1 << 29), -(1 << 29)
    touching = [r["str_cell"] for r in stats
                if r["minx"] <= qx1 and r["maxx"] >= qx0
                and r["miny"] <= qy1 and r["maxy"] >= qy0]
    assert 0 < len(touching) <= 4
    got = ds.filter(F.col("str_cell").isin(touching)).filter(
        (F.col("x") >= qx0) & (F.col("x") <= qx1)
        & (F.col("y") >= qy0) & (F.col("y") <= qy1)
    )
    brute = {int(i) for i in range(n)
             if qx0 <= pts[i, 0] <= qx1 and qy0 <= pts[i, 1] <= qy1}
    assert {r["id"] for r in got.collect()} == brute and len(brute) > 100


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Co-located storage: two tables bucketed on the same key join
    with NO Exchange in the plan — the bucketing replaces the shuffle."""
    import numpy as np
    from pyspark.sql import functions as F
    from geodesk_spark.sources import layout

    a = spark.range(0, 20_000).select(
        (F.col("id") % 500).alias("tile"), F.col("id").alias("pid")
    )
    b = spark.range(0, 5_000).select(
        (F.col("id") % 500).alias("tile"), (F.col("id") * 3).alias("w")
    )
    layout.write_bucketed(a, "bk_a", "tile", 8)
    layout.write_bucketed(b, "bk_b", "tile", 8)
    try:
        ta, tb = spark.table("bk_a"), spark.table("bk_b")
        joined = ta.join(tb.hint("merge"), "tile")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        # and the co-located join still computes the right thing
        n = joined.count()
        assert n == 20_000 * 10  # each pid meets 5000/500 = 10 w rows
    finally:
        spark.sql("drop table if exists bk_a")
        spark.sql("drop table if exists bk_b")


def test_tile_intersection_reference_semantics():
    """Tile.intersection (Tile.java:344-356): clamp to the tile box;
    disjoint inputs yield an inverted (empty) box exactly like the
    reference's Box result."""
    t = int(T.from_col_row_zoom(5, 9, 7)[()])
    ext = 1 << (32 - 7)
    lx = int(T.left_x(t)[()]); by = int(T.bottom_y(t)[()])
    # bounds wholly containing the tile -> the tile box itself
    got = T.intersection(t, lx - 10, by - 10, lx + ext + 10, by + ext + 10)
    assert tuple(int(v[()] if hasattr(v, "shape") else v) for v in got) == (
        lx, by, lx + ext - 1, by + ext - 1)
    # bounds inside the tile -> the bounds
    got = T.intersection(t, lx + 5, by + 6, lx + 7, by + 8)
    assert tuple(int(v) for v in got) == (lx + 5, by + 6, lx + 7, by + 8)
    # disjoint -> inverted box (min > max), reference's empty contract
    got = T.intersection(t, lx - 100, by - 100, lx - 50, by - 50)
    assert int(got[0]) > int(got[2]) and int(got[1]) > int(got[3])


def test_quadkey_bing_semantics(spark):
    """Known Bing example (col=3, row=5, z=3 -> '213'), prefix-ancestor
    property, and numpy/Column/SQL three-way parity."""
    t = int(T.from_col_row_zoom(3, 5, 3)[()])
    assert T.quadkey(t)[()] == "213"
    # prefix property: parent's quadkey is the child's prefix
    child = int(T.from_col_row_zoom(13, 21, 5)[()])
    parent = int(T.zoomed_out(child, 3)[()])
    assert str(T.quadkey(child)[()]).startswith(str(T.quadkey(parent)[()]))
    # three-way parity on a batch
    rng = np.random.default_rng(4)
    z = 8
    cols = rng.integers(0, 1 << z, 50)
    rows_ = rng.integers(0, 1 << z, 50)
    tiles = T.from_col_row_zoom(cols, rows_, z)
    exp = list(T.quadkey(tiles))
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(int(t),) for t in tiles], "tile int")
    got_col = [r["qk"] for r in df.select(T.quadkey_col(F.col("tile"), z).alias("qk")).collect()]
    assert got_col == exp
    sql = T.quadkey_sql("tile % 4096", "cast(floor(tile / 4096) as int) % 4096", z)
    got_sql = [r["qk"] for r in df.selectExpr(f"{sql} as qk").collect()]
    assert got_sql == exp
