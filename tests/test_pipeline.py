"""Checkpoint/resume + lineage, tile sink, skew handling, image codec."""

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from geodesk_spark import codec
from geodesk_spark.operators import images, skew, tiles_sink, tiling
from geodesk_spark.sources import synth
from geodesk_spark.streaming.checkpoint import Pipeline


@pytest.fixture(scope="module")
def pts(spark):
    df = synth.images_df(spark, 30_000, with_bytes=False, partitions=8)
    df = tiling.with_point_tiles(tiling.with_imp_coords(df)).cache()
    yield df
    df.unpersist()


def test_checkpoint_resume(spark, tmp_path, pts):
    root = str(tmp_path / "pipe")
    calls = {"a": 0, "b": 0}

    def stage_a(s):
        calls["a"] += 1
        return pts.select("image_id", "x", "y", "tile_z8")

    p = Pipeline(spark, root)
    a1 = p.stage("encode", stage_a)
    assert calls["a"] == 1

    def stage_b(s):
        calls["b"] += 1
        return p.read("encode").groupBy("tile_z8").agg(F.count("*").alias("n"))

    b1 = p.stage("rollup", stage_b, inputs=["encode"])
    n_tiles = b1.count()
    assert calls["b"] == 1

    # Resume: a fresh Pipeline must not recompute committed stages.
    p2 = Pipeline(spark, root)
    a2 = p2.stage("encode", stage_a)
    b2 = p2.stage("rollup", stage_b, inputs=["encode"])
    assert calls["a"] == 1 and calls["b"] == 1
    assert b2.count() == n_tiles

    # Lineage manifest: per-partition rows sum to total, throughput recorded.
    lin = p2.lineage("rollup")
    assert lin["n_rows"] == n_tiles
    assert sum(part["rows"] for part in lin["partitions"]) == n_tiles
    assert lin["rows_per_sec"] > 0
    assert lin["inputs"] == ["encode"]

    # Invalidate → stage recomputes.
    p2.invalidate("rollup")
    p2.stage("rollup", stage_b, inputs=["encode"])
    assert calls["b"] == 2


def test_tile_sink(spark, tmp_path, pts):
    out = str(tmp_path / "tiles")
    manifest = tiles_sink.render_tiles(pts.limit(5000), out).toPandas()
    assert len(manifest) > 3
    assert manifest["n_points"].sum() == 5000
    row = manifest.iloc[0]
    px = codec.decode(open(row["raster_path"], "rb").read())
    assert px.shape == (256, 256, 3)
    gj = json.load(open(row["vector_path"]))
    assert gj["type"] == "FeatureCollection"
    assert len(gj["features"]) == row["n_points"]
    lon, lat = gj["features"][0]["geometry"]["coordinates"]
    assert -180 <= lon <= 180 and -86 <= lat <= 86


def test_leaflet_page(spark, tmp_path, pts):
    """MapMaker HTML surface (util/MapMaker.java:272-330): the page must
    reference every manifest tile's raster and fit the union bounds."""
    out = str(tmp_path / "tiles")
    manifest = tiles_sink.render_tiles(pts.limit(5000), out).toPandas()
    path = tiles_sink.write_leaflet_page(manifest, out)
    html = open(path).read()
    assert html.startswith("<html><head>")
    assert "leaflet.js" in html and "L.TileLayer" in html
    assert "map.fitBounds([" in html and "L.control.scale()" in html
    for _, m in manifest.iterrows():
        assert f"{int(m['zoom'])}/{int(m['col'])}/{int(m['row'])}.png" in html
    assert html.count("L.imageOverlay(") == len(manifest)


def test_leaflet_markers(tmp_path):
    """Marker surface parity (util/Marker.java:22-153): point/line/
    polygon stubs, options object, tooltip binding, click-url handler."""
    import pandas as pd

    out = str(tmp_path / "m")
    markers = [
        {"kind": "point", "coords": (0, 0), "tooltip": 'City "A"', "url": "https://example.org/a"},
        {"kind": "line", "coords": [(0, 0), (1000, 2000)], "options": {"color": "#3388ff"}},
        {"kind": "polygon", "coords": [[(0, 0), (5000, 0), (5000, 5000), (0, 0)],
                                       [(1000, 1000), (2000, 1000), (1000, 2000), (1000, 1000)]]},
    ]
    path = tiles_sink.write_leaflet_page(pd.DataFrame(), out, markers=markers)
    html = open(path).read()
    assert "L.circle([" in html and "L.polyline([" in html and "L.polygon([[" in html
    assert '.bindTooltip("City \\"A\\"")' in html  # JS-escaped tooltip
    assert "window.location=\"https://example.org/a\"" in html.replace("'", '"') or \
        'window.location="https://example.org/a"' in html
    assert '{"color": "#3388ff"}' in html
    assert html.count(".addTo(map);") == 4  # 3 markers + L.control.scale
    assert "map.fitBounds([" in html  # markers alone drive the bounds


def test_adaptive_cell_split(spark, pts):
    out = skew.adaptive_cell_split(pts, max_rows_per_cell=2000, base_zoom=8)
    hist = out.groupBy("cell_adaptive").agg(F.count("*").alias("n")).toPandas()
    # Hot city cells got split to deeper zooms; every z8-resident cell obeys
    # the cap (cells at max_zoom may still exceed it — the irreducible core).
    from geodesk_spark.geo import tile as T

    zooms = T.zoom_of(hist["cell_adaptive"].to_numpy())
    at_base = hist[zooms == 8]
    assert (at_base["n"] <= 2000).all()
    assert (zooms > 8).any()  # something actually split
    # splitting preserved rows
    assert hist["n"].sum() == pts.count()


def test_salt_hot_tiles(spark, pts):
    salted = skew.salt_hot_tiles(pts, "tile_z4", rows_per_partition=1000)
    grp = salted.groupBy("tile_z4", "salt").agg(F.count("*").alias("n")).toPandas()
    assert salted.count() == pts.count()
    # hottest (tile, salt) group is far below the hottest raw tile
    raw = pts.groupBy("tile_z4").agg(F.count("*").alias("n")).toPandas()
    assert grp["n"].max() < raw["n"].max() / 2


def test_image_roundtrip_invariants(spark):
    df = synth.images_df(spark, 200, with_bytes=True, partitions=4)
    stats = images.decode_stats(df).toPandas()
    assert (stats["psnr_db"] >= 40).all()  # lossy path ≥ 40 dB (BASELINE invariant)
    assert stats["phash_ok"].all()
    # caption equality invariant: regenerate captions deterministically
    got = df.select("image_id", "caption").toPandas()
    ids = got["image_id"].str.replace("img", "").astype(np.int64).to_numpy()
    expect = synth.captions_for_ids(ids)
    assert (got["caption"].to_numpy() == expect).all()


def test_resize(spark):
    df = synth.images_df(spark, 50, with_bytes=True, partitions=2)
    out = images.resize(df, 16, 16).toPandas()
    assert (out["w"] == 16).all() and (out["h"] == 16).all()
    px = codec.decode(out["bytes"].iloc[0])
    assert px.shape == (16, 16, 3)


def test_audio_features(spark):
    """PCM audio features == straight numpy on the same buffers."""
    import numpy as np
    import pandas as pd

    from geodesk_spark.operators import images

    rng = np.random.default_rng(3)
    rows = []
    rates = [16_000, 22_050, 8_000]
    for i in range(12):
        sr = rates[i % 3]  # mixed sample rates — per-row sr must win
        t = np.arange(sr // 2 + i * 1000)
        tone = np.sin(2 * np.pi * (110 + 50 * i) * t / sr)
        if i % 3 == 0:
            tone[: len(tone) // 2] = 0.0  # half-silent clips
        pcm = (tone * (0.1 + 0.05 * i) * 32767).astype(np.int16)
        rows.append((f"a{i}", pcm.tobytes(), sr, len(pcm)))
    df = spark.createDataFrame(rows, "audio_id string, bytes binary, sr int, n_samples int")
    got = images.audio_features(df).toPandas().set_index("audio_id").sort_index()
    for i in range(12):
        pcm = np.frombuffer(rows[i][1], dtype=np.int16).astype(np.float64) / 32768.0
        r = got.loc[f"a{i}"]
        assert abs(r["duration_s"] - len(pcm) / rates[i % 3]) < 1e-9
        assert abs(r["rms"] - np.sqrt(np.mean(pcm**2))) < 1e-12
        assert abs(r["zcr"] - np.mean(np.signbit(pcm[1:]) != np.signbit(pcm[:-1]))) < 1e-12
        assert r["frame_energy_var"] >= 0


def test_snapshot_time_travel(spark, tmp_path):
    """Invalidate starts a new version; the old snapshot stays readable
    by snapshot_id (Iceberg time-travel analog of the double-snapshot
    store, FreeStore.java:30-61)."""
    from geodesk_spark.streaming.checkpoint import Pipeline

    root = str(tmp_path / "tt")
    p = Pipeline(spark, root)
    p.stage("nums", lambda s: s.range(10).withColumnRenamed("id", "n"))
    first = p.snapshots()[-1]
    assert first["stage"] == "nums" and first["snapshot_id"] == 1

    p.invalidate("nums")
    assert not p.is_done("nums")
    p.stage("nums", lambda s: s.range(100).withColumnRenamed("id", "n"))
    assert p.read("nums").count() == 100            # current version
    assert p.read("nums", snapshot_id=1).count() == 10   # time travel
    log = p.snapshots()
    assert [e["snapshot_id"] for e in log] == [1, 2]
    assert log[1]["version"] == 2

    # a fresh Pipeline over the same root resumes the LATEST version
    p2 = Pipeline(spark, root)
    assert p2.is_done("nums") and p2.read("nums").count() == 100


def test_incremental_append_stages(spark, tmp_path):
    """append_stage commits per-batch snapshots; read_incremental(since)
    returns exactly the later batches (start-snapshot-id semantics)."""
    from geodesk_spark.streaming.checkpoint import Pipeline

    p = Pipeline(spark, str(tmp_path / "inc"))
    s1 = p.append_stage("ingest", lambda s: s.range(0, 50).withColumnRenamed("id", "n"))
    s2 = p.append_stage("ingest", lambda s: s.range(50, 80).withColumnRenamed("id", "n"))
    assert p.read_all("ingest").count() == 80
    inc = p.read_incremental("ingest", since_snapshot_id=s1)
    got = sorted(r["n"] for r in inc.collect())
    assert got == list(range(50, 80))
    assert p.read_incremental("ingest", since_snapshot_id=s2).count() == 0


def test_read_and_guards_on_append_stages(spark, tmp_path):
    from geodesk_spark.streaming.checkpoint import Pipeline

    p = Pipeline(spark, str(tmp_path / "g"))
    import pytest as _pt

    with _pt.raises(ValueError, match="no committed snapshot"):
        p.read("never_ran")
    p.append_stage("ing", lambda s: s.range(5))
    p.append_stage("ing", lambda s: s.range(5, 9))
    # read() on an append stage = full table (Iceberg read semantics)
    assert p.read("ing").count() == 9
    with _pt.raises(ValueError, match="append stage"):
        p.stage("ing", lambda s: s.range(1))
    # reverse guard: appending to a BATCH stage would silently flip
    # read() to read_all and union old + new (r03 review)
    p.stage("batch", lambda s: s.range(3))
    with _pt.raises(ValueError, match="batch stage"):
        p.append_stage("batch", lambda s: s.range(3, 5))
    assert p.read("batch").count() == 3


def test_crash_between_write_and_log_is_invisible(spark, tmp_path):
    """The snapshot-log append is the single commit point: a version dir
    with _SUCCESS but no log entry (crash between the parquet write and
    the log append) must be invisible — is_done False, read() raises —
    and a re-run must supersede it cleanly (r03 review)."""
    import os

    from geodesk_spark.streaming.checkpoint import Pipeline

    root = str(tmp_path / "crash")
    p = Pipeline(spark, root)
    # simulate the crash: data written (with _SUCCESS) but never logged
    orphan = os.path.join(root, "st", "v1")
    spark.range(7).write.parquet(orphan)
    assert os.path.exists(os.path.join(orphan, "_SUCCESS"))
    assert not p.is_done("st")
    import pytest as _pt

    with _pt.raises(ValueError, match="no committed snapshot"):
        p.read("st")
    # re-run commits a fresh version and reads ONLY it
    out = p.stage("st", lambda s: s.range(4))
    assert out.count() == 4
    assert p.is_done("st")
    assert p.read("st").count() == 4
    assert p.lineage("st")["n_rows"] == 4


def test_merge_rollup_identity(spark):
    """merge(rollup(A), B) == rollup(A ∪ B) exactly, incl. keys only in
    the base, only in the delta, and decimal measures."""
    import numpy as np
    from pyspark.sql import functions as F

    from geodesk_spark.streaming import checkpoint

    rng = np.random.default_rng(9)
    rows = [
        (int(rng.integers(0, 12)), int(rng.integers(1, 100)))
        for _ in range(300)
    ]
    rows += [(100, 7)]          # key only in base slice
    rows += [(200, 8), (200, 9)]  # key only in delta slice
    df_i = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(rows)], "i long, k long, v long"
    )
    base = df_i.filter((F.col("v") % 3 != 0) & (F.col("k") != 200))
    delta = df_i.join(base.select("i"), "i", "left_anti")
    sums = {"n": "1", "sv": "cast(v as decimal(18,2))"}
    base_roll = base.groupBy("k").agg(
        F.sum(F.expr("1")).alias("n"), F.sum(F.expr("cast(v as decimal(18,2))")).alias("sv")
    )
    merged = checkpoint.merge_rollup(base_roll, delta, ["k"], sums)
    got = {r["k"]: (r["n"], float(r["sv"])) for r in merged.collect()}
    full = df_i.groupBy("k").agg(
        F.count("*").alias("n"), F.sum(F.expr("cast(v as decimal(18,2))")).alias("sv")
    )
    exp = {r["k"]: (r["n"], float(r["sv"])) for r in full.collect()}
    assert got == exp


def test_file_stats_and_pruned_read(spark, tmp_path):
    """Iceberg manifest-pruning analog: a range-sorted stage records
    per-file min/max in the lineage manifest; read_pruned opens only the
    overlapping files and equals the plain filter exactly."""
    from pyspark.sql import functions as F

    from geodesk_spark.streaming.checkpoint import Pipeline

    p = Pipeline(spark, str(tmp_path / "pr"))

    def build(s):
        df = s.range(10_000).select(
            F.col("id").alias("k"), (F.col("id") * 3 % 997).alias("v")
        )
        return df.repartitionByRange(8, "k")

    p.stage("pts", build)
    lin = p.lineage("pts")
    assert len(lin["partitions"]) == 8
    for part in lin["partitions"]:
        assert "k" in part["stats"] and "v" in part["stats"]
        assert part["bytes"] > 0
    # range-sorted ⇒ disjoint file ranges ⇒ a 10% slice touches ~1 file
    keep, total = p.pruned_files("pts", "k", 2000, 2900)
    assert total == 8 and 1 <= len(keep) <= 2

    got = sorted(r["k"] for r in p.read_pruned("pts", "k", 2000, 2900).collect())
    want = list(range(2000, 2901))
    assert got == want
    # empty range prunes everything but keeps the schema
    empty = p.read_pruned("pts", "k", -50, -10)
    assert empty.count() == 0 and empty.columns == ["k", "v"]
    # a column without recorded stats is conservatively unpruned
    keep_all, _ = p.pruned_files("pts", "nosuch", 0, 1)
    assert len(keep_all) == total


def test_merge_upsert_cow(spark, tmp_path):
    """merge_upsert = MERGE INTO (matched→replace, unmatched→insert) as
    a copy-on-write commit: only key-overlapping files are rewritten,
    the rest are hard-linked; the old snapshot time-travels intact."""
    import os

    from pyspark.sql import functions as F

    from geodesk_spark.streaming.checkpoint import Pipeline

    p = Pipeline(spark, str(tmp_path / "mu"))
    p.stage(
        "tbl",
        lambda s: s.range(8_000)
        .select(F.col("id").alias("k"), (F.col("id") % 100).alias("v"))
        .repartitionByRange(8, "k"),
    )
    old_sid = p.snapshots()[-1]["snapshot_id"]
    old_parts = {part["file"] for part in p.lineage("tbl")["partitions"]}

    # updates confined to k ∈ [7000, 8499]: replaces 7000-7999, inserts 8000-8499
    upd = spark.range(7_000, 8_500).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    p.merge_upsert("tbl", upd, keys=["k"])

    lin = p.lineage("tbl")
    assert lin["action"] == "merge_upsert"
    assert lin["n_rows"] == 8_500
    # CoW: at most 2 of the 8 range-sorted files overlap the update range
    assert 1 <= len(lin["rewrote_files"]) <= 2
    assert lin["kept_files"] >= 6

    cur = p.read("tbl")
    assert cur.count() == 8_500
    assert cur.filter((F.col("k") >= 7_000) & (F.col("v") != -1)).count() == 0
    assert cur.filter((F.col("k") < 7_000) & (F.col("v") == -1)).count() == 0
    assert (
        cur.filter(F.col("k") < 7_000).agg(F.sum("v")).collect()[0][0]
        == sum(i % 100 for i in range(7_000))
    )
    # kept files are hard links (same inode), not copies
    vd_old = p._version_dir("tbl", 1)
    vd_new = p._version_dir("tbl", 2)
    kept_rel = old_parts - set(lin["rewrote_files"])
    assert kept_rel
    for rel in kept_rel:
        assert (
            os.stat(os.path.join(vd_old, rel)).st_ino
            == os.stat(os.path.join(vd_new, rel)).st_ino
        )
    # time travel: the pre-merge snapshot is unchanged
    assert p.read("tbl", snapshot_id=old_sid).count() == 8_000

    # guards
    import pytest as _pt

    with _pt.raises(ValueError, match="columns"):
        p.merge_upsert("tbl", upd.select("k"), keys=["k"])
    p.append_stage("ap", lambda s: s.range(3))
    with _pt.raises(ValueError, match="append stage"):
        p.merge_upsert("ap", upd, keys=["k"])


def test_merge_upsert_file_probe_is_local(spark, tmp_path):
    """merge_upsert's per-file key ranges reach its probe join as a
    LocalRelation built from pandas, never a Scan ExistingRDD (which
    costs a Spark job of its own), and the probe finds exactly the
    files whose [min, max] holds an update key."""
    from pyspark.sql import functions as F

    from geodesk_spark.streaming import checkpoint as cp
    from geodesk_spark.streaming.checkpoint import Pipeline
    from planlint import plan_nodes

    p = Pipeline(spark, str(tmp_path / "mu"))
    p.stage(
        "tbl",
        lambda s: s.range(4_000)
        .select(F.col("id").alias("k"), (F.col("id") % 10).alias("v"))
        .repartitionByRange(4, "k"),
    )
    parts = p.lineage("tbl")["partitions"]
    upd = spark.range(3_990, 4_010).select(F.col("id").alias("k"))
    probe = cp._key_range_hits(spark, parts, upd, "k")
    nodes = plan_nodes(probe)
    assert "LocalTableScan" in nodes and "Scan ExistingRDD" not in nodes, nodes
    want = {part["file"] for part in parts if part["stats"]["k"][1] >= 3_990}
    assert {r["file"] for r in probe.collect()} == want and len(want) == 1


def test_compact_binpack(spark, tmp_path):
    """compact bin-packs sub-target files into few packed files, links
    the right-sized ones untouched, and preserves the rows exactly."""
    import os

    from pyspark.sql import functions as F

    from geodesk_spark.streaming.checkpoint import Pipeline

    p = Pipeline(spark, str(tmp_path / "cp"))

    # the incremental-append shape: 15 tiny files + 1 right-sized one
    def build(s):
        tiny = (
            s.range(150)
            .select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
            .repartition(15)
        )
        big = (
            s.range(150, 4_000)
            .select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
            .coalesce(1)
        )
        return tiny.unionAll(big)

    p.stage("tbl", build)
    before = p.lineage("tbl")["partitions"]
    assert len(before) == 16
    big_rel = max(before, key=lambda part: part["bytes"])["file"]
    big_bytes = max(part["bytes"] for part in before)

    # threshold chosen so exactly the one right-sized file is "kept"
    sid = p.compact("tbl", target_bytes=big_bytes)
    assert sid is not None
    lin = p.lineage("tbl")
    assert lin["action"] == "compact"
    assert lin["kept_files"] == 1 and lin["packed_files"] == 15
    assert len(lin["partitions"]) <= 4  # 1 linked + a few packed
    assert lin["n_rows"] == 4_000
    # the kept file is a hard link
    assert (
        os.stat(os.path.join(p._version_dir("tbl", 1), big_rel)).st_ino
        == os.stat(os.path.join(p._version_dir("tbl", 2), big_rel)).st_ino
    )
    # rows identical
    got = p.read("tbl").agg(F.sum("k"), F.sum("v")).collect()[0]
    assert got[0] == sum(range(4_000)) and got[1] == sum(i % 7 for i in range(4_000))
    # idempotence: everything now ≥ threshold − nothing to pack
    assert p.compact("tbl", target_bytes=1) is None


def test_expire_snapshots(spark, tmp_path):
    """expire_snapshots keeps the newest versions, deletes the old dirs,
    and CoW-shared files survive through their links in live versions
    (the filesystem is the reachability counter)."""
    import os

    from pyspark.sql import functions as F

    from geodesk_spark.streaming.checkpoint import Pipeline

    p = Pipeline(spark, str(tmp_path / "ex"))
    p.stage(
        "tbl",
        lambda s: s.range(6_000)
        .select(F.col("id").alias("k"), (F.col("id") % 11).alias("v"))
        .repartitionByRange(8, "k"),
    )
    sid1 = p.snapshots()[-1]["snapshot_id"]
    upd = spark.range(5_900, 6_100).select(
        F.col("id").alias("k"), F.lit(-3).cast("long").alias("v")
    )
    p.merge_upsert("tbl", upd, keys=["k"])  # v2 links most v1 files

    expired = p.expire_snapshots("tbl", keep_last=1)
    assert expired == [sid1]
    assert not os.path.exists(p._version_dir("tbl", 1))
    # live version reads fine through its own hard links
    cur = p.read("tbl")
    assert cur.count() == 6_100
    assert cur.filter(F.col("v") == -3).count() == 200
    import pytest as _pt

    with _pt.raises(ValueError, match="expired"):
        p.read("tbl", snapshot_id=sid1)
    # idempotent; append stages refuse
    assert p.expire_snapshots("tbl", keep_last=1) == []
    p.append_stage("ap", lambda s: s.range(3))
    with _pt.raises(ValueError, match="append stage"):
        p.expire_snapshots("ap")


def test_mosaic_tiles(spark, tmp_path):
    """Per-tile mosaic: manifest counts match brute-force, each grid cell
    is the NN-thumbnail of the expected image (PSNR ≥ 40 vs regenerated
    source pixels), empty cells stay black, and the window + compose
    share ONE exchange on the tile key."""
    df = synth.images_df(spark, 2_000, with_bytes=True, partitions=6)
    df = tiling.with_point_tiles(tiling.with_imp_coords(df))
    out = str(tmp_path / "mos")
    man = tiles_sink.mosaic_tiles(df, out, tile_col="tile_z4", grid=2, thumb_px=32)
    # one exchange: the rank window and the applyInPandas group co-key
    plan = man._sc._jvm.PythonSQLUtils.explainString(
        man._jdf.queryExecution(), "formatted"
    )
    assert plan.count("+- Exchange") == 1
    pman = man.toPandas().set_index("tile")

    brute = (
        df.groupBy("tile_z4").agg(F.count("*").alias("n")).toPandas().set_index("tile_z4")
    )
    assert len(pman) == len(brute)
    for tile, row in pman.iterrows():
        assert row["n_in_tile"] == brute.loc[tile, "n"]
        assert row["n_selected"] == min(4, row["n_in_tile"])
        assert row["mosaic_w"] == 64 and row["mosaic_h"] == 64

    # golden-check the densest tile's pixels
    tile = int(brute["n"].idxmax())
    row = pman.loc[tile]
    mosaic = codec.decode(open(row["path"], "rb").read())
    assert mosaic.shape == (64, 64, 3)
    chosen = (
        df.filter(F.col("tile_z4") == tile)
        .select("image_id", "w", "h")
        .toPandas()
        .sort_values("image_id")
        .head(4)
    )
    for i in range(len(chosen)):
        iid, w, h = chosen.iloc[i]["image_id"], int(chosen.iloc[i]["w"]), int(chosen.iloc[i]["h"])
        src = codec.synth_pixels(iid, w, h)
        yi = (np.arange(32) * h) // 32
        xi = (np.arange(32) * w) // 32
        want = src[yi][:, xi]
        got = mosaic[(i // 2) * 32 : (i // 2 + 1) * 32, (i % 2) * 32 : (i % 2 + 1) * 32]
        assert codec.psnr(want, got) >= 40
    for i in range(len(chosen), 4):
        got = mosaic[(i // 2) * 32 : (i // 2 + 1) * 32, (i % 2) * 32 : (i % 2 + 1) * 32]
        assert (got == 0).all()


def test_sharpness_numpy_parity_and_blur_law(spark):
    """sharpness == direct numpy Laplacian variance on the synth pixels,
    and a box-blurred copy scores strictly lower than the original."""
    from geodesk_spark import codec
    from geodesk_spark.operators import images as im
    from geodesk_spark.sources import synth

    df = synth.images_df(spark, 24, with_bytes=True)
    got = {r["image_id"]: r["sharpness"] for r in im.sharpness(df).collect()}
    rows = df.select("image_id", "bytes", "w", "h").collect()
    assert len(got) == 24
    for r in rows:
        px = codec.decode(bytes(r["bytes"]))
        L = (px[..., 0] * 299.0 + px[..., 1] * 587.0 + px[..., 2] * 114.0) / 1000.0
        lap = (
            4.0 * L[1:-1, 1:-1] - L[:-2, 1:-1] - L[2:, 1:-1] - L[1:-1, :-2] - L[1:-1, 2:]
        )
        assert got[r["image_id"]] == pytest.approx(float(lap.var()), rel=1e-12)
        # blur law: 3x3 box mean smooths the luma -> lower Laplacian variance
        k = np.ones((3, 3)) / 9.0
        Lb = np.zeros_like(L)
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                Lb += np.roll(np.roll(L, dy, axis=0), dx, axis=1)
        Lb /= 9.0
        lb = (
            4.0 * Lb[1:-1, 1:-1] - Lb[:-2, 1:-1] - Lb[2:, 1:-1] - Lb[1:-1, :-2] - Lb[1:-1, 2:]
        )
        assert float(lb.var()) < float(lap.var())


def test_diff_rollup_all_statuses(spark):
    """added / removed / changed / same, exact measure compare, nulls on
    the absent side."""
    from pyspark.sql import functions as F  # noqa: F811

    from geodesk_spark.streaming import checkpoint

    old = spark.createDataFrame(
        [(1, 5, 10), (2, 3, 6), (3, 1, 2)], "tile long, n long, sv long"
    )
    new = spark.createDataFrame(
        [(1, 5, 10), (2, 4, 8), (4, 2, 4)], "tile long, n long, sv long"
    )
    got = {
        r["tile"]: (r["status"], r["n_old"], r["n_new"], r["sv_old"], r["sv_new"])
        for r in checkpoint.diff_rollup(old, new, ["tile"], ["n", "sv"]).collect()
    }
    assert got == {
        1: ("same", 5, 5, 10, 10),
        2: ("changed", 3, 4, 6, 8),
        3: ("removed", 1, None, 2, None),
        4: ("added", None, 2, None, 4),
    }
    # dirty-set consumer view: only non-same keys need re-rendering
    dirty = sorted(k for k, v in got.items() if v[0] != "same")
    assert dirty == [2, 3, 4]


def test_diff_rollup_null_key_is_one_group(spark):
    """A null-keyed rollup group (nullable groupBy column) compares as
    ONE key — 'same'/'changed' — not a removed+added pair."""
    from geodesk_spark.streaming import checkpoint

    old = spark.createDataFrame([(None, 3), (1, 1)], "k int, n long")
    new = spark.createDataFrame([(None, 4), (1, 1)], "k int, n long")
    got = {
        r["k"]: r["status"]
        for r in checkpoint.diff_rollup(old, new, ["k"], ["n"]).collect()
    }
    assert got == {None: "changed", 1: "same"}


def test_stream_image_ingest_flags_copies(spark):
    """Streaming pHash-on-arrival (driver query stream_image_ingest):
    every planted jpeg copy arrives flagged with its source as the
    match; fresh unseen images pass through unflagged."""
    from geodesk_spark.driver_queries.samples_images import _q_stream_image_ingest

    rows = _q_stream_image_ingest(spark, None).collect()
    copies = [r for r in rows if r.image_id.endswith("_d")]
    fresh = [r for r in rows if not r.image_id.endswith("_d")]
    assert len(copies) == 67 and len(fresh) == 60
    for r in copies:
        assert r.is_dup and r.match_id == r.image_id[:-2], r
        assert r.min_ham <= 4
    assert all(not r.is_dup and r.min_ham is None for r in fresh)


def test_augment_parity_involution_and_random_determinism(spark):
    """images.augment: byte-exact numpy parity per op, dims transform
    correctly (rot90 swaps, crop08 floors), hflip twice is the identity;
    augment_random picks the same op for the same (id, seed) on every
    run and spreads across the op set."""
    import numpy as np

    from geodesk_spark import codec
    from geodesk_spark.operators import images

    px = codec.synth_pixels("a", 50, 40)
    df = spark.createDataFrame(
        [("a", bytearray(codec.encode(px, "png")))], "image_id string, bytes binary"
    )
    want = {
        "hflip": px[:, ::-1],
        "vflip": px[::-1],
        "rot90": np.rot90(px),
        "crop08": px[4:36, 5:45],
    }
    for op, exp in want.items():
        row = images.augment(df, op).collect()[0]
        assert (row.h, row.w) == exp.shape[:2]
        assert np.array_equal(codec.decode(bytes(row.bytes)), exp), op
    # involution: hflip twice gives back the original bytes
    once = images.augment(df, "hflip")
    twice = images.augment(once.select("image_id", "bytes"), "hflip").collect()[0]
    assert np.array_equal(codec.decode(bytes(twice.bytes)), px)

    rows = [
        (f"im{i}", bytearray(codec.encode(codec.synth_pixels(f"im{i}", 32, 32), "png")))
        for i in range(24)
    ]
    big = spark.createDataFrame(rows, "image_id string, bytes binary")
    a = {r.image_id: r.aug_op for r in images.augment_random(big, seed=7).collect()}
    b = {r.image_id: r.aug_op for r in images.augment_random(big.repartition(6), seed=7).collect()}
    assert a == b  # deterministic, partitioning-independent
    assert len(set(a.values())) >= 3  # spreads across the op set
    c = {r.image_id: r.aug_op for r in images.augment_random(big, seed=8).collect()}
    assert a != c  # seed moves the assignment


def test_image_neardup_e2e_resolves_copies(spark):
    """The bytes→phash→banding→CC pipeline (driver query
    image_neardup_e2e): every planted jpeg-transcoded copy lands in the
    SAME component as its source (canonical ids match), and the
    canonical assignment is total (one row per image, no nulls)."""
    from geodesk_spark.driver_queries.samples_images import _q_image_neardup_e2e

    rows = _q_image_neardup_e2e(spark, None).collect()
    canon = {r.image_id: r.canonical_id for r in rows}
    assert len(rows) == 300 + 60 and all(v is not None for v in canon.values())
    dups = [i for i in canon if i.endswith("_d")]
    assert len(dups) == 60
    for d in dups:
        assert canon[d] == canon[d[:-2]], d


def test_transcode_idempotent_and_shape(spark):
    """images.transcode: jpeg→jpeg is byte-idempotent over the
    deterministic codec; png→jpeg changes bytes but preserves dims."""
    from geodesk_spark import codec
    from geodesk_spark.operators import images

    px = codec.synth_pixels("t", 40, 30)
    rows = [("p", bytearray(codec.encode(px, "png"))),
            ("j", bytearray(codec.encode(px, "jpeg")))]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    got = {r.image_id: bytes(r.bytes) for r in images.transcode(df, "jpeg").collect()}
    assert got["j"] == bytes(rows[1][1])  # idempotent
    assert got["p"] != bytes(rows[0][1])
    dec = codec.decode(got["p"])
    assert dec.shape == (30, 40, 3)
    # and a second jpeg pass is a fixed point of the first
    assert codec.encode(codec.decode(got["p"]), "jpeg") == got["p"]


def test_color_stats_parity_and_flat_law(spark):
    """images.color_stats: exact numpy parity on synthetic images; a
    constant image has luma_std 0 and entropy 0 bits; null/undecodable
    bytes emit NULL stats."""
    import numpy as np
    import pandas as pd

    from geodesk_spark import codec
    from geodesk_spark.operators import images

    rows, want = [], {}
    for i in range(4):
        iid = f"img_{i}"
        px = codec.synth_pixels(iid, 80 + 8 * i, 60 + 4 * i)
        rows.append((iid, bytearray(codec.encode(px, "png"))))
        f = px.astype(np.float64)
        luma = 0.299 * f[:, :, 0] + 0.587 * f[:, :, 1] + 0.114 * f[:, :, 2]
        bins = np.clip(np.floor(luma + 0.5), 0, 255).astype(np.intp)
        p = np.bincount(bins.ravel(), minlength=256)
        p = p[p > 0] / bins.size
        want[iid] = (
            px.shape[1], px.shape[0], *f.mean(axis=(0, 1)),
            luma.std(), float(-(p * np.log2(p)).sum()),
        )
    flat = np.full((20, 30, 3), 77, dtype=np.uint8)
    rows.append(("flat", bytearray(codec.encode(flat, "png"))))
    rows.append(("bad", bytearray(b"nope")))
    rows.append(("nul", None))
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    got = {r.image_id: r for r in images.color_stats(df).collect()}

    for iid, (w, h, r_, g_, b_, std, ent) in want.items():
        row = got[iid]
        assert (row.width, row.height) == (w, h)
        for name, val in [("r_mean", r_), ("g_mean", g_), ("b_mean", b_),
                          ("luma_std", std), ("entropy_bits", ent)]:
            assert getattr(row, name) == pytest.approx(val, abs=1e-12), name
    assert got["flat"].luma_std == 0.0 and got["flat"].entropy_bits == 0.0
    for iid in ("bad", "nul"):
        r = got[iid]
        assert r.width is None and r.r_mean is None and r.entropy_bits is None


def test_border_trim_padded_blank_and_degenerate(spark):
    """images.border_trim: exact trim counts on a constant-padded image
    (jpeg-requantized too — constants quantize to constants), is_blank
    on one-flat-color and on overlapping opposite-edge runs, noisy
    interiors untouched, NULL on undecodable."""
    import numpy as np

    from geodesk_spark import codec
    from geodesk_spark.operators import images

    px = codec.synth_pixels("core", 48, 36)
    padded = np.pad(px, ((5, 3), (7, 2), (0, 0)), constant_values=17)
    flat = np.full((16, 16, 3), 40, dtype=np.uint8)
    # opposite-edge overlap: 6 rows, 0-4 one flat color, row 5 another —
    # top run 5 + bottom run 1 meet → degenerate crop → blank
    twotone = np.full((6, 20, 3), 10, dtype=np.uint8)
    twotone[5] = 200
    rows = [
        ("padded", bytearray(codec.encode(padded, "png"))),
        ("padded_jpeg", bytearray(codec.encode(padded, "jpeg"))),
        ("noisy", bytearray(codec.encode(px, "png"))),
        ("flat", bytearray(codec.encode(flat, "png"))),
        ("twotone", bytearray(codec.encode(twotone, "png"))),
        ("nul", None),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    got = {r.image_id: r for r in images.border_trim(df).collect()}

    for iid in ("padded", "padded_jpeg"):
        r = got[iid]
        assert (r.trim_top, r.trim_bottom, r.trim_left, r.trim_right) == (5, 3, 7, 2)
        assert (r.row_lo, r.col_lo, r.crop_w, r.crop_h) == (5, 7, 48, 36)
        assert r.border_frac == pytest.approx(1 - 48 * 36 / (57 * 44))
        assert r.is_blank is False
    r = got["noisy"]
    assert (r.trim_top, r.trim_bottom, r.trim_left, r.trim_right) == (0, 0, 0, 0)
    assert r.border_frac == 0.0 and r.is_blank is False
    for iid in ("flat", "twotone"):
        r = got[iid]
        assert r.is_blank is True and r.border_frac == 1.0
        assert (r.trim_top, r.crop_w, r.crop_h) == (
            0,
            16 if iid == "flat" else 20,
            16 if iid == "flat" else 6,
        )
    assert got["nul"].crop_w is None and got["nul"].is_blank is None


def test_phash_compute_parity_and_robustness(spark):
    """images.phash_compute: exact numpy parity vs codec.phash_dct64,
    jpeg-requantized copies stay within a few Hamming bits (measured
    0-4 over the deterministic codec — well inside the banded-dedup
    radius), distinct images stay well separated (measured ≥14), and
    null/undecodable bytes hash NULL."""
    import pandas as pd

    from geodesk_spark import codec
    from geodesk_spark.operators import images

    ids = [f"img_{i}" for i in range(6)]
    rows = []
    for i, iid in enumerate(ids):
        px = codec.synth_pixels(iid, 96 + 8 * i, 72 + 4 * i)
        rows.append((iid, bytearray(codec.encode(px, "png"))))
        rows.append((iid + "_jpeg", bytearray(codec.encode(px, "jpeg"))))
    rows.append(("bad", bytearray(b"not an image")))
    rows.append(("nul", None))
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    got = {r.image_id: r.phash_dct for r in images.phash_compute(df).collect()}

    assert got["bad"] is None and got["nul"] is None

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    hams = []
    for i, iid in enumerate(ids):
        px = codec.synth_pixels(iid, 96 + 8 * i, 72 + 4 * i)
        assert got[iid] == codec.phash_dct64(px)  # exact numpy parity
        assert ham(got[iid + "_jpeg"], got[iid]) <= 6  # requantize-robust
        for other in ids[:i]:
            hams.append(ham(got[iid], got[other]))
    assert min(hams) >= 8  # distinct images stay well apart


def test_whash_compute_parity_and_robustness(spark):
    """images.whash_compute: exact numpy parity vs codec.whash64, an
    independent straight-loop Haar reimplementation agrees bit-for-bit,
    jpeg-requantized copies stay within the banded-dedup radius, and
    distinct images stay separated."""
    import numpy as np

    from geodesk_spark import codec
    from geodesk_spark.operators import images

    def whash_independent(px):
        gray = px.astype(np.float64).mean(axis=2)
        h, w = gray.shape
        g = np.zeros((32, 32))
        ys = [(i * h) // 32 for i in range(33)]
        xs = [(j * w) // 32 for j in range(33)]
        for i in range(32):
            for j in range(32):
                g[i, j] = gray[ys[i]:ys[i + 1], xs[j]:xs[j + 1]].mean()
        for _ in range(2):
            n = g.shape[0] // 2
            ll = np.zeros((n, n))
            for i in range(n):
                for j in range(n):
                    ll[i, j] = (
                        (g[2 * i, 2 * j] + g[2 * i, 2 * j + 1])
                        + (g[2 * i + 1, 2 * j] + g[2 * i + 1, 2 * j + 1])
                    ) / 4.0
            g = ll
        bits = g.reshape(-1) > np.median(g.reshape(-1))
        v = 0
        for b in bits:
            v = (v << 1) | int(b)
        return v - (1 << 64) if v >= (1 << 63) else v

    # Structurally DISTINCT images (coarse random blocks): canonical
    # wHash hashes the Haar LL band, so the shared-ramp synth_pixels
    # corpus is wHash-degenerate by design (all ramps hash alike — that
    # is the operator's documented contrast-structure sensitivity, why
    # it complements rather than replaces pHash).  Block images carry
    # per-id LL structure, which is what wHash discriminates.
    def block_pixels(i, w, h):
        import zlib

        rng = np.random.default_rng(zlib.crc32(f"blk_{i}".encode()) & 0xFFFFFFFF)
        coarse = rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)
        return np.repeat(np.repeat(coarse, (h + 7) // 8, axis=0), (w + 7) // 8, axis=1)[
            :h, :w
        ]

    ids = [f"img_{i}" for i in range(6)]
    pxs = {iid: block_pixels(i, 96 + 8 * i, 72 + 4 * i) for i, iid in enumerate(ids)}
    rows = []
    for iid in ids:
        rows.append((iid, bytearray(codec.encode(pxs[iid], "png"))))
        rows.append((iid + "_jpeg", bytearray(codec.encode(pxs[iid], "jpeg"))))
    rows.append(("nul", None))
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    got = {r.image_id: r.whash_haar for r in images.whash_compute(df).collect()}

    assert got["nul"] is None

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    hams = []
    for i, iid in enumerate(ids):
        assert got[iid] == codec.whash64(pxs[iid]) == whash_independent(pxs[iid])
        assert ham(got[iid + "_jpeg"], got[iid]) <= 6  # requantize-robust
        for other in ids[:i]:
            hams.append(ham(got[iid], got[other]))
    assert min(hams) >= 8  # structurally distinct images stay apart


def test_patchify_grid_and_reconstruction(spark):
    """Patch grid laws: row-major complete grid per image, every patch
    byte-exact against a local numpy slice of the decoded source, and
    stitching the patches back reproduces the cropped source region."""
    import numpy as np

    from geodesk_spark import codec
    from geodesk_spark.operators import images

    df = synth.images_df(spark, 24, with_bytes=True, partitions=3)
    P = 16
    out = images.patchify(df, patch=P).toPandas()
    src = {r["image_id"]: bytes(r["bytes"]) for r in df.collect()}
    assert set(out["image_id"]) <= set(src)
    for iid, g in out.groupby("image_id"):
        px = codec.decode(src[iid])
        nr, nc = px.shape[0] // P, px.shape[1] // P
        assert (g["n_rows"] == nr).all() and (g["n_cols"] == nc).all()
        assert len(g) == nr * nc  # complete grid, exactly once
        assert sorted(zip(g["prow"], g["pcol"])) == [
            (r, c) for r in range(nr) for c in range(nc)
        ]
        stitched = np.zeros((nr * P, nc * P) + px.shape[2:], dtype=px.dtype)
        for _, row in g.iterrows():
            tile = codec.decode(bytes(row["bytes"]))
            assert tile.shape[:2] == (P, P)
            expect = px[row["prow"] * P:(row["prow"] + 1) * P,
                        row["pcol"] * P:(row["pcol"] + 1) * P]
            assert np.array_equal(tile, expect)
            stitched[row["prow"] * P:(row["prow"] + 1) * P,
                     row["pcol"] * P:(row["pcol"] + 1) * P] = tile
        assert np.array_equal(stitched, px[: nr * P, : nc * P])
    # images with a dimension under one patch vanish, bad bytes vanish
    from pyspark.sql import functions as F

    tiny = df.limit(1).select("image_id", F.expr("cast('xx' as binary)").alias("bytes"))
    assert images.patchify(tiny, patch=P).count() == 0


def test_nms_boxes_greedy_semantics(spark):
    """NMS vs a hand-built scene: overlapping boxes suppress in score
    order, disjoint boxes survive, suppressed boxes cannot suppress."""
    from geodesk_spark.operators import images

    rows = [
        # image 1: A (score 90) overlaps B (80) heavily; B overlaps C
        # (70) heavily but A does NOT overlap C -> A kept, B suppressed
        # by A, C kept (B, being suppressed, cannot kill C)
        (1, 10, 90, 0, 0, 100, 100),
        (1, 11, 80, 60, 0, 160, 100),
        (1, 12, 70, 120, 0, 220, 100),
        # image 1: far-away small box, trivially kept
        (1, 13, 5, 1000, 1000, 1010, 1010),
        # image 2: exact duplicate boxes, higher id loses the tiebreak
        (2, 20, 50, 0, 0, 10, 10),
        (2, 21, 50, 0, 0, 10, 10),
    ]
    df = spark.createDataFrame(
        rows, "image_id long, box_id long, score long, minx long, miny long, maxx long, maxy long"
    )
    out = {r["box_id"]: (r["rk"], r["kept"]) for r in images.nms_boxes(df).collect()}
    assert out[10] == (1, True)
    # A∩B = 40x100=4000, union=6000+6000... A area 10000, B area 10000,
    # inter 40*100=4000, union 16000 -> IoU 0.25 < 0.5: B actually kept!
    # check the exact integer rule instead of eyeballing:
    assert out[11][1] == (2 * 4000 < 1 * (10000 + 10000 - 4000))
    assert out[13][1] is True
    # exact duplicates: IoU 1 -> lower box_id wins the equal-score tie
    assert out[20] == (1, True)
    assert out[21] == (2, False)


def test_nms_boxes_suppressed_cannot_suppress(spark):
    """The greedy chain property: B suppressed by A must not kill C."""
    from geodesk_spark.operators import images

    rows = [
        (1, 1, 90, 0, 0, 100, 100),     # A
        (1, 2, 80, 30, 0, 130, 100),    # B: IoU(A,B)=70/130 > 0.5 -> out
        (1, 3, 70, 95, 0, 195, 100),    # C: IoU(A,C)=5/195 ok;
                                        # IoU(B,C)=35/165 < .5 anyway...
        (1, 4, 60, 60, 0, 160, 100),    # D: IoU(A,D)=40/160<.5 kept?
    ]
    df = spark.createDataFrame(
        rows, "image_id long, box_id long, score long, minx long, miny long, maxx long, maxy long"
    )
    out = {r["box_id"]: r["kept"] for r in images.nms_boxes(df).collect()}
    # replicate greedy with exact ints
    kept = []
    exp = {}
    for bid, x0, y0, x1, y1 in [(1, 0, 0, 100, 100), (2, 30, 0, 130, 100),
                                (3, 95, 0, 195, 100), (4, 60, 0, 160, 100)]:
        area = (x1 - x0) * (y1 - y0)
        sup = False
        for kx0, ky0, kx1, ky1, ka in kept:
            iw = max(0, min(x1, kx1) - max(x0, kx0))
            ih = max(0, min(y1, ky1) - max(y0, ky0))
            inter = iw * ih
            if 2 * inter >= area + ka - inter:
                sup = True
                break
        if not sup:
            kept.append((x0, y0, x1, y1, area))
        exp[bid] = not sup
    assert out == exp
    assert exp[2] is False and exp[3] is True  # the chain property bites


def test_anchor_match_assignment_rules(spark):
    """Argmax matching, thresholds, forced low-quality matches, and the
    empty-image left join — each rule on a hand-built scene."""
    from geodesk_spark.operators import images

    anchors = spark.createDataFrame(
        [
            # image 1: a1 overlaps gt 100 well, a2 weakly, a3 not at all
            (1, 1, 0, 0, 100, 100),
            (1, 2, 80, 0, 180, 100),
            (1, 3, 500, 500, 600, 600),
            # image 2 has no gts at all
            (2, 1, 0, 0, 100, 100),
            # image 3: single gt whose best anchor IoU is far below the
            # positive threshold -> forced positive anyway
            (3, 1, 0, 0, 1000, 1000),
        ],
        "image_id long, anchor_id long, minx long, miny long, maxx long, maxy long",
    )
    gts = spark.createDataFrame(
        [
            (1, 100, 10, 0, 110, 100),
            (3, 300, 0, 0, 100, 100),  # IoU vs the big anchor = 1e4/1e6 = 0.01
        ],
        "image_id long, gt_id long, minx long, miny long, maxx long, maxy long",
    )
    out = {
        (r["image_id"], r["anchor_id"]): (r["gt_id"], r["iou_micro"], r["label"])
        for r in images.anchor_match(anchors, gts).collect()
    }
    # a1 vs gt100: inter 90*100=9000, union 10000+10000-9000=11000
    assert out[(1, 1)] == (100, 9000 * 1_000_000 // 11000, 1)
    # a2 vs gt100: inter 30*100=3000, union 17000 -> 0.176 -> negative,
    # and NOT forced (a1 holds the gt's max)
    assert out[(1, 2)] == (100, 3000 * 1_000_000 // 17000, 0)
    # a3: zero overlap -> null gt, label 0
    assert out[(1, 3)] == (None, 0, 0)
    # image with no gts: left join keeps the anchor, label 0
    assert out[(2, 1)] == (None, 0, 0)
    # forced: IoU 0.01 < neg threshold but it's the gt's best anchor
    assert out[(3, 1)] == (300, 10_000, 1)
    assert len(out) == 5


def test_mosaic_assign_properties(spark):
    """Quads of exactly 4, unique quadrants, epoch reshuffles, and
    partitioning invariance."""
    from geodesk_spark.operators import images

    imgs = spark.createDataFrame([(i,) for i in range(403)], "image_id long")
    a1 = images.mosaic_assign(imgs, epoch=1, n_buckets=8).collect()
    by_sample = {}
    for r in a1:
        by_sample.setdefault(r["sample_id"], []).append(r["quadrant"])
    assert by_sample and all(sorted(q) == [0, 1, 2, 3] for q in by_sample.values())
    # every surviving image appears exactly once
    ids = [r["image_id"] for r in a1]
    assert len(ids) == len(set(ids)) and len(ids) == 4 * len(by_sample)
    # <= 3 dropped per bucket
    assert 403 - len(ids) <= 3 * 8
    # epoch changes the grouping
    a2 = images.mosaic_assign(imgs, epoch=2, n_buckets=8).collect()
    g1 = {r["image_id"]: r["sample_id"] in {} or r["sample_id"] for r in a1}
    g2 = {r["image_id"]: r["sample_id"] for r in a2}
    common = set(g1) & set(g2)
    assert any(g1[i] != g2[i] for i in common)
    # partitioning invariance
    a1b = images.mosaic_assign(imgs.repartition(13), epoch=1, n_buckets=8).collect()
    assert sorted(map(tuple, a1)) == sorted(map(tuple, a1b))


def test_mosaic_box_remap_exact(spark):
    """Box corners transform by exact integer floor division; collapsed
    boxes drop."""
    from geodesk_spark.operators import images

    assign = spark.createDataFrame(
        [(1, 100, 0), (2, 100, 3)], "image_id long, sample_id long, quadrant int"
    )
    dims = spark.createDataFrame([(1, 640, 480), (2, 1000, 1000)],
                                 "image_id long, w int, h int")
    boxes = spark.createDataFrame(
        [(1, 10, 64, 48, 320, 240),   # q0: scales by 512/640, 512/480
         (2, 20, 0, 0, 1, 1),         # q3: 1px box collapses -> dropped
         (2, 21, 500, 500, 1000, 1000)],
        "image_id long, box_id long, minx long, miny long, maxx long, maxy long",
    )
    out = {r["box_id"]: r for r in
           images.mosaic_box_remap(assign, boxes, dims, canvas=1024).collect()}
    assert set(out) == {10, 21}
    r = out[10]
    assert (r["minx"], r["miny"], r["maxx"], r["maxy"]) == (
        64 * 512 // 640, 48 * 512 // 480, 320 * 512 // 640, 240 * 512 // 480)
    r = out[21]  # quadrant 3 offsets (512, 512); 500*512//1000 = 256
    assert (r["minx"], r["miny"], r["maxx"], r["maxy"]) == (768, 768, 1024, 1024)


def test_verify_against_reference_verdicts(spark):
    """Every failure mode of the per-row reference check gets the right
    verdict: clean jpeg rows pass (PSNR>=40, captions equal), corrupted
    caption fails caption_match only, byte-garbage fails psnr, missing
    rows on either side get missing_* status, dims mismatch fails
    extras_match."""
    from geodesk_spark import codec
    from geodesk_spark.operators import images

    def row(iid, w, h, fmt="png", caption=None):
        px = codec.synth_pixels(iid, w, h)
        return (iid, bytearray(codec.encode(px, fmt)), caption or f"cap {iid}", w, h)

    ref_rows = [row(f"img_{i}", 64, 48) for i in range(8)]
    ours_rows = [row(f"img_{i}", 64, 48, fmt="jpeg") for i in range(8)]
    # plant: corrupted caption on img_2; garbage bytes on img_3;
    # wrong dims metadata on img_4; img_5 missing from ours; extra_9
    # only in ours
    ours_rows[2] = (ours_rows[2][0], ours_rows[2][1], "WRONG", 64, 48)
    ours_rows[3] = (ours_rows[3][0], bytearray(b"junk"), ours_rows[3][2], 64, 48)
    ours_rows[4] = (ours_rows[4][0], ours_rows[4][1], ours_rows[4][2], 99, 48)
    del ours_rows[5]
    ours_rows.append(row("extra_9", 32, 32))
    schema = "image_id string, bytes binary, caption string, w int, h int"
    ours = spark.createDataFrame(ours_rows, schema)
    ref = spark.createDataFrame(ref_rows, schema)
    res = {
        r.image_id: r
        for r in images.verify_against_reference(
            ours, ref, extra_equal=("w", "h")
        ).collect()
    }
    assert len(res) == 9
    for i in (0, 1, 6, 7):
        r = res[f"img_{i}"]
        assert r.status == "compared" and r.ok and r.psnr_ok and r.caption_match
        assert r.psnr_db >= 40.0
    assert res["img_2"].psnr_ok and not res["img_2"].caption_match and not res["img_2"].ok
    assert not res["img_3"].psnr_ok and not res["img_3"].ok
    assert res["img_4"].caption_match and not res["img_4"].extras_match and not res["img_4"].ok
    assert res["img_5"].status == "missing_ours" and not res["img_5"].ok
    assert res["extra_9"].status == "missing_ref" and not res["extra_9"].ok


def test_hashes_compute_single_pass_parity(spark):
    """hashes_compute == the three single-hash kernels, one decode pass;
    dHash is invariant to a global brightness shift (the gradient-sign
    law) where aHash-style thresholds flip."""
    import numpy as np

    from geodesk_spark import codec
    from geodesk_spark.operators import images

    rows = []
    pxs = {}
    rng = np.random.default_rng(31)
    for i in range(5):
        iid = f"h_{i}"
        coarse = rng.integers(0, 200, size=(8, 9, 3), dtype=np.uint8)
        px = np.repeat(np.repeat(coarse, 12, axis=0), 12, axis=1)
        pxs[iid] = px
        rows.append((iid, bytearray(codec.encode(px, "png"))))
    rows.append(("nul", None))
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    got = {r.image_id: r for r in images.hashes_compute(df).collect()}
    assert got["nul"].phash_dct is None and got["nul"].dhash_grad is None
    for iid, px in pxs.items():
        assert got[iid].phash_dct == codec.phash_dct64(px)
        assert got[iid].whash_haar == codec.whash64(px)
        assert got[iid].dhash_grad == codec.dhash64(px)
    # gradient-sign invariance: +40 brightness (clipped-free range)
    px = pxs["h_0"]
    assert codec.dhash64(np.minimum(px.astype(np.int32) + 40, 255).astype(np.uint8)) \
        == codec.dhash64(px)


def test_merge_on_read_position_deletes(spark, tmp_path):
    """Iceberg-v2-style MoR DELETE: delete vectors apply at read time
    with zero data-file rewrites; time travel still sees the old rows;
    rewrite_deletes materializes back to plain scans; CoW ops refuse
    while deletes are pending."""
    from geodesk_spark.streaming import checkpoint as cp

    root = str(tmp_path / "mor")
    p = Pipeline(spark, root)

    def gen(s):
        return (
            s.range(0, 10_000, 1, 4)
            .select(F.col("id").alias("k"), (F.col("id") % 97).alias("v"))
        )

    p.stage("base", gen)
    s0 = p.snapshots()[-1]["snapshot_id"]
    v1 = p._version_dir("base", 1)
    files_v1 = {f: os.stat(os.path.join(v1, f)).st_ino
                for f in (part["file"] for part in p.lineage("base")["partitions"])}
    assert len(files_v1) == 4

    # MoR delete: no data file rewritten (hard links preserve inodes)
    cp.delete_where(p, "base", "v = 13")
    v2 = p._dir("base")
    assert os.path.isdir(os.path.join(v2, "_deletes"))
    for f, ino in files_v1.items():
        assert os.stat(os.path.join(v2, f)).st_ino == ino
    live = p.read("base")
    assert live.filter("v = 13").count() == 0
    expect_deleted = 10_000 // 97 + (1 if 13 < 10_000 % 97 else 0)
    assert live.count() == 10_000 - expect_deleted
    lin = p.lineage("base")
    assert lin["n_deleted_total"] == expect_deleted
    assert lin["n_rows_live"] == 10_000 - expect_deleted

    # time travel: the pre-delete snapshot still serves every row
    assert p.read("base", snapshot_id=s0).count() == 10_000

    # second delete unions with the inherited vector
    cp.delete_where(p, "base", F.col("k") < 50)
    live2 = p.read("base")
    assert live2.filter("v = 13").count() == 0
    assert live2.filter("k < 50").count() == 0

    # pruned read applies the vector too
    pr = cp.read_pruned(p, "base", "k", 0, 99)
    assert pr.count() == live2.filter("k <= 99").count()

    # CoW ops refuse while deletes pend
    ups = spark.range(1).select(F.lit(1).alias("k"), F.lit(0).alias("v"))
    with pytest.raises(ValueError, match="rewrite_deletes"):
        cp.merge_upsert(p, "base", ups, ["k"])
    with pytest.raises(ValueError, match="rewrite_deletes"):
        cp.compact(p, "base")

    # materialize: no _deletes left, same live rows, plain read again
    before = {(r.k, r.v) for r in live2.collect()}
    sid = cp.rewrite_deletes(p, "base")
    assert sid is not None
    vd = p._dir("base")
    assert not os.path.isdir(os.path.join(vd, "_deletes"))
    after = {(r.k, r.v) for r in p.read("base").collect()}
    assert after == before
    # idempotent when nothing pends
    assert cp.rewrite_deletes(p, "base") is None
    # and CoW ops work again
    assert cp.merge_upsert(p, "base", ups, ["k"]) > 0


def test_delete_vector_not_single_file_funnel(spark, tmp_path):
    """A mass delete must NOT funnel the position-delete vector through
    one task / one parquet file (the r4 verdict's scale finding): the
    vector write is hash-partitioned by data file into an explicit
    partition count, so the writer spreads it across multiple files but
    never more files than the stage has data files — and the MoR read
    over a multi-file vector is byte-identical to the logical result."""
    from geodesk_spark.streaming import checkpoint as cp

    p = Pipeline(spark, str(tmp_path / "morv"))

    def gen(s):
        return (
            s.range(0, 40_000, 1, 8)
            .select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
        )

    p.stage("base", gen)
    n_data_files = len(p.lineage("base")["partitions"])
    assert n_data_files == 8
    # the KB-scale vector is far below AQE's coalescing target: the
    # explicit partition count alone must keep it spread
    cp.delete_where(p, "base", "v < 3")  # ~43% of rows, all 8 files

    vd = p._dir("base")
    vec_files = [
        f for f in os.listdir(os.path.join(vd, "_deletes")) if f.endswith(".parquet")
    ]
    assert len(vec_files) > 1, f"vector funnelled into {vec_files}"
    assert len(vec_files) <= n_data_files, vec_files
    lin = p.lineage("base")
    expect_deleted = sum(1 for i in range(40_000) if i % 7 < 3)
    assert lin["n_deleted_total"] == expect_deleted
    live = p.read("base")
    assert live.count() == 40_000 - expect_deleted
    assert live.filter("v < 3").count() == 0
    assert live.agg(F.sum("k")).first()[0] == sum(
        i for i in range(40_000) if i % 7 >= 3
    )
    # the vector reads from its part files, not its hidden directory
    # (Spark warns "All paths were ignored" on a `_`-prefixed one)
    dels = cp._read_deletes(spark, vd)
    assert len(dels.inputFiles()) == len(vec_files)
    assert all(f.endswith(".parquet") for f in dels.inputFiles())
    assert dels.count() == expect_deleted
    # materialize still works over the multi-file vector
    cp.rewrite_deletes(p, "base")
    assert p.read("base").count() == 40_000 - expect_deleted
    # a vector directory with no part file reads as an empty vector
    empty = cp._read_deletes(spark, str(tmp_path / "none"))
    assert empty.schema.simpleString() == "struct<file:string,pos:bigint>"
    assert empty.count() == 0


def test_overview_pyramid_pixels(spark, tmp_path):
    """Overview build replays bit-exact: parents compose their 2×2
    children with the exact integer box-mean into the right quadrants,
    across two levels."""
    from geodesk_spark.geo import tile as T
    from geodesk_spark.operators import tiles_sink

    base = []
    for c in range(100, 104):
        for r in range(200, 204):
            t = int(T.from_col_row_zoom(c, r, 10)[()])
            px = codec.synth_pixels(f"t{c}_{r}", 64, 64)
            base.append((t, bytearray(codec.encode(px, "png"))))
    df = spark.createDataFrame(base, "tile int, bytes binary")
    man = tiles_sink.overview_pyramid(
        df, str(tmp_path / "ovr"), base_zoom=10, levels=2, tile_px=64
    ).collect()
    by_zoom = {}
    for r in man:
        by_zoom.setdefault(r.zoom, []).append(r)
    assert sorted(r.n_children for r in by_zoom[9]) == [4, 4, 4, 4]
    assert [r.n_children for r in by_zoom[8]] == [4]

    def ds(px):
        p = px.astype(np.uint16)
        return ((p[0::2, 0::2] + p[0::2, 1::2] + p[1::2, 0::2] + p[1::2, 1::2]) // 4
                ).astype(np.uint8)

    # level 1: the (50, 100) parent holds children (100..101, 200..201)
    exp = np.zeros((64, 64, 3), np.uint8)
    kids = {}
    for (c, r) in [(100, 200), (101, 200), (100, 201), (101, 201)]:
        kids[(c, r)] = ds(codec.synth_pixels(f"t{c}_{r}", 64, 64))
        exp[(r & 1) * 32:(r & 1) * 32 + 32, (c & 1) * 32:(c & 1) * 32 + 32] = kids[(c, r)]
    p9 = [r for r in by_zoom[9]
          if int(T.column_of(r.tile)[()]) == 50 and int(T.row_of(r.tile)[()]) == 100][0]
    got = codec.decode(open(p9.path, "rb").read())
    assert np.array_equal(got, exp)

    # level 2 replays the downsample of level 1's composites
    l9 = {}
    for r in by_zoom[9]:
        c, rr = int(T.column_of(r.tile)[()]), int(T.row_of(r.tile)[()])
        l9[(c, rr)] = codec.decode(open(r.path, "rb").read())
    exp8 = np.zeros((64, 64, 3), np.uint8)
    for (c, rr), px in l9.items():
        exp8[(rr & 1) * 32:(rr & 1) * 32 + 32, (c & 1) * 32:(c & 1) * 32 + 32] = ds(px)
    got8 = codec.decode(open(by_zoom[8][0].path, "rb").read())
    assert np.array_equal(got8, exp8)


def _shapes_frame(spark, lo: int, hi: int):
    """One column per schema shape a manifest must carry through a read:
    non-nullable literals, nested array/struct/map, decimal,
    timestamp_ntz, field metadata, and a partition-able column."""
    import datetime
    import decimal

    return spark.range(lo, hi, 1, 4).select(
        F.col("id"),
        F.lit(7).alias("lit_nn"),
        F.array(F.col("id"), F.lit(2)).alias("arr"),
        F.struct(F.col("id").alias("a"), F.lit("s").alias("b")).alias("st"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
        (F.col("id") / 4).cast("decimal(12,3)").alias("dec"),
        F.lit(datetime.datetime(2020, 1, 2, 3, 4, 5)).cast("timestamp_ntz").alias("tsn"),
        F.col("id").alias("md", metadata={"comment": "carried", "unit": 1}),
        (F.col("id") % 3).alias("part"),
    )


def _inferred(spark, p, stage):
    return spark.read.parquet(p._dir(stage)).schema.json()


@pytest.mark.parametrize("shape", ["rows", "zero_rows", "partitioned"])
def test_snapshot_reads_carry_manifest_schema(spark, tmp_path, shape):
    """Every read of a committed version yields exactly the schema that
    footer inference gives (nullability and metadata included), while
    taking it from the manifest."""
    from geodesk_spark.streaming.checkpoint import read_pruned

    root = str(tmp_path / "pipe")
    p = Pipeline(spark, root)
    df = _shapes_frame(spark, 0, 0 if shape == "zero_rows" else 40)
    part = ["part"] if shape == "partitioned" else None
    staged = p.stage("tbl", lambda s: df, partition_by=part)
    assert isinstance(p.lineage("tbl")["schema"], dict)
    want = _inferred(spark, p, "tbl")
    sid = p.snapshots()[-1]["snapshot_id"]
    reads = {
        "stage": staged,
        "read": p.read("tbl"),
        "time_travel": p.read("tbl", snapshot_id=sid),
        "read_pruned": read_pruned(p, "tbl", "id", 5, 30),
        "fresh_pipeline": Pipeline(spark, root).read("tbl"),
        "resumed_stage": Pipeline(spark, root).stage("tbl", lambda s: df, partition_by=part),
    }
    for name, got in reads.items():
        assert got.schema.json() == want, name
    n = 0 if shape == "zero_rows" else 40
    assert p.read("tbl").count() == n
    if shape != "rows":
        return

    # every rewrite commits a version whose reads match inference too
    from geodesk_spark.streaming.checkpoint import (
        compact, delete_where, merge_upsert, rewrite_deletes,
    )

    merge_upsert(p, "tbl", _shapes_frame(spark, 35, 45), ["id"])
    compact(p, "tbl")
    delete_where(p, "tbl", "id < 5")
    rewrite_deletes(p, "tbl")
    actions = []
    for e in p.snapshots()[1:]:
        vd = p._version_dir("tbl", e["version"])
        with open(os.path.join(vd, "_lineage.json")) as f:
            actions.append(json.load(f)["action"])
        got = p.read("tbl", snapshot_id=e["snapshot_id"])
        assert got.schema.json() == spark.read.parquet(vd).schema.json(), actions[-1]
    assert actions == ["merge_upsert", "compact", "delete_where", "rewrite_deletes"]
    assert sorted(r["id"] for r in p.read("tbl").collect()) == list(range(5, 45))


def _job_ids_after(spark, group: str, action) -> list[int]:
    """Job ids ``action`` starts, then a sentinel job, under one job
    group.  Listener events are processed in order, so once the
    sentinel is visible every earlier job of the group is too."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
        sc.parallelize([0], 1).count()  # the sentinel: exactly one job
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    import time

    deadline = time.time() + 30
    while True:
        ids = sorted(sc.statusTracker().getJobIdsForGroup(group))
        if ids or time.time() > deadline:
            break
        time.sleep(0.05)
    assert ids, "sentinel job never appeared"
    return ids[:-1]


def test_committed_stage_reads_start_no_spark_job(spark, tmp_path):
    """Reading a committed stage, and re-running it, plans from the
    manifest: no footer-inference job."""
    p = Pipeline(spark, str(tmp_path / "pipe"))
    p.stage("tbl", lambda s: _shapes_frame(spark, 0, 40))

    def reads():
        p.read("tbl").schema
        p.stage("tbl", lambda s: pytest.fail("a committed stage must not rerun")).schema

    assert _job_ids_after(spark, "ckpt-read-no-job", reads) == []


def test_append_stage_reads_carry_manifest_schema(spark, tmp_path):
    """append_stage records each batch's schema; read_all, read() and
    read_incremental plan from it without a footer-inference job and
    yield the schema inference gives.  Batches whose recorded schemas
    differ are inferred."""
    from geodesk_spark.streaming.checkpoint import _committed_dirs, _load_manifest

    p = Pipeline(spark, str(tmp_path / "pipe"))
    s1 = p.append_stage("ing", lambda s: _shapes_frame(spark, 0, 20))
    s2 = p.append_stage("ing", lambda s: _shapes_frame(spark, 20, 40))
    dirs = list(_committed_dirs(p, "ing").values())
    assert all(isinstance(_load_manifest(d)["schema"], dict) for d in dirs)
    got = {}

    def reads():
        got["all"] = p.read_all("ing").schema.json()
        got["read"] = p.read("ing").schema.json()
        got["since_s1"] = p.read_incremental("ing", since_snapshot_id=s1).schema.json()
        got["since_s2"] = p.read_incremental("ing", since_snapshot_id=s2).schema.json()

    assert _job_ids_after(spark, "ckpt-append-read-no-job", reads) == []
    want = spark.read.parquet(*dirs).schema.json()
    assert got == {
        "all": want,
        "read": want,
        "since_s1": spark.read.parquet(dirs[1]).schema.json(),
        "since_s2": spark.read.parquet(dirs[0]).schema.json(),
    }
    assert sorted(r["id"] for r in p.read_all("ing").collect()) == list(range(40))
    assert p.read_incremental("ing", since_snapshot_id=s2).count() == 0

    # a batch with another schema: the union is inferred, as before
    p.append_stage("ing", lambda s: _shapes_frame(spark, 40, 50).drop("md"))
    dirs = list(_committed_dirs(p, "ing").values())
    assert p.read_all("ing").schema.json() == spark.read.parquet(*dirs).schema.json()


def test_read_falls_back_to_inference_for_old_manifest(spark, tmp_path):
    """A manifest written before the schema was recorded still reads."""
    p = Pipeline(spark, str(tmp_path / "pipe"))
    p.stage("tbl", lambda s: _shapes_frame(spark, 0, 40))
    lin_path = os.path.join(p._dir("tbl"), "_lineage.json")
    with open(lin_path) as f:
        lin = json.load(f)
    del lin["schema"]
    with open(lin_path, "w") as f:
        json.dump(lin, f)
    got = p.read("tbl")
    assert got.schema.json() == _inferred(spark, p, "tbl")
    assert sorted(r["id"] for r in got.collect()) == list(range(40))


def test_empty_partitioned_stage_commits(spark, tmp_path):
    """A partition_by stage with zero rows writes no parquet file; it
    still commits an empty snapshot (with every column) and resumes."""
    root = str(tmp_path / "pipe")
    calls = []

    def empty(s):
        calls.append(1)
        return _shapes_frame(spark, 0, 0)

    p = Pipeline(spark, root)
    out = p.stage("tbl", empty, partition_by=["part"])
    assert out.count() == 0
    assert out.columns == _shapes_frame(spark, 0, 0).columns
    assert p.lineage("tbl")["n_rows"] == 0
    again = Pipeline(spark, root).stage("tbl", empty, partition_by=["part"])
    assert again.count() == 0 and len(calls) == 1


def test_snapshot_data_files_are_plain_encoded(spark, tmp_path):
    """Every data file a snapshot write commits (stage, a partitioned
    stage, append_stage, merge_upsert, compact) has no dictionary page,
    and its primitive columns still carry the footer min/max statistics
    the manifest prunes with."""
    import pyarrow.parquet as pq

    from geodesk_spark.streaming.checkpoint import _parquet_files

    def frame(s, lo, hi):
        return s.range(lo, hi, 1, 4).select(
            F.col("id"),
            (F.col("id") * 0.5).alias("x"),
            F.concat(F.lit("c"), (F.col("id") % 5).cast("string")).alias("cell"),
            (F.col("id") % 3).alias("part"),
        )

    root = str(tmp_path / "pipe")
    p = Pipeline(spark, root)
    p.stage("tbl", lambda s: frame(s, 0, 400))
    p.stage("parts", lambda s: frame(s, 0, 400), partition_by=["part"])
    p.append_stage("ing", lambda s: frame(s, 0, 100))
    p.merge_upsert("tbl", frame(spark, 350, 450), ["id"])
    assert p.compact("tbl") is not None

    files = _parquet_files(root)
    names = {os.path.basename(f)[0] for f in files if "/tbl/" in f}
    assert {"p", "u", "c"} <= names  # the stage's, merge's and compact's files
    assert any("/parts/" in f for f in files) and any("/ing/" in f for f in files)
    for f in files:
        md = pq.ParquetFile(f).metadata
        assert md.num_rows > 0, f
        for rg in range(md.num_row_groups):
            for i in range(md.num_columns):
                col = md.row_group(rg).column(i)
                assert not col.has_dictionary_page, (f, col.path_in_schema)
                assert col.statistics is not None and col.statistics.has_min_max, (
                    f, col.path_in_schema,
                )


def test_expire_snapshots_commits_before_it_deletes(spark, tmp_path, monkeypatch):
    """The log write that marks versions expired is expire_snapshots'
    commit point and precedes every delete: a crash while deleting
    leaves the ids marked expired, and reading one raises the
    documented error rather than a missing-file one."""
    import shutil

    p = Pipeline(spark, str(tmp_path / "ex"))
    p.stage("tbl", lambda s: s.range(10))
    sid1 = p.snapshots()[-1]["snapshot_id"]
    p.invalidate("tbl")
    p.stage("tbl", lambda s: s.range(20))

    def crash(*args, **kwargs):
        raise OSError("crash while deleting")

    monkeypatch.setattr(shutil, "rmtree", crash)
    with pytest.raises(OSError, match="crash while deleting"):
        p.expire_snapshots("tbl", keep_last=1)
    monkeypatch.undo()
    assert [bool(e.get("expired")) for e in p.snapshots()] == [True, False]
    with pytest.raises(ValueError, match="was expired"):
        p.read("tbl", snapshot_id=sid1)
    assert p.read("tbl").count() == 20


def test_every_version_kind_commits_one_format(spark, tmp_path):
    """stage, append_stage and the four rewrites write one manifest key
    set (a rewrite adds its action and its own keys) and one log entry
    shape (an append batch adds mode)."""
    from geodesk_spark.streaming import checkpoint as cp

    common = {
        "stage", "inputs", "elapsed_sec", "n_rows", "rows_per_sec",
        "partitions", "schema", "committed_at_unix",
    }
    log_fields = {"stage", "version", "n_rows", "committed_at_unix", "snapshot_id"}

    def frame(s, lo, hi):
        return s.range(lo, hi, 1, 4).select(F.col("id"), (F.col("id") % 7).alias("v"))

    p = Pipeline(spark, str(tmp_path / "fmt"))
    p.stage("src", lambda s: frame(s, 0, 40))
    p.stage("tbl", lambda s: frame(s, 0, 100), inputs=["src"])
    p.append_stage("ing", lambda s: frame(s, 0, 10))
    p.merge_upsert("tbl", frame(spark, 90, 110), ["id"])
    assert p.compact("tbl") is not None
    cp.delete_where(p, "tbl", "v = 3")
    assert cp.rewrite_deletes(p, "tbl") is not None

    seen = []
    for e in p.snapshots():
        lin = cp._load_manifest(p._version_dir(e["stage"], e["version"]))
        kind = lin.get("action") or ("append" if e.get("mode") else "stage")
        seen.append(kind)
        assert set(e) == log_fields | ({"mode"} if kind == "append" else set()), kind
        assert common <= set(lin), (kind, common - set(lin))
        if kind in ("stage", "append"):
            assert set(lin) == common, kind
        for k in ("stage", "n_rows", "committed_at_unix"):
            assert lin[k] == e[k], (kind, k)
        assert lin["n_rows"] == sum(part["rows"] for part in lin["partitions"]), kind
        assert isinstance(lin["schema"], dict) and lin["elapsed_sec"] >= 0, kind
    assert seen == [
        "stage", "stage", "append",
        "merge_upsert", "compact", "delete_where", "rewrite_deletes",
    ]
    assert p.snapshots()[2]["mode"] == "append"
    assert p.lineage("src")["inputs"] == []
    assert p.lineage("tbl")["inputs"] == ["tbl"]
    assert cp._load_manifest(p._version_dir("tbl", 1))["inputs"] == ["src"]
    assert cp._load_manifest(p._version_dir("ing", 1))["inputs"] == []
