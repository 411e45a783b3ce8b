"""Driver-contract query builders; registry.py assembles them into QUERIES."""

from __future__ import annotations

from geodesk_spark.driver_queries.common import (
    CAIRO_XY,
    F,
    _DERIVED_SQL,
    dedup,
    images,
    spatial_join,
    synth,
    tables,
    text,
    tiling,
)
from geodesk_spark.driver_queries.features_goql import (
    _SQL_QUALITY,
    _simhash_sql,
)
from geodesk_spark.driver_queries.polygons import (
    _phash_fixture,
)

def _q_stratified_sample(spark, sf_dir):
    """Deterministic exact stratified sample (operators/sampling.py):
    ceil(0.2·n) docs per language — unlike sampleBy's binomial draw, a
    small stratum can never vanish from the training mix."""
    from geodesk_spark.operators import sampling

    d = tables.load_spread(spark, sf_dir, "documents")
    return sampling.stratified_sample(d, "lang", 0.2).select("doc_id", "lang").orderBy("doc_id")


_SQL_STRATIFIED = """
  with r as (
    select doc_id, lang,
           row_number() over (partition by lang
               order by md5(concat('42', '|', cast(doc_id as varchar))), doc_id) as rk,
           count(*) over (partition by lang) as n
    from documents)
  select doc_id, lang from r where rk <= ceil(floor(n * 0.2 * 1e9 + 0.5) / 1e9) order by doc_id
"""


MIX = {"en": 0.1, "de": 0.5, "zh": 1.0}  # fr/es absent → dropped (mix semantics)


def _q_sample_mix(spark, sf_dir):
    """Training-data MIX: per-stratum sampling fractions — upsample rare
    languages, downsample the dominant one, drop the rest.  Exact
    deterministic counts per stratum (sampling.stratified_sample with a
    dict fraction)."""
    from geodesk_spark.operators import sampling

    d = tables.load_spread(spark, sf_dir, "documents")
    out = sampling.stratified_sample(d, "lang", MIX)
    return out.select("doc_id", "lang").orderBy("doc_id")


def _sample_mix_sql() -> str:
    cases = " ".join(f"when lang = '{k}' then {v}" for k, v in MIX.items())
    return f"""
      with r as (
        select doc_id, lang,
               row_number() over (partition by lang
                   order by md5(concat('42', '|', cast(doc_id as varchar))), doc_id) as rk,
               count(*) over (partition by lang) as n,
               (case {cases} else 0.0 end) as f
        from documents)
      select doc_id, lang from r where rk <= ceil(floor(n * f * 1e9 + 0.5) / 1e9) order by doc_id
    """


def _q_pack_sequences(spark, sf_dir):
    """Token-budget sequence packing (operators/sampling.py): length-desc
    prefix-sum binning for fixed context windows — one range-partitioned
    sort, no driver state."""
    from geodesk_spark.operators import sampling

    d = tables.load_spread(spark, sf_dir, "documents")
    return sampling.pack_sequences(d, budget=4096, len_col="n_chars").orderBy("doc_id")


_SQL_PACK = """
  select doc_id, n_chars,
         cast(floor((sum(n_chars) over w - n_chars) / 4096.0) as bigint) as bin_id,
         cast(sum(n_chars) over w as bigint) as cum_tokens
  from documents
  window w as (order by n_chars desc, doc_id
               rows between unbounded preceding and current row)
  order by doc_id
"""


def _q_corpus_prep(spark, sf_dir):
    """End-to-end corpus preparation — the integration of the
    training-data ops a real pipeline chains between raw text and
    training: exact dedup (keep canonical) → quality filter →
    deterministic stratified sample by language → token-budget packing
    → per-bin rollup.  Every stage is one of this repo's oracle-checked
    operators; the composite is oracle-checked as a whole."""
    from geodesk_spark.operators import sampling

    d = tables.load_spread(spark, sf_dir, "documents")
    canon = dedup.exact_dedup(d).select(F.col("canonical_id").alias("doc_id"))
    docs = d.join(canon, "doc_id")
    q = text.quality_scores(docs)
    keep = q.filter((F.col("punct_ratio") <= 0.2) & (F.col("n_tokens") >= 5)).select("doc_id")
    filtered = docs.join(keep, "doc_id")
    s = sampling.stratified_sample(filtered, "lang", 0.5)
    p = sampling.pack_sequences(s, budget=2048, len_col="n_chars")
    return (
        p.groupBy("bin_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("n_chars").cast("long")).alias("n_chars_total"),
        )
        .orderBy("bin_id")
    )


def _corpus_prep_sql() -> str:
    quality_over_docs = _SQL_QUALITY.replace("from documents", "from docs")
    return rf"""
      with canon as (
        select min(doc_id) as doc_id
        from documents
        group by md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))),
      docs as (select d.* from documents d join canon using (doc_id)),
      q as ({quality_over_docs}),
      keep as (select doc_id from q where punct_ratio <= 0.2 and n_tokens >= 5),
      filtered as (select d.* from docs d join keep using (doc_id)),
      ranked as (
        select doc_id, lang, n_chars,
               row_number() over (partition by lang
                   order by md5(concat('42', '|', cast(doc_id as varchar))), doc_id) as rk,
               count(*) over (partition by lang) as n
        from filtered),
      sampled as (select doc_id, n_chars from ranked where rk <= ceil(floor(n * 0.5 * 1e9 + 0.5) / 1e9)),
      packed as (
        select doc_id, n_chars,
               cast(floor((sum(n_chars) over w - n_chars) / 2048.0) as bigint) as bin_id
        from sampled
        window w as (order by n_chars desc, doc_id
                     rows between unbounded preceding and current row))
      select bin_id, count(*) as n_docs,
             cast(sum(n_chars) as bigint) as n_chars_total
      from packed group by bin_id order by bin_id
    """


def _q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs: the 16-bit simhash through the SAME
    pigeonhole banding machinery as phash (4 × 4-bit bands ⇒ exact for
    Hamming ≤ 3); here Hamming ≤ 2 on token-level simhashes, the usual
    boilerplate-dup screen."""
    d = tables.load_spread(spark, sf_dir, "documents")
    sh = dedup.simhash16(d)
    return dedup.phash_neardup_pairs(
        sh, id_col="doc_id", phash_col="simhash", max_hamming=2, hash_bits=16
    ).orderBy("id_a", "id_b")


def _simhash_pairs_sql() -> str:
    """Brute-force all-pairs over the simhash oracle CTE — independent
    of the banding under test."""
    return f"""
      with s as ({_simhash_sql()})
      select a.doc_id as id_a, b.doc_id as id_b,
             cast(bit_count(xor(cast(a.simhash as bigint),
                                cast(b.simhash as bigint))) as int) as hamming
      from s a join s b on a.doc_id < b.doc_id
      where bit_count(xor(cast(a.simhash as bigint), cast(b.simhash as bigint))) <= 2
      order by 1, 2
    """


def _q_image_dedup_pipeline(spark, sf_dir):
    """Image near-dup resolution end-to-end: phash Hamming banding →
    connected components → canonical id per image (singletons are their
    own canonical) — the image-payload twin of corpus_prep_pipeline."""
    rows = _phash_fixture()
    imgs = spark.createDataFrame(rows, "image_id string, phash long")
    pairs = dedup.phash_neardup_pairs(imgs)
    comp = dedup.connected_components(pairs, a_col="id_a", b_col="id_b")
    out = imgs.join(comp.withColumnRenamed("doc_id", "image_id"), "image_id", "left")
    canonical = F.coalesce("comp_id", F.col("image_id"))
    return out.select(
        "image_id",
        canonical.alias("canonical_id"),
        (canonical == F.col("image_id")).alias("is_canonical"),
    ).orderBy("image_id")


def _image_dedup_sql() -> str:
    """Brute-force pairs + recursive-CTE transitive closure — fully
    independent of both the banding and the iterative CC code."""
    vals = ", ".join(f"('{i}', {p})" for i, p in _phash_fixture())
    return f"""
      with recursive t(image_id, phash) as (values {vals}),
      p as (
        select a.image_id as id_a, b.image_id as id_b
        from t a join t b
          on a.image_id < b.image_id
         and bit_count(xor(a.phash, b.phash)) <= 3),
      edges as (select id_a as a, id_b as b from p
                union select id_b, id_a from p),
      reach(s, t2) as (
        select a, a from edges
        union
        select r.s, e.b from reach r join edges e on r.t2 = e.a),
      comp as (select s as image_id, min(t2) as comp_id from reach group by s)
      select t.image_id,
             coalesce(c.comp_id, t.image_id) as canonical_id,
             coalesce(c.comp_id, t.image_id) = t.image_id as is_canonical
      from t left join comp c using (image_id)
      order by t.image_id
    """


def _q_images_decode(spark, sf_dir):
    imgs = synth.images_df(spark, 500, with_bytes=True, partitions=8)
    return images.decode_stats(imgs).select(
        "image_id", "dec_w", "dec_h",
        F.round("mean_r", 4).alias("mean_r"),
        (F.col("psnr_db") >= 40.0).alias("psnr_ok"),
        "phash_ok",
    )


def _q_images_verify_reference(spark, sf_dir):
    """Per-row reference verification (images.verify_against_reference —
    the BASELINE acceptance invariant as a distributed job): jpeg
    pipeline output vs the original table, PSNR≥40 + caption equality +
    dims equality per row, with planted caption corruptions and dropped
    rows so every failure mode has verdict rows; rows-only at the
    driver (binary payload); laws pinned by
    test_pipeline::test_verify_against_reference_verdicts."""
    base = synth.images_df(spark, 400, with_bytes=True, partitions=8)
    ref = base.select("image_id", "bytes", "caption", "w", "h")
    out = images.transcode(base, "jpeg").drop("w", "h")
    ours = (
        out.join(base.select("image_id", "caption", "w", "h"), "image_id")
        .withColumn(
            "caption",
            F.when(
                F.abs(F.hash("image_id")) % 89 == 0,
                F.concat(F.col("caption"), F.lit(" CORRUPTED")),
            ).otherwise(F.col("caption")),
        )
        .filter(F.abs(F.hash("image_id")) % 97 != 0)
    )
    return images.verify_against_reference(
        ours, ref, psnr_min=40.0, extra_equal=("w", "h")
    )


def _q_images_hashes(spark, sf_dir):
    """All three perceptual hashes in ONE decode pass
    (images.hashes_compute — pHash DCT + wHash Haar + dHash gradient):
    the union-recall producer; at 10^12 rows the decode dominates, so
    the trio must not cost three scans.  Rows-only at the driver;
    parity + the gradient-sign invariance law pinned by
    test_pipeline::test_hashes_compute_single_pass_parity."""
    imgs = synth.images_df(spark, 500, with_bytes=True, partitions=8)
    return images.hashes_compute(imgs)


def _q_cdc_neardup(spark, sf_dir):
    """Byte-level CDC near-dup (dedup.cdc_neardup_pairs — FastCDC-style
    Gear chunking, Xia et al. 2016): shifted/prefixed binary copies
    share re-synchronized chunk fingerprints; planted prefixed copies
    of every 10th image must pair with their originals.  Rows-only at
    the driver (binary payload); the shift-robustness law is pinned by
    test_dedup::test_cdc_chunks_shift_robust."""
    from geodesk_spark.operators import dedup as dd

    base = synth.images_df(spark, 300, with_bytes=True, partitions=8)
    copies = base.filter(F.abs(F.hash("image_id")) % 10 == 0).select(
        F.concat(F.lit("copy_"), F.col("image_id")).alias("image_id"),
        F.concat(F.lit(b"PREFIX-EDIT"), F.col("bytes")).alias("bytes"),
    )
    corpus = base.select("image_id", "bytes").unionByName(copies)
    return dd.cdc_neardup_pairs(corpus, min_jaccard=0.4)


def _q_images_flagship(spark, sf_dir):
    """Flagship: synthetic image table → imp encode → tile → three-band PIP
    join against the polygon layer → per-tile match counts."""
    imgs = synth.images_df(spark, 20_000, with_bytes=False, partitions=16)
    pts = tiling.with_point_tiles(tiling.with_imp_coords(imgs))
    prepared = spatial_join.prepare_layer(synth.polygon_layer())
    joined = spatial_join.contains_points(
        pts.select("image_id", "x", "y", "tile_z8"), prepared, keep_cols=["image_id", "tile_z8"]
    )
    return joined.groupBy("poly_id").agg(F.count("*").alias("n_matches")).orderBy("poly_id")


def _q_tile_multitile(spark, sf_dir):
    """Bbox features → pyramid placement with multi-tile duplication and
    MULTITILE_WEST/NORTH flags (FeatureFlags.java:19-24, §1.2 dedup rule) —
    fully JVM-side explode, no UDF."""
    df = tables.with_derived_boxes(tables.load_spread(spark, sf_dir, "orders"), "o_orderkey")
    out = tiling.explode_bbox_tiles(df.select(F.col("o_orderkey").alias("key"), "minx", "miny", "maxx", "maxy"))
    return out.select(
        "key",
        F.col("zoom").cast("int").alias("zoom"),
        F.col("tile").cast("bigint").alias("tile"),
        F.col("flags").cast("int").alias("flags"),
    )


def _sql_tile_multitile() -> str:
    dx, dy = tables.half_extent_exprs("o_orderkey")
    box = tables.box_exprs("x", "y", "dx", "dy")
    span = lambda z: (
        f"(floor((maxx + 2147483648) / {1 << (32 - z)}) - floor((minx + 2147483648) / {1 << (32 - z)}) < 2"
        f" and floor((2147483647 - miny) / {1 << (32 - z)}) - floor((2147483647 - maxy) / {1 << (32 - z)}) < 2)"
    )
    zoom_case = "case " + " ".join(
        f"when {span(z)} then {z}" for z in sorted(tiling.ZOOM_LEVELS, reverse=True)
    ) + " else 0 end"
    return f"""
      with pts as ({_DERIVED_SQL}),
      ext as (select o_orderkey as key, x, y, {dx} as dx, {dy} as dy from pts),
      box as (select key, {box['minx']} as minx, {box['maxx']} as maxx,
                     {box['miny']} as miny, {box['maxy']} as maxy from ext),
      z as (select *, {zoom_case} as zoom from box),
      g as (select *, cast(pow(2.0, 32 - zoom) as bigint) as step from z),
      c as (select key, zoom,
                   cast(floor((minx + 2147483648) / step) as bigint) as c0,
                   cast(floor((maxx + 2147483648) / step) as bigint) as c1,
                   cast(floor((2147483647 - maxy) / step) as bigint) as r0,
                   cast(floor((2147483647 - miny) / step) as bigint) as r1
            from g)
      select key, cast(zoom as int) as zoom,
             cast(zoom * 16777216 + (r0 + dr) * 4096 + (c0 + dc) as bigint) as tile,
             cast(dc * 64 + dr * 128 as int) as flags
      from c cross join (values (0, 0), (0, 1), (1, 0), (1, 1)) as d(dc, dr)
      where (dc = 0 or c1 > c0) and (dr = 0 or r1 > r0)
    """


DEDUP_WIN = (
    CAIRO_XY[0] - (1 << 24),
    CAIRO_XY[1] - (1 << 24),
    CAIRO_XY[0] + (1 << 25),
    CAIRO_XY[1] + (1 << 24),
)


def _q_tile_window_dedup(spark, sf_dir):
    """Exactly-once window query over multi-tile copies: tile-list pruning
    (the tile-index walk) + NW-flag suppression + exact bbox test — each
    intersecting feature emitted ONCE with no shuffle-distinct
    (RTreeQueryTask.java:103-104, TileIndexWalker.java:251-284)."""
    qminx, qminy, qmaxx, qmaxy = DEDUP_WIN
    df = tables.with_derived_boxes(tables.load_spread(spark, sf_dir, "orders"), "o_orderkey")
    copies = tiling.explode_bbox_tiles(
        df.select(F.col("o_orderkey").alias("key"), "minx", "miny", "maxx", "maxy")
    )
    tiles = tiling.query_tile_list(qminx, qminy, qmaxx, qmaxy)
    return (
        copies.filter(F.col("tile").isin(tiles))
        .filter(
            (F.col("minx") <= qmaxx) & (F.col("maxx") >= qminx)
            & (F.col("miny") <= qmaxy) & (F.col("maxy") >= qminy)
        )
        .filter(tiling.nw_dedup_filter(qminx, qmaxy))
        .select("key")
    )


def _sql_tile_window_dedup() -> str:
    dx, dy = tables.half_extent_exprs("o_orderkey")
    box = tables.box_exprs("x", "y", "dx", "dy")
    qminx, qminy, qmaxx, qmaxy = DEDUP_WIN
    return f"""
      with pts as ({_DERIVED_SQL}),
      ext as (select o_orderkey as key, x, y, {dx} as dx, {dy} as dy from pts),
      box as (select key, {box['minx']} as minx, {box['maxx']} as maxx,
                     {box['miny']} as miny, {box['maxy']} as maxy from ext)
      select key from box
      where minx <= {qmaxx} and maxx >= {qminx} and miny <= {qmaxy} and maxy >= {qminy}
    """




def _q_crossmodal_align(spark, sf_dir):
    """CLIP-style cross-modal alignment filter (operators/crossmodal.py):
    image vs caption embeddings joined on the pair id, exact JVM-fold
    cosine, keep pairs with alignment >= 0.5.  Fixture: the caption
    embedding equals the image embedding for even labels (aligned) and
    its reverse for odd labels (a deterministic stand-in for a swapped
    caption) — the bimodal score distribution a real CLIP filter sees."""
    from geodesk_spark.operators import crossmodal

    e = tables.load_spread(spark, sf_dir, "embeddings")
    imgs = e.select("vec_id", "embedding")
    caps = e.select(
        "vec_id",
        F.when(F.col("label") % 2 == 0, F.col("embedding"))
        .otherwise(F.reverse(F.col("embedding")))
        .alias("embedding"),
    )
    return crossmodal.align_filter(imgs, caps, threshold=0.5)


def _crossmodal_align_sql() -> str:
    from geodesk_spark.operators import crossmodal

    align = crossmodal.cosine_align_sql("embeddings", "caps")
    return f"""
      with caps as (
        select vec_id,
               case when label % 2 = 0 then embedding
                    else list_reverse(embedding) end as embedding
        from embeddings)
      select * from ({align}) where cos_align >= 0.5
    """


def _q_image_batch_pack(spark, sf_dir):
    """Aspect-ratio bucketed batch packing (operators/images.py
    aspect_bucket_batches): images grouped by rounded aspect so a batch
    resizes to one shape, packed into fixed batches of 32 via the
    distributed two-phase prefix rank (no single-task hot bucket).
    Fixture dims derive from o_orderkey on both engines."""
    o = tables.load_spread(spark, sf_dir, "orders")
    imgs = o.select(
        F.col("o_orderkey").alias("image_id"),
        F.expr("160 + (o_orderkey * 7) % 1280").alias("w"),
        F.expr("120 + (o_orderkey * 11) % 720").alias("h"),
    )
    return images.aspect_bucket_batches(imgs, batch_size=32)


_SQL_IMAGE_BATCH_PACK = """
  with imgs as (
    select o_orderkey as image_id,
           160 + (o_orderkey * 7) % 1280 as w,
           120 + (o_orderkey * 11) % 720 as h
    from orders),
  b as (select image_id, h, least((w * 8) // h, 32) as bucket from imgs),
  r as (select image_id, bucket,
               row_number() over (partition by bucket order by h desc, image_id) as rank
        from b)
  select image_id, bucket, rank, (rank - 1) // 32 as batch_id from r
"""


def _q_images_sharpness(spark, sf_dir):
    """Laplacian-variance focus scores (images.sharpness) over the
    synthetic image table -- rows-only at the driver (payload is
    synthetic binary); the numpy-parity + blur-law invariants are
    pinned by tests/test_pipeline.py::test_sharpness_numpy_parity_and_blur_law."""
    imgs = synth.images_df(spark, 500, with_bytes=True, partitions=8)
    return images.sharpness(imgs).select(
        "image_id", F.round("sharpness", 4).alias("sharpness")
    )


def _q_image_neardup_e2e(spark, sf_dir):
    """The image near-dup pipeline from BYTES end-to-end: base corpus ∪
    planted jpeg-transcoded copies → images.phash_compute (pixels →
    DCT pHash, ONE scan) → dedup.phash_neardup_pairs with max_hamming=4
    / 8×8-bit bands (pigeonhole-exact recall at the measured ≤4-bit
    jpeg drift) → Kiveris connected components → canonical id per
    image.  Every planted copy must resolve to its source's component
    (pinned by test_pipeline::test_image_neardup_e2e_resolves_copies).
    Rows-only at the driver (synthetic payload)."""
    imgs = synth.images_df(spark, 300, with_bytes=True, partitions=8)
    victims = imgs.filter(F.substring("image_id", 4, 12).cast("long") % 5 == 0)
    dups = images.transcode(victims, "jpeg").withColumn(
        "image_id", F.concat("image_id", F.lit("_d"))
    )
    corpus = imgs.select("image_id", "bytes").unionByName(dups)
    hashed = images.phash_compute(corpus)
    pairs = dedup.phash_neardup_pairs(
        hashed, phash_col="phash_dct", max_hamming=4, n_bands=8
    )
    comp = dedup.connected_components(pairs, a_col="id_a", b_col="id_b")
    out = hashed.join(comp.withColumnRenamed("doc_id", "image_id"), "image_id", "left")
    canonical = F.coalesce("comp_id", F.col("image_id"))
    return out.select(
        "image_id",
        canonical.alias("canonical_id"),
        (canonical == F.col("image_id")).alias("is_canonical"),
    ).orderBy("image_id")


def _q_stream_image_ingest(spark, sf_dir):
    """Streaming image ingest with pHash-on-arrival: arrivals (jpeg
    copies of every 3rd indexed image + fresh unseen images) drain
    AvailableNow through images.phash_compute inside each micro-batch,
    band keys derive JVM-side (dedup.hash_band_keys, 8×8-bit — exact
    recall at Hamming ≤ 4), and ONE stream-static broadcast join
    against the static index flags arriving near-duplicates with NO
    state store — the wash-on-arrival shape for a 100 TB image firehose
    (the index is the only shuffled/broadcast artifact; bytes never
    leave the arrival scan).  Output per arrival: is_dup, best Hamming,
    matched index id (lexicographic tie-break, deterministic).
    Rows-only at the driver (synthetic payload); the planted-copy law
    is pinned by test_pipeline::test_stream_image_ingest_flags_copies."""
    import shutil
    import tempfile

    from geodesk_spark.streaming import stream as stream_mod

    base = synth.images_df(spark, 200, with_bytes=True, partitions=4)
    idx = images.phash_compute(base)
    idx_bands = (
        idx.select(
            F.col("image_id").alias("idx_id"),
            F.col("phash_dct").alias("idx_ph"),
            F.explode(dedup.hash_band_keys(F.col("phash_dct"), 8)).alias("band"),
        )
        .select("idx_id", "idx_ph", F.col("band.bi").alias("bi"), F.col("band.bv").alias("bv"))
        .localCheckpoint()  # pin the index once — stream-static joins re-scan the static side per micro-batch
    )
    victims = base.filter(F.substring("image_id", 4, 12).cast("long") % 3 == 0)
    copies = images.transcode(victims, "jpeg").withColumn(
        "image_id", F.concat("image_id", F.lit("_d"))
    )
    fresh = (
        synth.images_df(spark, 260, with_bytes=True, partitions=4)
        .filter(F.substring("image_id", 4, 12).cast("long") >= 200)
        .select("image_id", "bytes")
    )
    arrivals = copies.unionByName(fresh)
    tmp = tempfile.mkdtemp(prefix="gds_simg_")
    try:
        indir = f"{tmp}/in"
        arrivals.repartition(6).write.mode("overwrite").parquet(indir)
        sdf = (
            spark.readStream.schema(spark.read.parquet(indir).schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(indir)
        )
        hashed = images.phash_compute(sdf)
        arr = hashed.select(
            "image_id",
            "phash_dct",
            F.explode(dedup.hash_band_keys(F.col("phash_dct"), 8)).alias("band"),
        ).select("image_id", "phash_dct", F.col("band.bi").alias("bi"), F.col("band.bv").alias("bv"))
        cand = arr.join(F.broadcast(idx_bands), ["bi", "bv"], "left").select(
            "image_id",
            "idx_id",
            F.when(
                F.col("idx_ph").isNotNull(),
                F.bit_count(
                    F.col("phash_dct").bitwiseXOR(F.col("idx_ph"))
                ),
            ).alias("ham"),
        )
        out, ck = f"{tmp}/out", f"{tmp}/ck"
        stream_mod.drain_foreach_batch(cand, out, ck, "append")
        log = spark.read.parquet(out)
        matches = (
            log.filter(F.col("ham") <= 4)
            .groupBy("image_id")
            .agg(F.min(F.struct("ham", "idx_id")).alias("m"))
        )
        return (
            log.select("image_id")
            .distinct()
            .join(matches, "image_id", "left")
            .select(
                "image_id",
                F.col("m").isNotNull().alias("is_dup"),
                F.col("m.ham").alias("min_ham"),
                F.col("m.idx_id").alias("match_id"),
            )
            .orderBy("image_id")
            .localCheckpoint()  # materialize before the temp dir is removed
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _q_images_augment(spark, sf_dir):
    """Deterministic per-image augmentation (images.augment_random):
    op = crc32(id, seed) mod |ops| so a 10^12-row re-run re-derives
    identical choices with no stored state; byte-exact op parity pinned
    by test_pipeline::test_augment_parity_involution_and_random_determinism.
    Rows-only at the driver (synthetic binary payload; bytes dropped
    from the artifact)."""
    imgs = synth.images_df(spark, 500, with_bytes=True, partitions=8)
    return images.augment_random(imgs, seed=42).select("image_id", "aug_op", "w", "h")


def _q_images_color_stats(spark, sf_dir):
    """LAION-style junk-image filter inputs (images.color_stats): dims,
    channel means, luma std, 8-bit luma entropy — one mapInPandas scan,
    rows-only at the driver (synthetic payload); exact numpy parity is
    pinned by test_pipeline::test_color_stats_parity_and_flat_law."""
    imgs = synth.images_df(spark, 500, with_bytes=True, partitions=8)
    return images.color_stats(imgs).select(
        "image_id", "width", "height",
        F.round("r_mean", 4).alias("r_mean"),
        F.round("luma_std", 4).alias("luma_std"),
        F.round("entropy_bits", 4).alias("entropy_bits"),
    )


def _q_images_border_trim(spark, sf_dir):
    """Constant-border/letterbox crop detection (images.border_trim) —
    the pre-crop before hashing so padded copies dedup together; exact
    trim counts pinned by
    test_pipeline::test_border_trim_padded_blank_and_degenerate."""
    imgs = synth.images_df(spark, 500, with_bytes=True, partitions=8)
    return images.border_trim(imgs)


def _q_images_phash(spark, sf_dir):
    """DCT perceptual hashes computed from PIXELS (images.phash_compute,
    codec.phash_dct64) — the ingest-side producer for the Hamming-banded
    image dedup; rows-only at the driver (synthetic binary payload); the
    numpy-parity + jpeg-robustness invariants are pinned by
    tests/test_pipeline.py::test_phash_compute_parity_and_robustness."""
    imgs = synth.images_df(spark, 500, with_bytes=True, partitions=8)
    return images.phash_compute(imgs)


def _q_images_whash(spark, sf_dir):
    """Haar wavelet hashes from PIXELS (images.whash_compute,
    codec.whash64 — the public wHash recipe): the noise-tolerant sibling
    of the DCT pHash; same signed-long surface so the Hamming banding
    applies unchanged; rows-only at the driver (synthetic payload); the
    numpy-parity + independent-Haar + jpeg-robustness invariants are
    pinned by test_pipeline::test_whash_compute_parity_and_robustness."""
    imgs = synth.images_df(spark, 500, with_bytes=True, partitions=8)
    return images.whash_compute(imgs)


def _q_epoch_shard_manifest(spark, sf_dir):
    """Deterministic epoch shuffle → WebDataset-style shard manifest
    (sampling.epoch_shards + shard_manifest): a reproducible per-epoch
    global permutation (md5(seed|epoch|id)) cut into fixed-size shards,
    audited per shard by row count, payload total, and the order-free
    id_sum membership fingerprint.  The rank is a distributed two-phase
    prefix (pack_sequences law) — the oracle's single global row_number
    proves it equals the total-order semantics."""
    from geodesk_spark.operators import sampling

    d = tables.load_spread(spark, sf_dir, "documents")
    assign = sampling.epoch_shards(d, 48, id_col="doc_id", seed="7", epoch=3)
    return sampling.shard_manifest(assign, d, "n_chars")


def _epoch_shard_manifest_sql() -> str:
    from geodesk_spark.operators import sampling

    return sampling.shard_manifest_sql("documents", 48, "n_chars", seed="7", epoch=3)


def _q_images_patchify(spark, sf_dir):
    """ViT-style patch extraction (images.patchify): every image split
    into 16×16 visual tokens with row-major grid positions — the image
    tokenizer ahead of sequence packing.  Rows-only at the driver
    (synthetic binary payload); grid/byte-exactness/stitching laws are
    pinned by tests/test_pipeline.py::test_patchify_grid_and_reconstruction."""
    imgs = synth.images_df(spark, 200, with_bytes=True, partitions=8)
    return images.patchify(imgs, patch=16).select(
        "image_id", "prow", "pcol", "n_rows", "n_cols"
    )


ANCHOR_GRID = 4          # 4x4 anchors per image
ANCHOR_CELL = 1024       # grid cell size on the 4096-px canvas
ANCHOR_HALF = 192        # anchor half-extent (384x384 anchors)
ANCHOR_POS = 500_000     # IoU >= 0.5 -> positive
ANCHOR_NEG = 400_000     # IoU <  0.4 -> negative


def _q_anchor_match(spark, sf_dir):
    """Anchor→gt label assignment (images.anchor_match): argmax-IoU
    matching with forced best-anchor positives over pixel-scale derived
    boxes — exact integer micro-IoU (div of bigints), bit-identical
    labels across engines."""
    from geodesk_spark.operators import images

    o = tables.load_spread(spark, sf_dir, "orders")
    k = F.col("o_orderkey").cast("long")
    gts = (
        o.select(
            (k % 997).alias("image_id"),
            k.alias("gt_id"),
            ((k * 48271) % 3800).alias("minx"),
            ((k * 69621) % 3800).alias("miny"),
        )
        .withColumn("maxx", F.col("minx") + 16 + (F.col("gt_id") * 101) % 240)
        .withColumn("maxy", F.col("miny") + 16 + (F.col("gt_id") * 103) % 240)
    )
    cells = F.sequence(F.lit(0), F.lit(ANCHOR_GRID * ANCHOR_GRID - 1))
    anchors = (
        gts.select("image_id")
        .distinct()
        .select("image_id", F.explode(cells).alias("_a"))
        .select("image_id", F.col("_a").cast("long").alias("anchor_id"))
        .withColumn("_gi", F.expr(f"div(anchor_id, {ANCHOR_GRID})"))
        .withColumn("_gj", F.expr(f"anchor_id % {ANCHOR_GRID}"))
        .withColumn(
            "minx", ANCHOR_CELL // 2 + F.col("_gi") * ANCHOR_CELL - ANCHOR_HALF
        )
        .withColumn(
            "miny", ANCHOR_CELL // 2 + F.col("_gj") * ANCHOR_CELL - ANCHOR_HALF
        )
        .withColumn("maxx", F.col("minx") + 2 * ANCHOR_HALF)
        .withColumn("maxy", F.col("miny") + 2 * ANCHOR_HALF)
    )
    return images.anchor_match(anchors, gts, ANCHOR_POS, ANCHOR_NEG)


def _anchor_match_sql() -> str:
    g2 = ANCHOR_GRID * ANCHOR_GRID - 1
    c0 = ANCHOR_CELL // 2
    inter = (
        "greatest(least(a.maxx, g.maxx) - greatest(a.minx, g.minx), 0)"
        " * greatest(least(a.maxy, g.maxy) - greatest(a.miny, g.miny), 0)"
    )
    return f"""
      with gts as (
        select o_orderkey % 997 as image_id, o_orderkey as gt_id,
               (o_orderkey * 48271) % 3800 as minx,
               (o_orderkey * 69621) % 3800 as miny,
               (o_orderkey * 48271) % 3800 + 16 + (o_orderkey * 101) % 240 as maxx,
               (o_orderkey * 69621) % 3800 + 16 + (o_orderkey * 103) % 240 as maxy
        from orders),
      anchors as (
        select i.image_id, u.a as anchor_id,
               {c0} + (u.a // {ANCHOR_GRID}) * {ANCHOR_CELL} - {ANCHOR_HALF} as minx,
               {c0} + (u.a % {ANCHOR_GRID}) * {ANCHOR_CELL} - {ANCHOR_HALF} as miny,
               {c0} + (u.a // {ANCHOR_GRID}) * {ANCHOR_CELL} + {ANCHOR_HALF} as maxx,
               {c0} + (u.a % {ANCHOR_GRID}) * {ANCHOR_CELL} + {ANCHOR_HALF} as maxy
        from (select distinct image_id from gts) i,
             unnest(generate_series(0, {g2})) as u(a)),
      pairs as (
        select a.image_id, a.anchor_id, g.gt_id,
               {inter} as inter,
               (a.maxx - a.minx) * (a.maxy - a.miny)
             + (g.maxx - g.minx) * (g.maxy - g.miny) as sum_area
        from anchors a left join gts g using (image_id)),
      iou as (
        select image_id, anchor_id, gt_id,
               case when gt_id is null or sum_area - inter <= 0 then 0
                    else (inter * 1000000) // (sum_area - inter) end as iou_micro
        from pairs),
      r as (
        select *,
               row_number() over (partition by image_id, anchor_id
                                  order by iou_micro desc, gt_id) as rn,
               max(iou_micro) over (partition by image_id, gt_id) as gt_max
        from iou),
      f as (
        select *,
               max(case when gt_id is not null and iou_micro = gt_max
                             and iou_micro > 0 then 1 else 0 end)
                 over (partition by image_id, anchor_id) as forced
        from r)
      select image_id, anchor_id,
             case when iou_micro > 0 then gt_id end as gt_id,
             iou_micro,
             cast(case when forced = 1 or iou_micro >= {ANCHOR_POS} then 1
                       when iou_micro < {ANCHOR_NEG} then 0
                       else -1 end as int) as label
      from f
      where rn = 1
    """


MOSAIC_EPOCH = 1
MOSAIC_BUCKETS = 64
MOSAIC_CANVAS = 1024


def _mosaic_parts(spark, sf_dir):
    """Shared derivation: per-image dims + in-bounds boxes (box extents
    stay inside (w, h) by construction so the remap is total)."""
    o = tables.load_spread(spark, sf_dir, "orders")
    k = F.col("o_orderkey").cast("long")
    img = k % 997
    w = F.lit(640) + (img * 31) % 640
    h = F.lit(480) + (img * 37) % 480
    boxes = (
        o.select(
            img.alias("image_id"),
            k.alias("box_id"),
            ((k * 48271) % (w - 64)).alias("minx"),
            ((k * 69621) % (h - 64)).alias("miny"),
            (16 + (k * 101) % 48).alias("_bw"),
            (16 + (k * 103) % 48).alias("_bh"),
        )
        .withColumn("maxx", F.col("minx") + F.col("_bw"))
        .withColumn("maxy", F.col("miny") + F.col("_bh"))
        .drop("_bw", "_bh")
    )
    dims = (
        boxes.select("image_id")
        .distinct()
        .withColumn("w", F.lit(640) + (F.col("image_id") * 31) % 640)
        .withColumn("h", F.lit(480) + (F.col("image_id") * 37) % 480)
    )
    return boxes, dims


def _q_mosaic_boxes(spark, sf_dir):
    """4-image mosaic augmentation, box side (images.mosaic_assign +
    mosaic_box_remap): deterministic per-epoch grouping (bucketed rank
    windows — no global sort) and exact-integer box rescaling onto the
    2x2 canvas, bit-identical across engines."""
    from geodesk_spark.operators import images

    boxes, dims = _mosaic_parts(spark, sf_dir)
    assign = images.mosaic_assign(dims, MOSAIC_EPOCH, MOSAIC_BUCKETS)
    return images.mosaic_box_remap(assign, boxes, dims, MOSAIC_CANVAS)


def _mosaic_boxes_sql() -> str:
    from geodesk_spark.operators import images

    half = MOSAIC_CANVAS // 2
    assign = images.mosaic_assign_sql(
        "select image_id from dims", MOSAIC_EPOCH, MOSAIC_BUCKETS
    )
    return f"""
      with boxes as (
        select o_orderkey % 997 as image_id, o_orderkey as box_id,
               (o_orderkey * 48271) % (640 + ((o_orderkey % 997) * 31) % 640 - 64) as minx,
               (o_orderkey * 69621) % (480 + ((o_orderkey % 997) * 37) % 480 - 64) as miny,
               16 + (o_orderkey * 101) % 48 as bw,
               16 + (o_orderkey * 103) % 48 as bh
        from orders),
      dims as (
        select image_id,
               640 + (image_id * 31) % 640 as w,
               480 + (image_id * 37) % 480 as h
        from (select distinct image_id from boxes) i),
      assign as ({assign}),
      j as (
        select a.sample_id, a.quadrant, b.image_id, b.box_id,
               (a.quadrant % 2) * {half} + (b.minx * {half}) // d.w as minx,
               (a.quadrant // 2) * {half} + (b.miny * {half}) // d.h as miny,
               (a.quadrant % 2) * {half} + ((b.minx + b.bw) * {half}) // d.w as maxx,
               (a.quadrant // 2) * {half} + ((b.miny + b.bh) * {half}) // d.h as maxy
        from boxes b
        join assign a using (image_id)
        join dims d using (image_id))
      select sample_id, quadrant, image_id, box_id, minx, miny, maxx, maxy
      from j
      where maxx > minx and maxy > miny
    """
