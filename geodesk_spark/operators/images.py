"""Multimodal (image) column operators.

Images are opaque ``binary`` columns with typed metadata (w, h, fmt) —
the BASELINE.json input shape.  All operators run as vectorized
``mapInPandas`` passes: binary column in → Arrow batch out; the decode
step uses the deterministic stand-in codec (geodesk_spark.codec) since
real image libraries are absent here — swapping in libjpeg/PIL touches
only ``codec.decode``.  The Spark-side plumbing (schemas, batching,
partitioning) is real and tested.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from geodesk_spark import codec


def decode_stats(df: DataFrame) -> DataFrame:
    """Decode every image and emit per-channel means + decoded dims +
    PSNR against the deterministically regenerated source pixels
    (the BASELINE 'decoded-pixel allclose / PSNR≥40dB' invariant)."""

    def run(batches):
        for pdf in batches:
            n = len(pdf)
            out = {
                "image_id": pdf["image_id"],
                "dec_w": np.zeros(n, dtype=np.int32),
                "dec_h": np.zeros(n, dtype=np.int32),
                "mean_r": np.zeros(n),
                "mean_g": np.zeros(n),
                "mean_b": np.zeros(n),
                "psnr_db": np.zeros(n),
                "phash_ok": np.zeros(n, dtype=bool),
            }
            for i in range(n):
                px = codec.decode(pdf["bytes"].iloc[i])
                out["dec_h"][i], out["dec_w"][i] = px.shape[:2]
                m = px.astype(np.float64).mean(axis=(0, 1))
                out["mean_r"][i], out["mean_g"][i], out["mean_b"][i] = m
                src = codec.synth_pixels(pdf["image_id"].iloc[i], px.shape[1], px.shape[0])
                out["psnr_db"][i] = min(codec.psnr(src, px), 99.0)
                out["phash_ok"][i] = codec.phash64(px) == codec.phash64(
                    codec.decode(codec.encode(px, "png"))
                )
            yield pd.DataFrame(out)

    return df.select("image_id", "bytes").mapInPandas(
        run,
        schema=(
            "image_id string, dec_w int, dec_h int, mean_r double, "
            "mean_g double, mean_b double, psnr_db double, phash_ok boolean"
        ),
    )


def resize(df: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbour resize: decode → index-sample → re-encode (png).
    Real pixel work, deterministic; a production build swaps the decode/
    encode for libjpeg and the sampling for a real resampler."""

    def run(batches):
        for pdf in batches:
            blobs = []
            for i in range(len(pdf)):
                px = codec.decode(pdf["bytes"].iloc[i])
                h, w = px.shape[:2]
                yi = (np.arange(out_h) * h) // out_h
                xi = (np.arange(out_w) * w) // out_w
                blobs.append(codec.encode(px[yi][:, xi], "png"))
            yield pd.DataFrame(
                {
                    "image_id": pdf["image_id"],
                    "bytes": blobs,
                    "w": np.full(len(pdf), out_w, dtype=np.int32),
                    "h": np.full(len(pdf), out_h, dtype=np.int32),
                }
            )

    return df.select("image_id", "bytes").mapInPandas(
        run, schema="image_id string, bytes binary, w int, h int"
    )


AUGMENT_OPS = ("identity", "hflip", "vflip", "rot90", "crop08")


def _apply_augment(px: np.ndarray, op: str) -> np.ndarray:
    """One named augmentation on an (h, w, 3) uint8 array — exact array
    ops, no interpolation, so tests can assert byte-level parity."""
    if op == "identity":
        return px
    if op == "hflip":
        return px[:, ::-1]
    if op == "vflip":
        return px[::-1]
    if op == "rot90":
        return np.rot90(px)  # counter-clockwise; dims swap
    if op == "crop08":  # center crop to 80% (floor), min 1px
        h, w = px.shape[:2]
        ch, cw = max(int(h * 0.8), 1), max(int(w * 0.8), 1)
        y0, x0 = (h - ch) // 2, (w - cw) // 2
        return px[y0 : y0 + ch, x0 : x0 + cw]
    raise ValueError(f"unknown augment op {op!r}")


def augment(df: DataFrame, op: str = "hflip", fmt: str = "png") -> DataFrame:
    """Apply ONE named augmentation (``identity | hflip | vflip | rot90 |
    crop08``) to every image: decode → exact array op (flips/rot90/center
    crop — no interpolation, byte-exact and involution-friendly) →
    re-encode.  The standard training-time transform expressed as a
    scan-side mapInPandas pass; compose calls for pipelines."""
    if op not in AUGMENT_OPS:
        raise ValueError(f"op must be one of {AUGMENT_OPS}")

    def run(batches):
        for pdf in batches:
            blobs, ws, hs = [], [], []
            for i in range(len(pdf)):
                px = _apply_augment(codec.decode(bytes(pdf["bytes"].iloc[i])), op)
                blobs.append(codec.encode(np.ascontiguousarray(px), fmt))
                hs.append(px.shape[0])
                ws.append(px.shape[1])
            yield pd.DataFrame(
                {
                    "image_id": pdf["image_id"],
                    "bytes": blobs,
                    "w": np.asarray(ws, dtype=np.int32),
                    "h": np.asarray(hs, dtype=np.int32),
                    "aug_op": op,
                }
            )

    return df.select("image_id", "bytes").mapInPandas(
        run, schema="image_id string, bytes binary, w int, h int, aug_op string"
    )


def augment_random(df: DataFrame, ops: tuple = AUGMENT_OPS, seed: int = 0,
                   fmt: str = "png") -> DataFrame:
    """Per-image deterministic augmentation choice: op index =
    crc32(image_id ++ seed) % len(ops) — reproducible on any executor
    with no shared state (the same property codec.synth_pixels uses),
    so a re-run of a 10^12-row job re-derives identical augmentations
    without storing the choices."""
    import zlib

    ops = tuple(ops)
    for o in ops:
        if o not in AUGMENT_OPS:
            raise ValueError(f"op must be one of {AUGMENT_OPS}")

    def run(batches):
        for pdf in batches:
            blobs, ws, hs, chosen = [], [], [], []
            for i in range(len(pdf)):
                iid = pdf["image_id"].iloc[i]
                op = ops[zlib.crc32(f"{iid}#{seed}".encode()) % len(ops)]
                px = _apply_augment(codec.decode(bytes(pdf["bytes"].iloc[i])), op)
                blobs.append(codec.encode(np.ascontiguousarray(px), fmt))
                hs.append(px.shape[0])
                ws.append(px.shape[1])
                chosen.append(op)
            yield pd.DataFrame(
                {
                    "image_id": pdf["image_id"],
                    "bytes": blobs,
                    "w": np.asarray(ws, dtype=np.int32),
                    "h": np.asarray(hs, dtype=np.int32),
                    "aug_op": chosen,
                }
            )

    return df.select("image_id", "bytes").mapInPandas(
        run, schema="image_id string, bytes binary, w int, h int, aug_op string"
    )


def transcode(df: DataFrame, fmt: str = "jpeg") -> DataFrame:
    """Re-encode every image to ``fmt`` (decode → encode) — the format-
    normalization step an ingest pipeline runs before storage tiering.
    Same mapInPandas shape as :func:`resize`; deterministic codec, so
    jpeg transcoding is idempotent (requantizing already-quantized
    pixels is a no-op)."""

    def run(batches):
        for pdf in batches:
            blobs = [
                codec.encode(codec.decode(bytes(pdf["bytes"].iloc[i])), fmt)
                for i in range(len(pdf))
            ]
            yield pd.DataFrame({"image_id": pdf["image_id"], "bytes": blobs})

    return df.select("image_id", "bytes").mapInPandas(
        run, schema="image_id string, bytes binary"
    )


def audio_features(df: DataFrame, frame_ms: int = 25, sr: int = 16_000) -> DataFrame:
    # `sr` is the fallback when the input lacks a per-row sr column
    """Audio feature extraction over an opaque binary column.

    Input schema: (audio_id string, bytes binary, sr int, n_samples int)
    — the audio analog of the image table's typed metadata.  The bytes
    are interpreted as int16 PCM (a real pipeline would decode
    flac/opus here; the PCM path needs no codec so the whole operator is
    REAL, not a stub).  Emits per-clip vectorized features: RMS energy,
    zero-crossing rate, per-frame energy variance (a VAD-ish signal),
    and duration — the standard cheap quality/filtering signals a
    training-data pipeline computes before expensive transcription.

    All work is numpy over Arrow batches (mapInPandas), partition-
    parallel; at 100 TB this is a single scan with no shuffle.
    """

    def run(batches):
        for pdf in batches:
            n = len(pdf)
            out = {
                "audio_id": pdf["audio_id"],
                "duration_s": np.zeros(n),
                "rms": np.zeros(n),
                "zcr": np.zeros(n),
                "frame_energy_var": np.zeros(n),
            }
            has_sr = "sr" in pdf.columns
            for i in range(n):
                blob = pdf["bytes"].iloc[i]
                if blob is None:  # NULL audio column: zero features, no crash
                    continue
                b = bytes(blob)
                if len(b) < 2:
                    continue
                # truncated PCM can arrive odd-length — drop the ragged
                # tail byte instead of crashing frombuffer (r03 review)
                pcm = np.frombuffer(b[: len(b) - (len(b) % 2)], dtype=np.int16)
                if len(pcm) == 0:
                    continue
                # NULL sr arrives as NaN (truthy!) — require a real positive
                # value, else fall back to the default sample rate
                v = pdf["sr"].iloc[i] if has_sr else None
                row_sr = int(v) if (v is not None and pd.notna(v) and v > 0) else sr
                frame = max(1, row_sr * frame_ms // 1000)
                x = pcm.astype(np.float64) / 32768.0
                out["duration_s"][i] = len(x) / row_sr
                out["rms"][i] = float(np.sqrt(np.mean(x * x)))
                out["zcr"][i] = float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1])))
                k = (len(x) // frame) * frame
                if k:
                    fe = (x[:k].reshape(-1, frame) ** 2).mean(axis=1)
                    out["frame_energy_var"][i] = float(fe.var())
            yield pd.DataFrame(out)

    return df.mapInPandas(
        run,
        schema="audio_id string, duration_s double, rms double, zcr double, "
        "frame_energy_var double",
    )


def aspect_bucket_batches(
    df: DataFrame,
    batch_size: int = 32,
    w: str = "w",
    h: str = "h",
    id_col: str = "image_id",
    n_aspect_bins: int = 8,
    max_bucket: int | None = None,
) -> DataFrame:
    """Aspect-ratio bucketed batch assignment — the image-training
    dataloader primitive: group images whose aspect ratios round to the
    same bucket (so a batch resizes to one shape without distortion),
    then deterministically pack each bucket into fixed-size batches.

    bucket = (w·n_aspect_bins) div h (integer, capped at ``max_bucket``,
    default 4·n_aspect_bins ≈ aspect 4:1); within a bucket rows order by
    (h desc, id) and batch_id = (rank−1) div batch_size.

    Plan — the same DISTRIBUTED two-phase prefix shape as
    sampling.pack_sequences (a per-bucket global rank via a naive
    ``Window.partitionBy(bucket)`` would put each hot bucket — most
    corpora are ~90 % 4:3/16:9 — on ONE task):

    1. range-repartition + sort on (bucket, h desc, id) — the scalable
       total order;
    2. per-partition local ranks (window keyed by partition id AND
       bucket, so hot buckets stay spread);
    3. tiny (partition, bucket) counts → driver → broadcast exclusive
       offsets; global rank = local rank + offset.

    Returns (id, bucket, rank, batch_id); rank is the 1-based position
    within the bucket, auditable downstream.  Deterministic: depends
    only on the unique total order, never on partition boundaries.
    """
    from pyspark.sql import Window, functions as F

    spark = df.sparkSession
    n_part = max(spark.sparkContext.defaultParallelism, 2)
    cap = max_bucket if max_bucket is not None else 4 * n_aspect_bins
    bucket = F.least(
        F.expr(f"(({w}) * {n_aspect_bins}) div ({h})"), F.lit(cap)
    ).cast("long")
    order = [F.col("bucket"), F.col(h).desc(), F.col(id_col)]
    local = (
        df.select(id_col, h, bucket.alias("bucket"))
        .repartitionByRange(n_part, *order)
        .sortWithinPartitions(*order)
        .withColumn("_pid", F.spark_partition_id())
    )
    wloc = Window.partitionBy("_pid", "bucket").orderBy(F.col(h).desc(), F.col(id_col))
    # pin the physical layout so the counts job and the output job see
    # identical partition boundaries
    local = local.withColumn("_lrk", F.row_number().over(wloc)).localCheckpoint(eager=True)
    counts = (
        local.groupBy("_pid", "bucket").agg(F.max("_lrk").alias("_n")).collect()
    )
    offs = {}
    run: dict = {}
    for r in sorted(counts, key=lambda r: (r["bucket"], r["_pid"])):
        offs[(r["_pid"], r["bucket"])] = run.get(r["bucket"], 0)
        run[r["bucket"]] = run.get(r["bucket"], 0) + r["_n"]
    off_df = spark.createDataFrame(
        [(p, b, o) for (p, b), o in offs.items()], "_pid int, bucket long, _off long"
    )
    out = local.join(F.broadcast(off_df), ["_pid", "bucket"])
    rank = (F.col("_lrk") + F.col("_off")).alias("rank")
    return out.select(
        F.col(id_col),
        F.col("bucket"),
        rank,
        ((F.col("_lrk") + F.col("_off") - 1) / F.lit(batch_size)).cast("long").alias("batch_id"),
    )


def sharpness(df: DataFrame) -> DataFrame:
    """Blur/quality scoring per image: variance of the 4-neighbor
    Laplacian of the luma plane — the classic cheap focus measure a
    curation pipeline runs to drop out-of-focus or synthetic-flat
    images before expensive model scoring.

    lap = 4·L(x,y) − L(x±1,y) − L(x,y±1) on the interior; the score is
    Var(lap) in float64.  Edge rows/columns are excluded (interior-only
    stencil), images smaller than 3×3 score 0.0.  Luma = ITU-R BT.601
    integer-weighted (299·R + 587·G + 114·B) / 1000 kept in float64.

    Shape: one mapInPandas scan over the opaque binary column, numpy
    per batch — no shuffle, partition-parallel; the decode is the same
    deterministic codec decode_stats uses (swap for libjpeg in
    production).  NULL/undecodable bytes score NULL.
    """

    def run(batches):
        for pdf in batches:
            n = len(pdf)
            score = np.full(n, np.nan)
            for i in range(n):
                blob = pdf["bytes"].iloc[i]
                if blob is None:
                    continue
                try:
                    px = codec.decode(bytes(blob))
                except Exception:
                    continue
                L = (
                    px[..., 0].astype(np.float64) * 299.0
                    + px[..., 1].astype(np.float64) * 587.0
                    + px[..., 2].astype(np.float64) * 114.0
                ) / 1000.0
                if L.shape[0] < 3 or L.shape[1] < 3:
                    score[i] = 0.0
                    continue
                lap = (
                    4.0 * L[1:-1, 1:-1]
                    - L[:-2, 1:-1]
                    - L[2:, 1:-1]
                    - L[1:-1, :-2]
                    - L[1:-1, 2:]
                )
                score[i] = float(lap.var())
            yield pd.DataFrame({"image_id": pdf["image_id"], "sharpness": score})

    return df.select("image_id", "bytes").mapInPandas(
        run, schema="image_id string, sharpness double"
    )


def color_stats(df: DataFrame) -> DataFrame:
    """Per-image color statistics — the LAION/DataComp-style junk-image
    filter inputs: decoded dims, per-channel means, BT.601 luma standard
    deviation and 8-bit luma Shannon entropy (bits).  A downstream keep
    predicate like ``luma_std > 4 AND entropy_bits > 1.5`` drops flat /
    near-monochrome images (solid placeholders, tracking pixels) before
    any expensive model scoring.

    One vectorized mapInPandas scan — partition-parallel, no shuffle; at
    10^12 rows this is pure scan-side map work riding whatever
    partitioning the ingest produced.  NULL/undecodable bytes emit NULL
    stats (width/height included) so the row survives for auditing.
    """

    def run(batches):
        for pdf in batches:
            n = len(pdf)
            w = np.zeros(n, dtype=np.int32)
            h = np.zeros(n, dtype=np.int32)
            stats = np.zeros((n, 5), dtype=np.float64)  # r,g,b,luma_std,entropy
            ok = np.zeros(n, dtype=bool)
            for i in range(n):
                blob = pdf["bytes"].iloc[i]
                if blob is None:
                    continue
                try:
                    px = codec.decode(bytes(blob))
                except Exception:
                    continue
                h[i], w[i] = px.shape[:2]
                f = px.astype(np.float64)
                stats[i, :3] = f.mean(axis=(0, 1))
                luma = 0.299 * f[:, :, 0] + 0.587 * f[:, :, 1] + 0.114 * f[:, :, 2]
                stats[i, 3] = luma.std()
                bins = np.clip(np.floor(luma + 0.5), 0, 255).astype(np.intp)
                counts = np.bincount(bins.ravel(), minlength=256)
                p = counts[counts > 0] / bins.size
                stats[i, 4] = float(-(p * np.log2(p)).sum())
                ok[i] = True
            out = pd.DataFrame({"image_id": pdf["image_id"]})
            out["width"] = pd.array(w, dtype="Int32")
            out["height"] = pd.array(h, dtype="Int32")
            for j, c in enumerate(["r_mean", "g_mean", "b_mean", "luma_std", "entropy_bits"]):
                out[c] = stats[:, j]
                out.loc[~ok, c] = None
            out.loc[~ok, "width"] = pd.NA
            out.loc[~ok, "height"] = pd.NA
            yield out

    return df.select("image_id", "bytes").mapInPandas(
        run,
        schema=(
            "image_id string, width int, height int, r_mean double, "
            "g_mean double, b_mean double, luma_std double, entropy_bits double"
        ),
    )


def border_trim(df: DataFrame, tol: int = 8) -> DataFrame:
    """Constant-border / letterbox detection: from each edge, count the
    consecutive pixel lines that are flat (peak-to-peak ≤ ``tol`` across
    all channels) and color-matched to that edge's outermost line (mean
    within ``tol``) — the classic pre-crop step image curation runs
    before hashing/embedding so that letterboxed or padded copies of the
    same picture dedup together.

    Emits the four trim counts, the crop box (col_lo, row_lo, crop_w,
    crop_h), the trimmed-area fraction, and ``is_blank`` for images that
    are one flat color end-to-end (crop degenerates — reported as the
    full frame with border_frac 1).  One mapInPandas scan, no shuffle;
    NULL/undecodable bytes emit NULL.
    """

    def trims(px: np.ndarray) -> tuple[int, int, int, int, bool]:
        h, w = px.shape[:2]
        f = px.astype(np.int32)

        def leading(ptp: np.ndarray, mean: np.ndarray, rev: bool) -> int:
            if rev:
                ptp, mean = ptp[::-1], mean[::-1]
            # a line trims iff it is flat AND color-matched to the
            # outermost line of its edge (mean[0] of the scan order)
            ok = (ptp <= tol) & (np.abs(mean - mean[0]).max(axis=1) <= tol)
            bad = ~ok
            return int(np.argmax(bad)) if bad.any() else len(ok)

        row_ptp = f.max(axis=(1, 2)) - f.min(axis=(1, 2))
        row_mean = f.mean(axis=1)  # (h, 3)
        col_ptp = f.max(axis=(0, 2)) - f.min(axis=(0, 2))
        col_mean = f.mean(axis=0)  # (w, 3)
        top = leading(row_ptp, row_mean, False)
        bottom = leading(row_ptp, row_mean, True)
        left = leading(col_ptp, col_mean, False)
        right = leading(col_ptp, col_mean, True)
        # Degenerate crop (opposite-edge runs meeting or crossing — incl.
        # the one-flat-color image where every run spans the frame):
        # report as blank with the full frame kept.
        if h - top - bottom <= 0 or w - left - right <= 0:
            return 0, 0, 0, 0, True
        return top, bottom, left, right, False

    def run(batches):
        for pdf in batches:
            n = len(pdf)
            cols = np.zeros((n, 8), dtype=np.int32)  # t,b,l,r,row_lo,col_lo,cw,ch
            frac = np.zeros(n, dtype=np.float64)
            blank = np.zeros(n, dtype=bool)
            ok = np.zeros(n, dtype=bool)
            for i in range(n):
                blob = pdf["bytes"].iloc[i]
                if blob is None:
                    continue
                try:
                    px = codec.decode(bytes(blob))
                except Exception:
                    continue
                h, w = px.shape[:2]
                t, b, l, r, is_blank = trims(px)
                cw, ch = w - l - r, h - t - b
                cols[i] = (t, b, l, r, t, l, cw, ch)
                frac[i] = 1.0 if is_blank else 1.0 - (cw * ch) / (w * h)
                blank[i] = is_blank
                ok[i] = True
            out = pd.DataFrame({"image_id": pdf["image_id"]})
            names = ["trim_top", "trim_bottom", "trim_left", "trim_right",
                     "row_lo", "col_lo", "crop_w", "crop_h"]
            for j, c in enumerate(names):
                v = pd.array(cols[:, j], dtype="Int32")
                v[~ok] = pd.NA
                out[c] = v
            out["border_frac"] = frac
            out.loc[~ok, "border_frac"] = None
            bl = pd.array(blank, dtype="boolean")
            bl[~ok] = pd.NA
            out["is_blank"] = bl
            yield out

    return df.select("image_id", "bytes").mapInPandas(
        run,
        schema=(
            "image_id string, trim_top int, trim_bottom int, trim_left int, "
            "trim_right int, row_lo int, col_lo int, crop_w int, crop_h int, "
            "border_frac double, is_blank boolean"
        ),
    )


def phash_compute(df: DataFrame) -> DataFrame:
    """Compute the 64-bit DCT perceptual hash (codec.phash_dct64 — the
    classic public pHash recipe: luma → 32×32 box-mean → 2-D DCT-II →
    8×8 low-frequency block thresholded at its non-DC median) for every
    image, from the PIXELS.

    This is the ingest-side producer for dedup.phash_neardup_pairs /
    image_dedup_pipeline: at 10^12 rows the hash is computed ONCE here
    (one mapInPandas scan, partition-parallel, no shuffle) and the
    banded Hamming join never touches bytes again.  Robustness over the
    deterministic codec: jpeg-requantized copies land within 0-4 Hamming
    bits (pinned ≤6 in tests — inside the banded-dedup radius) while
    distinct images stay ≥14 bits apart (pinned ≥8).  NULL/undecodable
    bytes hash NULL.
    """
    return _hash_compute(df, codec.phash_dct64, "phash_dct")


def whash_compute(df: DataFrame) -> DataFrame:
    """64-bit Haar wavelet hash from PIXELS (codec.whash64) — the
    high-frequency-noise-tolerant sibling of phash_compute; same scan
    shape, same signed-long output so the Hamming banding
    (dedup.phash_neardup_pairs) applies unchanged.  Running both hashes
    and unioning the banded pairs is the standard recall booster for
    image near-dup."""
    return _hash_compute(df, codec.whash64, "whash_haar")


def hashes_compute(df: DataFrame) -> DataFrame:
    """ALL three perceptual hashes (DCT pHash, Haar wHash, gradient
    dHash) in ONE decode pass — at 10^12 rows the decode dominates, so
    the union-recall recipe (band each hash, union the candidate pairs)
    must not cost three scans.  → (image_id, phash_dct, whash_haar,
    dhash_grad), NULL on undecodable bytes."""

    def run(batches):
        for pdf in batches:
            n = len(pdf)
            cols = {k: np.zeros(n, dtype=np.int64) for k in ("p", "w", "d")}
            ok = np.zeros(n, dtype=bool)
            for i in range(n):
                blob = pdf["bytes"].iloc[i]
                if blob is None:
                    continue
                try:
                    px = codec.decode(bytes(blob))
                except Exception:
                    continue
                cols["p"][i] = codec.phash_dct64(px)
                cols["w"][i] = codec.whash64(px)
                cols["d"][i] = codec.dhash64(px)
                ok[i] = True
            out = {"image_id": pdf["image_id"]}
            for k, name in (("p", "phash_dct"), ("w", "whash_haar"), ("d", "dhash_grad")):
                v = pd.array(cols[k], dtype="Int64")
                v[~ok] = pd.NA
                out[name] = v
            yield pd.DataFrame(out)

    return df.select("image_id", "bytes").mapInPandas(
        run,
        schema="image_id string, phash_dct long, whash_haar long, dhash_grad long",
    )


def _hash_compute(df: DataFrame, kernel, out_col: str) -> DataFrame:
    def run(batches):
        for pdf in batches:
            n = len(pdf)
            hashes = np.zeros(n, dtype=np.int64)
            ok = np.zeros(n, dtype=bool)
            for i in range(n):
                blob = pdf["bytes"].iloc[i]
                if blob is None:
                    continue
                try:
                    px = codec.decode(bytes(blob))
                except Exception:
                    continue
                hashes[i] = kernel(px)
                ok[i] = True
            vals = pd.array(hashes, dtype="Int64")  # nullable int64 → Arrow long
            vals[~ok] = pd.NA
            yield pd.DataFrame({"image_id": pdf["image_id"], out_col: vals})

    return df.select("image_id", "bytes").mapInPandas(
        run, schema=f"image_id string, {out_col} long"
    )


def patchify(
    df: DataFrame, patch: int = 16, fmt: str = "png", max_patches: int = 4096
) -> DataFrame:
    """ViT-style patch extraction: split every image into a grid of
    ``patch``×``patch`` tiles with positional metadata — the tokenizer
    of an image-training pipeline (each output row is one visual token:
    its bytes plus (row, col) grid position and the grid shape, ready
    for sequence packing by the sampling operators).

    Semantics: the image is cropped to the largest patch-multiple
    region anchored at the top-left (the standard ViT behavior —
    resize-to-multiple upstream with images.resize if edge loss is
    unwanted); patches emit row-major.  Images smaller than one patch
    (or undecodable bytes) produce zero rows.  ``max_patches`` guards
    the fan-out against a pathological mega-image (drop + count
    upstream if that matters; the cap is a hard error here so data
    bugs fail loudly rather than silently exploding a partition).

    Scale shape: ONE mapInPandas scan, fan-out (w//patch)·(h//patch)
    per row — the output is the fact table downstream batching reads;
    no shuffle.  Patch bytes re-encode with the deterministic codec
    (swap codec.decode/encode for libjpeg when available).
    """

    def run(batches):
        for pdf in batches:
            ids, prs, pcs, nrs, ncs, blobs = [], [], [], [], [], []
            for i in range(len(pdf)):
                try:
                    px = codec.decode(bytes(pdf["bytes"].iloc[i]))
                except Exception:
                    continue
                nr, nc = px.shape[0] // patch, px.shape[1] // patch
                if nr == 0 or nc == 0:
                    continue
                if nr * nc > max_patches:
                    raise ValueError(
                        f"patchify: {nr * nc} patches for image "
                        f"{pdf['image_id'].iloc[i]!r} exceeds max_patches={max_patches}"
                    )
                iid = pdf["image_id"].iloc[i]
                for r in range(nr):
                    for c in range(nc):
                        tile = px[r * patch:(r + 1) * patch, c * patch:(c + 1) * patch]
                        ids.append(iid)
                        prs.append(r)
                        pcs.append(c)
                        nrs.append(nr)
                        ncs.append(nc)
                        blobs.append(codec.encode(np.ascontiguousarray(tile), fmt))
            if ids:
                yield pd.DataFrame(
                    {
                        "image_id": ids,
                        "prow": np.asarray(prs, dtype=np.int32),
                        "pcol": np.asarray(pcs, dtype=np.int32),
                        "n_rows": np.asarray(nrs, dtype=np.int32),
                        "n_cols": np.asarray(ncs, dtype=np.int32),
                        "bytes": blobs,
                    }
                )

    return df.select("image_id", "bytes").mapInPandas(
        run,
        schema="image_id string, prow int, pcol int, n_rows int, n_cols int, bytes binary",
    )


def nms_boxes(
    boxes: DataFrame,
    iou_num: int = 1,
    iou_den: int = 2,
    max_boxes: int = 10,
    img_col: str = "image_id",
    id_col: str = "box_id",
    score_col: str = "score",
) -> DataFrame:
    """Greedy non-maximum suppression per image — the detection-output
    curation step a training pipeline runs over pseudo-labels before
    they become supervision: boxes are visited in score order and kept
    iff their IoU with every already-kept box stays below
    ``iou_num/iou_den``.

    The IoU threshold test is EXACT INTEGER arithmetic — suppress iff
    den·inter ≥ num·union (Python ints in the kernel, hugeint in the
    SQL oracle; box coordinate products square past int64) — so the
    kept set is bit-identical across engines with no float anywhere.

    Scale shape: ONE window (per-image top-``max_boxes`` by score,
    tie-broken on the box id for determinism) caps the sequential
    grain, then ONE applyInPandas over the image partitioning runs the
    O(K²) greedy loop per image — K is a constant, images are the
    parallel grain, nothing quadratic in the table.

    Returns the capped candidates with (rk, kept): downstreams filter
    ``kept`` for survivors or inspect suppressed rows for diagnostics.
    """
    from pyspark.sql import Window, functions as F

    w = Window.partitionBy(img_col).orderBy(F.desc(score_col), F.col(id_col))
    cand = boxes.select(
        img_col, id_col, score_col, "minx", "miny", "maxx", "maxy"
    ).withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= max_boxes)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rk")
        kept_boxes: list = []
        flags = []
        for t in pdf.itertuples():
            x0, y0, x1, y1 = int(t.minx), int(t.miny), int(t.maxx), int(t.maxy)
            area = (x1 - x0) * (y1 - y0)
            sup = False
            for kx0, ky0, kx1, ky1, karea in kept_boxes:
                iw = min(x1, kx1) - max(x0, kx0)
                ih = min(y1, ky1) - max(y0, ky0)
                inter = (iw if iw > 0 else 0) * (ih if ih > 0 else 0)
                union = area + karea - inter
                if iou_den * inter >= iou_num * union:
                    sup = True
                    break
            if not sup:
                kept_boxes.append((x0, y0, x1, y1, area))
            flags.append(not sup)
        return pdf.assign(kept=flags)

    gt = {f.name: f.dataType.simpleString() for f in cand.schema.fields}
    schema = ", ".join(f"{n} {t}" for n, t in gt.items()) + ", kept boolean"
    return cand.groupBy(img_col).applyInPandas(run, schema=schema)


def anchor_match(
    anchors: DataFrame,
    gts: DataFrame,
    pos_iou_micro: int = 500_000,
    neg_iou_micro: int = 400_000,
    img_col: str = "image_id",
) -> DataFrame:
    """Anchor→ground-truth label assignment — the matching step that
    turns curated detection boxes (e.g. ``nms_boxes`` survivors) into
    per-anchor training targets.  Standard two-rule assigner:

    1. each anchor is matched to its argmax-IoU ground truth
       (tie → smallest gt_id);
    2. label = 1 (positive) if that IoU ≥ ``pos_iou_micro``·1e-6,
       0 (negative) if < ``neg_iou_micro``·1e-6, else -1 (ignore);
    3. force-matching: every anchor achieving a ground truth's MAX IoU
       (> 0) is upgraded to positive, so no ground truth goes unmatched
       even when all its IoUs fall below the positive threshold.  The
       upgrade touches only the label — the assigned gt stays the
       anchor's own argmax (ties included, torchvision
       ``allow_low_quality_matches`` semantics).

    IoU is computed in exact integer MICRO-units: iou_micro =
    div(inter·10^6, union) over bigint box areas — integral division is
    identical across engines, so ranks, forced flags, and labels are
    bit-stable with no float anywhere.  Coordinates must be image-pixel
    scale (|axis| ≤ 2^21) so inter·10^6 fits int64; imp-scale boxes
    belong to the spatial operators, not this one.

    Scale shape: ONE equi-join on the image id (anchors × gts is
    K·M per image, both small constants), then two window passes over
    the pair frame — per-(image, anchor) argmax and per-(image, gt)
    max.  Anchors on images with no ground truth survive via the left
    join and label 0.  100% JVM whole-stage codegen.
    """
    from pyspark.sql import Window, functions as F

    a = anchors.select(
        img_col,
        "anchor_id",
        F.col("minx").alias("aminx"),
        F.col("miny").alias("aminy"),
        F.col("maxx").alias("amaxx"),
        F.col("maxy").alias("amaxy"),
    )
    g = gts.select(
        img_col,
        "gt_id",
        F.col("minx").alias("gminx"),
        F.col("miny").alias("gminy"),
        F.col("maxx").alias("gmaxx"),
        F.col("maxy").alias("gmaxy"),
    )
    iw = F.greatest(
        F.least("amaxx", "gmaxx") - F.greatest("aminx", "gminx"), F.lit(0)
    ).cast("long")
    ih = F.greatest(
        F.least("amaxy", "gmaxy") - F.greatest("aminy", "gminy"), F.lit(0)
    ).cast("long")
    inter = iw * ih
    area_a = ((F.col("amaxx") - F.col("aminx")) * (F.col("amaxy") - F.col("aminy"))).cast("long")
    area_g = ((F.col("gmaxx") - F.col("gminx")) * (F.col("gmaxy") - F.col("gminy"))).cast("long")
    union = area_a + area_g - inter
    p = a.join(g, img_col, "left").withColumn("_inter", inter).withColumn("_union", union)
    p = p.withColumn(
        "iou_micro",
        F.when(
            F.col("gt_id").isNull() | (F.col("_union") <= 0), F.lit(0).cast("long")
        ).otherwise(F.expr("div(_inter * 1000000, _union)")),
    )
    w_anchor = Window.partitionBy(img_col, "anchor_id").orderBy(
        F.desc("iou_micro"), F.asc_nulls_last("gt_id")
    )
    w_gt = Window.partitionBy(img_col, "gt_id")
    p = (
        p.withColumn("rn", F.row_number().over(w_anchor))
        .withColumn("gt_max", F.max("iou_micro").over(w_gt))
        .withColumn(
            "forced_pair",
            F.col("gt_id").isNotNull()
            & (F.col("iou_micro") == F.col("gt_max"))
            & (F.col("iou_micro") > 0),
        )
        .withColumn(
            "forced",
            F.max(F.col("forced_pair").cast("int"))
            .over(Window.partitionBy(img_col, "anchor_id"))
            == 1,
        )
    )
    best = p.filter(F.col("rn") == 1)
    label = (
        F.when(F.col("forced") | (F.col("iou_micro") >= pos_iou_micro), F.lit(1))
        .when(F.col("iou_micro") < neg_iou_micro, F.lit(0))
        .otherwise(F.lit(-1))
    )
    return best.select(
        img_col,
        "anchor_id",
        F.when(F.col("iou_micro") > 0, F.col("gt_id")).alias("gt_id"),
        "iou_micro",
        label.cast("int").alias("label"),
    )


def mosaic_assign(
    imgs: DataFrame,
    epoch: int,
    n_buckets: int = 1024,
    id_col: str = "image_id",
) -> DataFrame:
    """Deterministic 4-image mosaic grouping for detection-training
    augmentation: every epoch reshuffles which four images share a
    mosaic sample, with no RNG state — the grouping is a pure function
    of (epoch, image_id).

    Scale shape: images hash into ``n_buckets`` independent buckets
    (md5 of "epoch:id"), each bucket ranks its members locally, and
    consecutive rank-quads become samples — the rank window partitions
    on the bucket, so there is NO global sort; size n_buckets ≈ n/4096
    and each window partition stays ~constant.  Bucket tails that can't
    fill a quad (< 4 images) are dropped — at most 3 images per bucket
    per epoch, different ones each epoch.

    Output: (image_id, sample_id, quadrant 0-3).  sample_id =
    bucket·2^40 + quad-index — unique and stable for the epoch.
    """
    from pyspark.sql import Window, functions as F

    from geodesk_spark.operators.sketches import h52_sql

    h = h52_sql(f"concat('{epoch}', ':', cast({id_col} as string))")
    d = imgs.select(id_col).withColumn("_h", F.expr(h)).withColumn(
        "_bucket", F.col("_h") % n_buckets
    )
    w = Window.partitionBy("_bucket").orderBy("_h", id_col)
    d = d.withColumn("_idx", F.row_number().over(w) - 1)
    d = d.withColumn("_quad", F.expr("div(_idx, 4)")).withColumn(
        "quadrant", (F.col("_idx") % 4).cast("int")
    )
    full = Window.partitionBy("_bucket", "_quad")
    d = d.withColumn("_n", F.count("*").over(full)).filter(F.col("_n") == 4)
    sample = F.col("_bucket") * F.lit(1 << 40).cast("long") + F.col("_quad")
    return d.select(id_col, sample.alias("sample_id"), "quadrant")


def mosaic_assign_sql(
    imgs_sql: str, epoch: int, n_buckets: int = 1024, id_col: str = "image_id"
) -> str:
    """DuckDB twin of ``mosaic_assign`` over subquery ``imgs_sql``
    (columns: at least ``id_col``) — identical hash, windows, drops."""
    from geodesk_spark.operators.sketches import h52_sql

    h = h52_sql(f"concat('{epoch}', ':', cast({id_col} as varchar))")
    return f"""
      select {id_col},
             _bucket * cast({1 << 40} as bigint) + (_idx // 4) as sample_id,
             cast(_idx % 4 as int) as quadrant
      from (
        select {id_col}, _bucket, _idx,
               count(*) over (partition by _bucket, _idx // 4) as _n
        from (
          select {id_col}, _h, _h % {n_buckets} as _bucket,
                 row_number() over (partition by _h % {n_buckets}
                                    order by _h, {id_col}) - 1 as _idx
          from (select {id_col}, {h} as _h from ({imgs_sql}) s) t) r) q
      where _n = 4
    """


def mosaic_box_remap(
    assign: DataFrame,
    boxes: DataFrame,
    dims: DataFrame,
    canvas: int = 1024,
    img_col: str = "image_id",
) -> DataFrame:
    """Remap per-image boxes onto the 2×2 mosaic canvas: each quadrant
    image scales to canvas/2 and lands at its quadrant corner; box
    corners transform by EXACT integer floor division
    (off + div(coord·half, dim)), so remapped boxes are bit-identical
    across engines.  Boxes that collapse to zero width/height under the
    scale are dropped (their supervision signal is gone).

    ``dims`` carries (image_id, w, h); joins are equi-joins on the
    image id — at scale both sides partition by it, one shuffle.
    """
    from pyspark.sql import functions as F

    half = canvas // 2
    j = boxes.join(assign, img_col).join(dims, img_col)
    qx = (F.col("quadrant") % 2).cast("long") * half
    qy = F.expr("div(quadrant, 2)").cast("long") * half
    nminx = qx + F.expr(f"div(minx * {half}, w)")
    nmaxx = qx + F.expr(f"div(maxx * {half}, w)")
    nminy = qy + F.expr(f"div(miny * {half}, h)")
    nmaxy = qy + F.expr(f"div(maxy * {half}, h)")
    return j.select(
        "sample_id",
        "quadrant",
        img_col,
        "box_id",
        nminx.alias("minx"),
        nminy.alias("miny"),
        nmaxx.alias("maxx"),
        nmaxy.alias("maxy"),
    ).filter((F.col("maxx") > F.col("minx")) & (F.col("maxy") > F.col("miny")))


def verify_against_reference(
    ours: DataFrame,
    reference: DataFrame,
    psnr_min: float = 40.0,
    extra_equal: tuple = (),
) -> DataFrame:
    """Per-row pipeline-output verification against a reference table —
    the BASELINE acceptance invariant as a DISTRIBUTED job: for every
    image_id present in either table, decoded-pixel PSNR ≥ psnr_min
    (allclose for lossy codecs), caption string equality, plus exact
    equality on any ``extra_equal`` columns (e.g. a tile assignment).

    Row verdicts, not a global boolean: the point of running this at
    10^12 rows is the per-row failure LIST (which ids, which invariant)
    — a summary assert hides exactly what you need for triage.  Rows
    missing from either side fail with status 'missing_ours' /
    'missing_ref' (an outer join; silent drops are themselves a
    pipeline bug this operator must catch).

    Scale shape: ONE equi-join shuffle on image_id, then one Arrow pass
    decoding both payloads per matched row; emit-all with a boolean
    `ok` so the caller filters failures without a second scan.

    → (image_id, status, psnr_db, psnr_ok, caption_match,
       extras_match, ok).
    """
    from pyspark.sql import functions as F

    sel = ["image_id", "bytes", "caption", *extra_equal]
    a = ours.select(*sel).alias("a")
    b = reference.select(*sel).alias("b")
    j = a.join(b, F.col("a.image_id") == F.col("b.image_id"), "full_outer").select(
        F.coalesce(F.col("a.image_id"), F.col("b.image_id")).alias("image_id"),
        F.col("a.image_id").isNotNull().alias("_in_a"),
        F.col("b.image_id").isNotNull().alias("_in_b"),
        F.col("a.bytes").alias("_ba"),
        F.col("b.bytes").alias("_bb"),
        (F.col("a.caption") == F.col("b.caption")).alias("caption_match"),
        *[
            F.when(
                F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}")), F.lit(True)
            ).otherwise(F.lit(False)).alias(f"_eq_{c}")
            for c in extra_equal
        ],
    )
    extras = (
        F.array_min(F.array(*[F.col(f"_eq_{c}") for c in extra_equal]))
        if extra_equal
        else F.lit(True)
    )
    j = j.withColumn("extras_match", extras)

    def run(batches):
        for pdf in batches:
            n = len(pdf)
            psnr = np.full(n, np.nan)
            for i in range(n):
                ba, bb = pdf["_ba"].iloc[i], pdf["_bb"].iloc[i]
                if ba is None or bb is None:
                    continue
                try:
                    pa = codec.decode(bytes(ba))
                    pb = codec.decode(bytes(bb))
                except Exception:
                    psnr[i] = 0.0
                    continue
                if pa.shape != pb.shape:
                    psnr[i] = 0.0
                else:
                    psnr[i] = min(codec.psnr(pa, pb), 99.0)
            out = pdf[["image_id", "_in_a", "_in_b", "caption_match", "extras_match"]].copy()
            out["psnr_db"] = psnr
            yield out

    dec = j.mapInPandas(
        run,
        schema=(
            "image_id string, _in_a boolean, _in_b boolean, "
            "caption_match boolean, extras_match boolean, psnr_db double"
        ),
    )
    status = (
        F.when(~F.col("_in_a"), F.lit("missing_ours"))
        .when(~F.col("_in_b"), F.lit("missing_ref"))
        .otherwise(F.lit("compared"))
    )
    psnr_ok = F.col("psnr_db") >= F.lit(psnr_min)
    ok = (
        F.col("_in_a")
        & F.col("_in_b")
        & psnr_ok
        & F.coalesce(F.col("caption_match"), F.lit(False))
        & F.col("extras_match")
    )
    return dec.select(
        "image_id",
        status.alias("status"),
        F.round("psnr_db", 2).alias("psnr_db"),
        psnr_ok.alias("psnr_ok"),
        "caption_match",
        "extras_match",
        ok.alias("ok"),
    )


def slice_grid(
    df: DataFrame,
    tile: int = 512,
    stride: int = 448,
    max_slices_axis: int = 8,
    img_col: str = "image_id",
    w_col: str = "w",
    h_col: str = "h",
) -> DataFrame:
    """SAHI-style overlapped slicing grid (Akyon et al. 2022 — slice a
    large image into overlapping windows so a fixed-input detector sees
    every object at usable resolution): per image, slice origins at
    i·stride along each axis for i < ceil(dim/stride), each slice
    covering [origin, min(origin+tile, dim)) — interior slices are
    tile×tile with (tile−stride) overlap, edge slices clamp.

    Engine-agnostic explode: a STATIC 0..max_slices_axis−1 index array
    filtered by the per-image slice count (both engines expand the same
    literal table — no lateral generate_series semantics to match).
    ≤ max_slices_axis² slice rows per image, all integer arithmetic.

    → (image_id, w, h, six, siy, sx, sy, sw, sh).
    """
    from pyspark.sql import functions as F

    nx = F.ceil(F.col(w_col) / F.lit(stride))
    ny = F.ceil(F.col(h_col) / F.lit(stride))
    idx = F.array(*[F.lit(i) for i in range(max_slices_axis)])
    s = (
        df.select(img_col, w_col, h_col, nx.alias("_nx"), ny.alias("_ny"))
        .select("*", F.explode(idx).alias("six"))
        .filter(F.col("six") < F.col("_nx"))
        .select("*", F.explode(idx).alias("siy"))
        .filter(F.col("siy") < F.col("_ny"))
    )
    sx = F.col("six") * F.lit(stride)
    sy = F.col("siy") * F.lit(stride)
    return s.select(
        img_col,
        w_col,
        h_col,
        "six",
        "siy",
        sx.alias("sx"),
        sy.alias("sy"),
        (F.least(sx + F.lit(tile), F.col(w_col)) - sx).alias("sw"),
        (F.least(sy + F.lit(tile), F.col(h_col)) - sy).alias("sh"),
    )


def slice_grid_sql(
    imgs_rel: str,
    tile: int = 512,
    stride: int = 448,
    max_slices_axis: int = 8,
) -> str:
    """DuckDB twin of slice_grid over ``imgs_rel`` (image_id, w, h) —
    the same static index table crossed + filtered."""
    idx = ",".join(f"({i})" for i in range(max_slices_axis))
    return f"""
      select i.image_id, i.w, i.h, a.six, b.siy,
             a.six * {stride} as sx, b.siy * {stride} as sy,
             least(a.six * {stride} + {tile}, i.w) - a.six * {stride} as sw,
             least(b.siy * {stride} + {tile}, i.h) - b.siy * {stride} as sh
      from ({imgs_rel}) i
      cross join (values {idx}) a(six)
      cross join (values {idx}) b(siy)
      where a.six < ceil(cast(i.w as double) / {stride})
        and b.siy < ceil(cast(i.h as double) / {stride})
    """


def nms_boxes_sql(
    cand_rel: str,
    iou_num: int = 1,
    iou_den: int = 2,
    max_boxes: int = 10,
) -> str:
    """DuckDB twin of nms_boxes over any candidates relation
    (image_id, box_id, score, minx, miny, maxx, maxy): the unrolled
    greedy chain — level i admits the rank-i box iff no already-kept
    box suppresses it; every level MATERIALIZED (each is referenced
    twice; the binder would re-expand an unmaterialized chain
    exponentially).  hugeint IoU products (box coordinate products
    square past int64), same integer suppression rule as the kernel.
    """
    inter = (
        "cast(greatest(least(c.maxx, p.maxx) - greatest(c.minx, p.minx), 0) as hugeint)"
        " * cast(greatest(least(c.maxy, p.maxy) - greatest(c.miny, p.miny), 0) as hugeint)"
    )
    sup = f"""({iou_den} * ({inter})
       >= {iou_num} * (cast(c.maxx - c.minx as hugeint) * cast(c.maxy - c.miny as hugeint)
                     + cast(p.maxx - p.minx as hugeint) * cast(p.maxy - p.miny as hugeint)
                     - ({inter})))"""
    levels = ["k1 as materialized (select * from cand where rk = 1)"]
    for i in range(2, max_boxes + 1):
        levels.append(
            f"""k{i} as materialized (
        select * from k{i - 1}
        union all
        select c.* from cand c
        where c.rk = {i} and not exists (
          select 1 from k{i - 1} p
          where p.image_id = c.image_id and {sup}))"""
        )
    chain = ",\n      ".join(levels)
    return f"""
      with cand as materialized (
        select * from (
          select image_id, box_id, score, minx, miny, maxx, maxy,
                 row_number() over (partition by image_id
                                    order by score desc, box_id) as rk
          from ({cand_rel}) src) t
        where rk <= {max_boxes}),
      {chain}
      select c.image_id, c.box_id, c.score, c.minx, c.miny, c.maxx, c.maxy,
             cast(c.rk as int) as rk,
             exists (select 1 from k{max_boxes} p
                     where p.image_id = c.image_id and p.box_id = c.box_id) as kept
      from cand c
    """


def letterbox_boxes(
    imgs: DataFrame,
    boxes: DataFrame,
    out: int = 640,
    img_col: str = "image_id",
) -> DataFrame:
    """Letterbox geometry remap (the YOLO input recipe): each image
    scales by the rational out/max(w, h) to fit an out×out canvas and
    centers with symmetric padding; its boxes remap with the SAME
    rational — x' = (x·out) div max(w, h) + pad_x — so the geometry is
    EXACT INTEGER end-to-end (no float scale, no round-trip drift;
    positive-operand integer division floors identically in Spark
    `div`, DuckDB `//`, and Python).  The pixel-side resize is
    images.resize; this op is the label-side twin every detection
    pipeline needs to keep supervision aligned with the letterboxed
    tensor.

    One broadcast-sized equi-join (dims are a dimension table of the
    image catalog) + pure codegen arithmetic.

    → boxes' columns + (lminx, lminy, lmaxx, lmaxy, pad_x, pad_y,
    scale_den) with scale = out/scale_den.
    """
    from pyspark.sql import functions as F

    dims = imgs.select(
        img_col,
        F.col("w").cast("long").alias("_w"),
        F.col("h").cast("long").alias("_h"),
    )
    j = boxes.join(F.broadcast(dims), img_col)
    den = F.greatest(F.col("_w"), F.col("_h"))
    # integer `div` throughout (nonneg operands ⇒ floor, = DuckDB //)
    pad_x = F.expr(f"({out} - (_w * {out}) div greatest(_w, _h)) div 2")
    pad_y = F.expr(f"({out} - (_h * {out}) div greatest(_w, _h)) div 2")
    remx = lambda c: F.expr(f"({c} * {out}) div greatest(_w, _h)") + pad_x
    remy = lambda c: F.expr(f"({c} * {out}) div greatest(_w, _h)") + pad_y
    return j.select(
        *boxes.columns,
        remx("minx").cast("long").alias("lminx"),
        remy("miny").cast("long").alias("lminy"),
        remx("maxx").cast("long").alias("lmaxx"),
        remy("maxy").cast("long").alias("lmaxy"),
        pad_x.alias("pad_x"),
        pad_y.alias("pad_y"),
        den.cast("long").alias("scale_den"),
    )


def letterbox_boxes_sql(
    imgs_rel: str, boxes_rel: str, out: int = 640
) -> str:
    """DuckDB twin of letterbox_boxes (same integer rational remap)."""
    return f"""
      with d as (select image_id, cast(w as bigint) as w, cast(h as bigint) as h
                 from ({imgs_rel}) i),
      b as ({boxes_rel})
      select b.*,
             (b.minx * {out}) // greatest(d.w, d.h)
               + ({out} - (d.w * {out}) // greatest(d.w, d.h)) // 2 as lminx,
             (b.miny * {out}) // greatest(d.w, d.h)
               + ({out} - (d.h * {out}) // greatest(d.w, d.h)) // 2 as lminy,
             (b.maxx * {out}) // greatest(d.w, d.h)
               + ({out} - (d.w * {out}) // greatest(d.w, d.h)) // 2 as lmaxx,
             (b.maxy * {out}) // greatest(d.w, d.h)
               + ({out} - (d.h * {out}) // greatest(d.w, d.h)) // 2 as lmaxy,
             ({out} - (d.w * {out}) // greatest(d.w, d.h)) // 2 as pad_x,
             ({out} - (d.h * {out}) // greatest(d.w, d.h)) // 2 as pad_y,
             greatest(d.w, d.h) as scale_den
      from b join d on d.image_id = b.image_id
    """


def crop_boxes(
    imgs: DataFrame,
    boxes: DataFrame,
    crop_num: int = 3,
    crop_den: int = 4,
    vis_num: int = 1,
    vis_den: int = 4,
    seed: int = 0,
    img_col: str = "image_id",
) -> DataFrame:
    """Deterministic random-crop augmentation for detection labels —
    the geometry half of RandomSizedCrop: each image gets ONE seeded
    crop window of size (w·crop_num/crop_den, h·crop_num/crop_den) at
    an LCG-chosen offset; boxes clip to the window, shift to crop
    coords, and survive only if the visible area keeps at least
    vis_num/vis_den of the original (the min-visibility rule that
    drops mostly-cut-off objects from supervision).

    Every decision is exact integer arithmetic: crop dims by positive
    floor division, offsets by LCG mod the slack, clipping by
    greatest/least, and the visibility test cross-multiplied
    (vis_den·clip_area ≥ vis_num·orig_area) — no float, bit-identical
    reruns; a new ``seed`` is a new epoch's augmentation.

    One broadcast dim join + codegen; the pixel-side crop is
    images.resize-family work, this keeps the labels aligned.

    → surviving boxes: boxes' columns + (cminx, cminy, cmaxx, cmaxy,
    crop_x, crop_y, crop_w, crop_h).
    """
    from pyspark.sql import functions as F

    M = 2147483648
    dims = imgs.select(
        img_col,
        F.col("w").cast("long").alias("_w"),
        F.col("h").cast("long").alias("_h"),
    )
    cw = F.expr(f"(_w * {crop_num}) div {crop_den}")
    ch = F.expr(f"(_h * {crop_num}) div {crop_den}")
    h0 = (
        (F.col(img_col) % M) * 48271 + F.lit((seed * 2654435761) % M)
    ) % M
    h1 = (h0 * 48271) % M
    h2 = (h1 * 48271) % M
    d = dims.select(
        img_col,
        "_w",
        "_h",
        cw.alias("_cw"),
        ch.alias("_ch"),
        (h1 % F.greatest(F.col("_w") - cw + 1, F.lit(1))).alias("_cx"),
        (h2 % F.greatest(F.col("_h") - ch + 1, F.lit(1))).alias("_cy"),
    )
    j = boxes.join(F.broadcast(d), img_col)
    ix0 = F.greatest(F.col("minx"), F.col("_cx"))
    iy0 = F.greatest(F.col("miny"), F.col("_cy"))
    ix1 = F.least(F.col("maxx"), F.col("_cx") + F.col("_cw"))
    iy1 = F.least(F.col("maxy"), F.col("_cy") + F.col("_ch"))
    vis = F.greatest(ix1 - ix0, F.lit(0)) * F.greatest(iy1 - iy0, F.lit(0))
    orig = (F.col("maxx") - F.col("minx")) * (F.col("maxy") - F.col("miny"))
    keep = (vis * vis_den >= orig * vis_num) & (vis > 0)
    return j.filter(keep).select(
        *boxes.columns,
        (ix0 - F.col("_cx")).alias("cminx"),
        (iy0 - F.col("_cy")).alias("cminy"),
        (ix1 - F.col("_cx")).alias("cmaxx"),
        (iy1 - F.col("_cy")).alias("cmaxy"),
        F.col("_cx").alias("crop_x"),
        F.col("_cy").alias("crop_y"),
        F.col("_cw").alias("crop_w"),
        F.col("_ch").alias("crop_h"),
    )


def crop_boxes_sql(
    imgs_rel: str,
    boxes_rel: str,
    crop_num: int = 3,
    crop_den: int = 4,
    vis_num: int = 1,
    vis_den: int = 4,
    seed: int = 0,
) -> str:
    """DuckDB twin of crop_boxes."""
    M = 2147483648
    return f"""
      with dm as (select image_id, cast(w as bigint) as w, cast(h as bigint) as h
                  from ({imgs_rel}) i),
      d0 as (select image_id, w, h,
                    (w * {crop_num}) // {crop_den} as cw,
                    (h * {crop_num}) // {crop_den} as ch,
                    (((image_id % {M}) * 48271 + {(seed * 2654435761) % M})
                      % {M} * 48271) % {M} as h1
             from dm),
      d as (select image_id, w, h, cw, ch,
                   h1 % greatest(w - cw + 1, 1) as cx,
                   ((h1 * 48271) % {M}) % greatest(h - ch + 1, 1) as cy
            from d0),
      b as ({boxes_rel}),
      j as (select b.*, d.cx, d.cy, d.cw, d.ch,
                   greatest(b.minx, d.cx) as ix0,
                   greatest(b.miny, d.cy) as iy0,
                   least(b.maxx, d.cx + d.cw) as ix1,
                   least(b.maxy, d.cy + d.ch) as iy1
            from b join d on d.image_id = b.image_id),
      v as (select *, greatest(ix1 - ix0, 0) * greatest(iy1 - iy0, 0) as vis,
                   (maxx - minx) * (maxy - miny) as orig
            from j)
      select image_id, box_id, score, minx, miny, maxx, maxy,
             ix0 - cx as cminx, iy0 - cy as cminy,
             ix1 - cx as cmaxx, iy1 - cy as cmaxy,
             cx as crop_x, cy as crop_y, cw as crop_w, ch as crop_h
      from v
      where vis * {vis_den} >= orig * {vis_num} and vis > 0
    """
