"""Structured Streaming ingest for the image+caption table.

The reference is a static store with snapshot-swap updates
(common/store/FreeStore.java:56-61) and has no streaming surface
(SURVEY.md §2.7).  This module is the engine's incremental-ingest path:
new image batches land as parquet files, a file-source stream assigns
imp coordinates + tiles with the SAME JVM column expressions as the
batch path (geo/mercator.py, operators/tiling.py), and downstream
stateful operators run with exactly-once checkpointing.

Scale design:
- `maxFilesPerTrigger` bounds micro-batch size so a backlog of 10^6
  files drains in memory-bounded steps; with `Trigger.AvailableNow` the
  same job is a resumable batch-incremental drain (the cluster-friendly
  mode — run it from cron, it picks up where the checkpoint left off).
- State is keyed by (window, tile) / (tile): bounded by the tile
  pyramid (≤4^z keys per zoom), not by input size; the watermark evicts
  closed windows so state never grows with stream length.
- The stateful kernel is `applyInPandasWithState` — Arrow-batched
  pandas, no per-row Python, mirroring the batch engine's UDF rules.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType

from geodesk_spark.operators import tiling
from geodesk_spark.sources.synth import SCHEMA_DDL

# ingest event-time column appended by the producer (epoch seconds)
STREAM_SCHEMA_DDL = SCHEMA_DDL + ", ingest_ts timestamp"


def read_image_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 8
) -> DataFrame:
    """File-source stream of image+caption rows (parquet dir)."""
    return (
        spark.readStream.schema(STREAM_SCHEMA_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def with_stream_tiles(stream_df: DataFrame, zoom: int = 8) -> DataFrame:
    """imp encode + tile assignment on a stream — identical JVM column
    expressions as the batch path, so batch and stream agree bit-for-bit."""
    pts = tiling.with_imp_coords(stream_df)
    from geodesk_spark.geo import tile as T

    return pts.withColumn("tile", T.tile_col(F.col("x"), F.col("y"), zoom))


def windowed_tile_counts(
    tiled: DataFrame,
    window: str = "10 minutes",
    watermark: str = "20 minutes",
) -> DataFrame:
    """Per-tile windowed ingest counts with late-data handling.

    Watermark bounds state: a (window, tile) group is finalized and
    evicted once event time passes window end + watermark; later rows
    are dropped (counted upstream via observe() metrics if needed)."""
    return (
        tiled.withWatermark("ingest_ts", watermark)
        .groupBy(F.window("ingest_ts", window).alias("win"), "tile")
        .agg(
            F.count("*").alias("n_rows"),
            F.approx_count_distinct("image_id").alias("n_distinct_ids"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "tile",
            "n_rows",
            "n_distinct_ids",
        )
    )


def streaming_dedup(tiled: DataFrame, watermark: str = "20 minutes") -> DataFrame:
    """Exactly-once image_id dedup across micro-batches: a re-ingested
    id is dropped even when it arrives with a DIFFERENT timestamp, as
    long as the copies fall within the watermark window — state is keyed
    by image_id alone and evicted after the watermark passes
    (dropDuplicatesWithinWatermark; the streaming analog of exact_dedup)."""
    return tiled.withWatermark("ingest_ts", watermark).dropDuplicatesWithinWatermark(
        ["image_id"]
    )


_TILE_STATE_SCHEMA = "n long, sum_x double, sum_y double"
_TILE_OUT_SCHEMA = "tile int, n_total long, cx double, cy double"


def _tile_stats_fn(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Running per-tile count + centroid, carried across micro-batches."""
    n, sx, sy = state.get if state.exists else (0, 0.0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        sx += float(pdf["x"].sum())
        sy += float(pdf["y"].sum())
    state.update((n, sx, sy))
    yield pd.DataFrame(
        {"tile": [key[0]], "n_total": [n], "cx": [sx / max(n, 1)], "cy": [sy / max(n, 1)]}
    )


def running_tile_stats(tiled: DataFrame) -> DataFrame:
    """Custom stateful operator: applyInPandasWithState keyed by tile.

    Demonstrates the engine's arbitrary-stateful surface (the batch
    engine's applyInPandas kernels lift to streaming unchanged: same
    Arrow batch shape, plus a GroupState handle).  State size = one
    12-byte tuple per live tile."""
    return (
        tiled.select("tile", "x", "y")
        .groupBy("tile")
        .applyInPandasWithState(
            _tile_stats_fn,
            outputStructType=_TILE_OUT_SCHEMA,
            stateStructType=_TILE_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def drain_to_memory(
    spark: SparkSession, result: DataFrame, name: str, checkpoint_dir: str, output_mode: str
) -> DataFrame:
    """AvailableNow drain into an in-memory sink (tests/small results).
    NB: the memory sink cannot RESUME from a checkpoint — use
    drain_foreach_batch for resumable drains."""
    q = (
        result.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def drain_foreach_batch(
    result: DataFrame, out_dir: str, checkpoint_dir: str, output_mode: str = "update"
) -> None:
    """Resumable AvailableNow drain via foreachBatch → parquet append.

    Unlike the memory/file sinks, foreachBatch supports BOTH update-mode
    stateful output and checkpoint recovery; each micro-batch appends
    its rows stamped with batch_id, so the latest batch_id per key is
    the current value (an upsert log — in production the writer would be
    an Iceberg MERGE).  Exactly-once: Spark replays an interrupted batch
    under the same batch_id; readers reduce by max(batch_id)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            out_dir
        )

    q = (
        result.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


_GEOFENCE_OUT_SCHEMA = (
    "user_id long, ts_us long, event_id long, "
    "prev_fence string, fence string, kind string"
)
# state: the user's last seen fence (empty string encodes OUTSIDE — the
# state tuple itself existing distinguishes "seen before" from "new user")
_GEOFENCE_STATE_SCHEMA = "last_fence string"


def _geofence_fn(key, pdfs, state):
    import pandas as pd

    if state.exists:
        (enc,) = state.get
        prev = None if enc == "" else enc
        seen = True
    else:
        prev, seen = None, False
    pdf = pd.concat(list(pdfs), ignore_index=True)
    pdf = pdf.sort_values(["ts_us", "event_id"], kind="mergesort")
    out = {k: [] for k in ("user_id", "ts_us", "event_id", "prev_fence", "fence", "kind")}
    for ts, eid, fence in zip(pdf["ts_us"], pdf["event_id"], pdf["fence_id"]):
        fence = None if pd.isna(fence) else fence
        if seen and fence == prev:
            continue
        if not seen and fence is None:
            seen = True
            continue
        out["user_id"].append(key[0])
        out["ts_us"].append(int(ts))
        out["event_id"].append(int(eid))
        out["prev_fence"].append(prev)
        out["fence"].append(fence)
        out["kind"].append(
            "exit" if fence is None else ("enter" if prev is None else "switch")
        )
        prev, seen = fence, True
    state.update(("" if prev is None else prev,))
    yield pd.DataFrame(out)


def streaming_geofence_transitions(located: DataFrame) -> DataFrame:
    """Streaming twin of relational.geofence_transitions: per-user fence
    state carried across micro-batches by applyInPandasWithState — the
    real-time geofencing surface (alert on enter/exit as events arrive).

    Contract: micro-batches must arrive time-ordered per user (the CDC
    in-order-feed assumption; a range-partitioned file feed or a
    per-key-ordered log satisfies it) — rows inside a batch are sorted
    in the kernel, state bridges batch boundaries.  The batch operator
    is the oracle: draining any in-order split of the feed must emit
    exactly the batch transition set.

    Input (user_id, ts_us, event_id, fence_id); state = one string per
    live user."""
    return (
        located.select("user_id", "ts_us", "event_id", "fence_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            _geofence_fn,
            outputStructType=_GEOFENCE_OUT_SCHEMA,
            stateStructType=_GEOFENCE_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
