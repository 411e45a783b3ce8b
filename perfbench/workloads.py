"""The benchmark's workloads, each driven through the engine's public
functions only.

A workload owns its inputs and reference answers (``load``), the part
of set-up that belongs to the engine (``prepare``), one job (``call``,
whose result ``check`` compares with the reference) and, for traced
runs, the per-layer numbers it can report (``layer_metrics``).  Every
call into the engine sits inside a tracer span named after the module
and function it calls.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import gen
import reference
from tracer import count_nodes, sql_sum

STAGES = ("encode", "joined", "rollup")


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _cached_json(path: str, compute):
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = compute()
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(value, f)
    os.replace(tmp, path)
    return value


def _spans(tr, name, phase="warm"):
    return [s for s in tr.spans if s["name"] == name and s["phase"] == phase]


def _durations(spans):
    return [s["end"] - s["start"] for s in spans]


def _median_of(spans, fn):
    return _median([fn([s]) for s in spans])


def _tree_bytes(root: str) -> tuple[int, int]:
    """(parquet files, bytes of every file) under ``root``."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += n.endswith(".parquet")
    return files, size


class _PointsWorkload:
    """The seeded point table, its projection and the variant plans."""

    def __init__(self, cache: str, seed: int, n_points: int):
        self.cache = cache
        self.seed = seed
        self.rows = n_points

    def load(self) -> None:
        self.path = gen.points_parquet(self.cache, self.seed, self.rows)
        self.x, self.y = reference.projected(gen.points(self.seed, self.rows))

    def _ref_path(self, tag: str) -> str:
        return os.path.join(self.cache, f"ref_{tag}_s{self.seed}_n{self.rows}.json")

    def variant_times(self, spark, reps: int = 3) -> dict[str, float]:
        """Median time of the scan-only and scan+tiling variant plans.
        Whole-stage codegen fuses scan, projection and join into one
        stage, so a layer's cost shows only as a difference of plans."""
        from pyspark.sql import functions as F

        from geodesk_spark.operators import tiling

        def scan():
            return spark.read.parquet(self.path).select(F.sum("pid"), F.sum("lon"), F.sum("lat"))

        def scan_tiling():
            df = tiling.with_point_tiles(tiling.with_imp_coords(spark.read.parquet(self.path)))
            return df.select(F.sum("pid"), F.sum("x"), F.sum("y"), F.sum("cell"))

        out = {}
        for name, plan in (("scan", scan), ("scan_tiling", scan_tiling)):
            ts = []
            for _ in range(reps):
                t0 = time.perf_counter()
                plan().collect()
                ts.append(time.perf_counter() - t0)
            out[name] = _median(ts)
        return out

    @staticmethod
    def scan_metrics(spans) -> dict:
        return {
            "scan.rows": _median_of(spans, lambda s: sql_sum(s, "Scan", "number of output rows")),
            "scan.bytes_read": _median_of(spans, lambda s: sql_sum(s, "Scan", "size of files read")),
            "scan.tasks": _median([s["stages"]["scan_tasks"] for s in spans]),
        }


class StagedWorkload(_PointsWorkload):
    """The flagship job's stage shape (``jobs/flagship_job.py``):
    ``Pipeline.stage`` runs encode (scan → ``tiling.with_imp_coords`` /
    ``with_point_tiles``) → joined (``spatial_join.contains_points``
    against the light polygon layer) → rollup (per-polygon count), each
    a parquet snapshot with lineage, in a fresh workdir.  ``resume``
    re-runs it over the committed stages."""

    def __init__(self, cache: str, seed: int, n_points: int, workdir: str):
        super().__init__(cache, seed, n_points)
        self.workdir = workdir
        self.resume_s: list[float] = []
        self.stored_bytes: list[int] = []

    def load(self) -> None:
        from geodesk_spark.geo import pip

        super().load()
        layer = gen.polygon_rings(self.seed, heavy=False)
        self.layer_input = [{"poly_id": p, "rings": pip.pack_rings(r)} for p, r in layer]
        self.ref = _cached_json(self._ref_path("light"),
                                lambda: reference.pip_counts(self.x, self.y, layer))

    def prepare(self, tr) -> None:
        from geodesk_spark.operators import spatial_join

        with tr.span("spatial_join.prepare_layer"):
            self.prepared = spatial_join.prepare_layer(self.layer_input)

    def _run(self, spark, tr, pipe):
        from pyspark.sql import functions as F

        from geodesk_spark.operators import spatial_join, tiling

        def encode(s):
            with tr.span("tiling.with_imp_coords"):
                pts = tiling.with_imp_coords(s.read.parquet(self.path))
            with tr.span("tiling.with_point_tiles"):
                return tiling.with_point_tiles(pts)

        def joined(s):
            pts = pipe.read("encode").select("pid", "x", "y", "cell")
            with tr.span("spatial_join.contains_points"):
                return spatial_join.contains_points(
                    pts, self.prepared, keep_cols=["pid", "cell"])

        def rollup(s):
            return pipe.read("joined").groupBy("poly_id").agg(F.count("*").alias("n"))

        for name, fn, inputs in (("encode", encode, None), ("joined", joined, ["encode"]),
                                 ("rollup", rollup, ["joined"])):
            with tr.span(f"checkpoint.stage.{name}"):
                out = pipe.stage(name, fn, inputs=inputs)
        return {r["poly_id"]: r["n"] for r in out.collect()}

    def call(self, spark, tr):
        from geodesk_spark.streaming.checkpoint import Pipeline

        shutil.rmtree(self.workdir, ignore_errors=True)
        pipe = Pipeline(spark, self.workdir)
        with tr.span("checkpoint.pipeline") as rec:
            out = self._run(spark, tr, pipe)
        if rec is not None:
            rec["write_s"] = {n: pipe.lineage(n)["elapsed_sec"] for n in STAGES}
        return out

    def check(self, result) -> str | None:
        return reference.check_counts(result, self.ref)

    def resume(self, spark, tr) -> str | None:
        """Re-run over the committed stages: the rollup must match the
        reference and no stage may commit a new snapshot."""
        from geodesk_spark.streaming.checkpoint import Pipeline

        pipe = Pipeline(spark, self.workdir)
        n_log = len(pipe.snapshots())
        with tr.span("checkpoint.resume"):
            err = self.check(self._run(spark, tr, pipe))
        if err is None and len(pipe.snapshots()) != n_log:
            err = f"resume committed {len(pipe.snapshots()) - n_log} new snapshots"
        self.stored_bytes.append(_tree_bytes(self.workdir)[1])
        return err

    def layer_metrics(self, spark, tr) -> dict:
        # the warm pipelines only, not the stages a resume skipped
        pipelines = _spans(tr, "checkpoint.pipeline")
        stage = {n: [s for s in _spans(tr, f"checkpoint.stage.{n}")
                     if tr.spans[s["parent"]]["name"] == "checkpoint.pipeline"]
                 for n in STAGES}
        joined, rollup = stage["joined"], stage["rollup"]
        m = self.scan_metrics(stage["encode"])
        m.update({
            "prepare.band_cells": sum(len(p.qt_cells) for p in self.prepared),
            "prepare.segments": sum(len(r) - 1 for p in self.prepared for r in p.rings),
            "probe.rows": _median_of(joined, lambda s: sql_sum(s, "Generate", "number of output rows")),
            "bandjoin.rows": _median_of(
                joined, lambda s: sql_sum(s, "BroadcastHashJoin", "number of output rows")),
            "bandjoin.broadcast_bytes": _median_of(
                joined, lambda s: sql_sum(s, "BroadcastExchange", "data size")),
            "bandjoin.build_ms": 1e3 * _median_of(
                joined, lambda s: sql_sum(s, "BroadcastExchange", "time to build")),
            "codegen.pipeline_ms": 1e3 * _median_of(
                joined, lambda s: sql_sum(s, "WholeStageCodegen", "duration")),
            "codegen.stages": _median_of(joined, lambda s: count_nodes(s, "WholeStageCodegen")),
            # rows the rollup stage reads from the joined snapshot
            "rollup.rows": _median_of(rollup, lambda s: sql_sum(s, "Scan", "number of output rows")),
            "rollup.shuffle_bytes": _median_of(
                rollup, lambda s: sql_sum(s, "Exchange", "shuffle bytes written")),
        })
        # the exact test's matches: the join's output rows (as the joined
        # stage's write counts them) less the pairs matched by INTERIOR cells
        candidates, interior = reference.band_hits(self.x, self.y, self.prepared)
        matches = _median_of(joined, lambda s: sql_sum(
            s, "Execute InsertIntoHadoopFsRelationCommand", "number of output rows")) - interior
        m["exact.candidates"] = candidates
        m["exact.matches"] = matches
        m["exact.hit_ratio"] = matches / candidates if candidates else 0.0

        stage_s = {n: _median(_durations(stage[n])) for n in STAGES}
        write_s = {n: _median([p["write_s"][n] for p in pipelines]) for n in STAGES}
        for n in STAGES:
            m[f"checkpoint.stage_s.{n}"] = stage_s[n]
            m[f"checkpoint.write_s.{n}"] = write_s[n]
        m["checkpoint.commit_s"] = sum(stage_s.values()) - sum(write_s.values())
        files, size = _tree_bytes(self.workdir)
        m["checkpoint.files"] = files
        m["checkpoint.bytes"] = size
        m["checkpoint.resume_s"] = _median(self.resume_s)
        m["checkpoint.bytes_per_row"] = size / self.rows
        return m


class KnnWorkload(_PointsWorkload):
    """``knn.knn_join``: the k nearest points for every row of a small
    query table, half of it in city hot spots and half uniform."""

    def __init__(self, cache: str, seed: int, n_points: int, n_queries: int, k: int):
        super().__init__(cache, seed, n_points)
        self.n_queries = n_queries
        self.k = k

    def load(self) -> None:
        super().load()
        self.queries = gen.queries(self.seed, self.n_queries)

        def compute():
            ref = reference.knn_reference(self.x, self.y, self.queries, self.k)
            return {q: [kth, {str(p): d for p, d in near.items()}]
                    for q, (near, kth) in ref.items()}

        raw = _cached_json(self._ref_path(f"knn_q{self.n_queries}_k{self.k}"), compute)
        self.ref = {q: ({int(p): d for p, d in near.items()}, kth)
                    for q, (kth, near) in raw.items()}

    def prepare(self, tr) -> None:
        pass

    def call(self, spark, tr):
        import pandas as pd

        from geodesk_spark.operators import knn, tiling

        with tr.span("tiling.with_imp_coords"):
            pts = tiling.with_imp_coords(spark.read.parquet(self.path)).select("pid", "x", "y")
        qdf = spark.createDataFrame(pd.DataFrame(self.queries))
        with tr.span("knn.knn_join"):
            out = knn.knn_join(pts, qdf, self.k, id_col="pid")
            return [(r["query_id"], r["pid"], r["dist_m"]) for r in out.collect()]

    def check(self, result) -> str | None:
        return reference.check_knn(result, self.ref, self.k)

    def layer_metrics(self, spark, tr) -> dict:
        calls = _spans(tr, "knn.knn_join")
        cand = _median_of(calls, lambda s: sql_sum(s, "BroadcastHashJoin", "number of output rows"))
        m = self.scan_metrics(calls)
        m.update({
            "knn.call_s": _median(_durations(calls)),
            "knn.jobs": _median([s["stages"]["jobs"] for s in calls]),
            "knn.candidates": cand,
            "knn.candidates_per_result": cand / (self.n_queries * self.k),
            "knn.shuffle_bytes": _median([s["stages"]["shuffle_write_bytes"] for s in calls]),
            "knn.spill_bytes": _median([s["stages"]["spill_bytes"] for s in calls]),
        })
        return m


# Sizes are fixed here so that every run of a workload does the same
# work; LAYERS.md says what each workload isolates.
WORKLOADS = {
    "staged_pipeline": lambda cache, seed, work: StagedWorkload(cache, seed, 500_000, work),
    "knn_skewed": lambda cache, seed, work: KnnWorkload(cache, seed, 500_000, 50, 10),
}
