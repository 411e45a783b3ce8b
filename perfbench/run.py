"""The repo's benchmark: one seeded workload through the engine's public
functions on ``local[nproc]`` in this one driver process.

    python3 perfbench/run.py --workload staged_pipeline --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Inputs and reference answers are made
from ``--seed`` and cached under ``.perfbench/`` in the checkout, which
also holds Spark's local dirs and temp files for the run (removed when
it ends).  Every call's output is checked against the reference.

A run has three parts:

1. set-up: start the session (the JVM launch), then ``1 + SETUP_CYCLES``
   times prepare the workload's layer and make the first call, with the
   engine's per-process memo caches emptied before each cycle.  The
   first cycle also pays for the cold JIT and only warms up; ``setup_s``
   is the session start plus the median of the other cycles;
2. warm calls in the same session for ``--seconds`` seconds;
3. with ``--trace 1``: the warm calls run inside tracer spans, then up
   to ``UNTRACED_CALLS`` run untraced (the difference is the tracing
   overhead),
   then the scan-only and scan+tiling variant plans.

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``
with the end-to-end metrics for ``--trace 0`` and the per-layer ones for
``--trace 1`` (LAYERS.md maps each layer metric to the end-to-end metric
it should move).  The lines before it name the host and summarise.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SETUP_CYCLES = 2
MIN_CALLS = 3
UNTRACED_CALLS = 3  # untraced warm calls a traced run makes, for the overhead
# driver heap in MiB: fixed, so peak RSS does not move with the host's
# free memory, unless a quarter of MemAvailable is less
DRIVER_MB = 2048
KEEP_INPUTS = 12  # point tables kept in the cache, newest first

END_TO_END = {"job_s": "s", "rows_per_s": "1/s", "setup_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s",
    "scan.s": "s", "scan.rows": "count", "scan.bytes_read": "bytes", "scan.tasks": "count",
    "tiling.s": "s",
    "prepare.s": "s", "prepare.band_cells": "count", "prepare.segments": "count",
    "join.plan_s.cold": "s", "join.plan_s.warm": "s",
    "probe.rows": "count", "bandjoin.rows": "count", "bandjoin.broadcast_bytes": "bytes",
    "bandjoin.build_ms": "ms",
    "exact.candidates": "count", "exact.matches": "count", "exact.hit_ratio": "ratio",
    "codegen.pipeline_ms": "ms", "codegen.stages": "count",
    "rollup.rows": "count", "rollup.shuffle_bytes": "bytes",
    "knn.call_s": "s", "knn.jobs": "count", "knn.candidates": "count",
    "knn.candidates_per_result": "ratio", "knn.shuffle_bytes": "bytes",
    "knn.spill_bytes": "bytes",
    **{f"checkpoint.{k}.{n}": "s" for k in ("stage_s", "write_s")
       for n in ("encode", "joined", "rollup")},
    "checkpoint.commit_s": "s", "checkpoint.files": "count", "checkpoint.bytes": "bytes",
    "checkpoint.resume_s": "s", "checkpoint.bytes_per_row": "bytes/row",
    "tasks.failed": "count",
    "jvm.heap_peak_mb": "MB",
    "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# -- host ------------------------------------------------------------------

def meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def host_info() -> dict:
    cores = len(os.sched_getaffinity(0))
    avail_mb = meminfo_kb("MemAvailable") // 1024
    # at most a quarter of what is free: the host is shared and the
    # Python workers and page cache need the rest
    driver_mb = DRIVER_MB if avail_mb >= 4 * DRIVER_MB else max(1024, avail_mb // 4)
    if driver_mb != DRIVER_MB:
        log(f"perfbench: only {avail_mb} MiB free; driver memory {driver_mb} MiB, "
            f"not {DRIVER_MB}: peak_rss_mb is not comparable with other hosts")
    return {
        "nproc": cores,
        "mem_total_mb": meminfo_kb("MemTotal") // 1024,
        "mem_available_mb": avail_mb,
        "driver_memory_mb": driver_mb,
        "disk_free_gb": round(shutil.disk_usage(ROOT).free / 2**30, 1),
    }


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process and all its descendants: the JVM
    and the Python workers it forks."""
    kids = _children()
    todo, total = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        total += _vm_hwm_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total / 1024


# -- session ---------------------------------------------------------------

def start_session(host: dict, local_dir: str):
    from geodesk_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        cores=host["nproc"],
        extra_conf={
            "spark.driver.memory": f"{host['driver_memory_mb']}m",
            # a fixed heap: no resizing to make peak RSS depend on GC timing
            "spark.driver.extraJavaOptions":
                f"-Xms{host['driver_memory_mb']}m -Djava.io.tmpdir={local_dir}",
            "spark.sql.warehouse.dir": os.path.join(local_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def clear_engine_caches() -> None:
    """Empty the engine's per-process memo of prepared layers and band
    tables, releasing the cached band frames and rings broadcasts, so a
    set-up cycle prepares anew.  Raises AttributeError if the
    engine no longer has these caches: the set-up cycles would then
    silently turn into warm calls."""
    from geodesk_spark.operators import spatial_join

    for entry in spatial_join._BANDS_CACHE.values():
        entry["bands"].unpersist()
        if entry["rings_bc"] is not None:
            entry["rings_bc"].unpersist()
    spatial_join._BANDS_CACHE.clear()
    spatial_join._PREPARED_CACHE.clear()


def heap_pools(spark):
    """The JVM's heap memory pools (MemoryPoolMXBeans)."""
    jvm = spark.sparkContext._jvm
    pools = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    heap = jvm.java.lang.management.MemoryType.HEAP
    return [p for p in pools if p.getType().equals(heap)]


def heap_peak_mb(pools) -> float:
    """Sum of the pools' peak usage since their last reset."""
    return sum(p.getPeakUsage().getUsed() for p in pools) / 2**20


def shutdown(spark) -> None:
    """Stop the session and wait for the JVM (and its workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# -- measurement -----------------------------------------------------------

class Tally:
    """Calls attempted and failed; a call fails when it raises or when
    its output differs from the reference."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, fn):
        """Time ``fn() -> error or None``; return seconds, or None when it failed."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            err = fn()
        except Exception:
            err = traceback.format_exc(limit=3)
        dt = time.perf_counter() - t0
        if err:
            self.failed += 1
            log(f"FAILED: {err}")
            return None
        return dt


def setup(wl, host, local_dir, tally, make_tracer):
    """Start the session (and so the JVM), then 1 + SETUP_CYCLES times
    prepare + first call, each with the engine's memo caches emptied, so
    each pays for preparation and for the first call's cached band table.
    The first cycle also pays for the cold JIT; it is the warm-up and is
    not among the returned cycle times.  Returns the session, its tracer,
    the session start time and the other cycles' times."""
    t0 = time.perf_counter()
    spark = start_session(host, local_dir)
    session_s = time.perf_counter() - t0
    tr = make_tracer(spark)
    times = []
    for cycle in range(1 + SETUP_CYCLES):
        clear_engine_caches()

        def first():
            wl.prepare(tr)
            return wl.check(wl.call(spark, tr))

        dt = tally.run(first)
        if cycle and dt is not None:
            times.append(dt)
    return spark, tr, session_s, times


def measure(wl, spark, tr, tally, seconds, min_calls=MIN_CALLS):
    """Warm calls until the next one would end past ``seconds``, and at
    least ``min_calls`` that succeed unless twice as many were tried.
    Returns the times of the calls that succeeded."""
    times = []
    t_start = time.perf_counter()
    for attempt in itertools.count(1):
        dt = tally.run(lambda: wl.check(wl.call(spark, tr)))
        if dt is not None:
            times.append(dt)
        resume = getattr(wl, "resume", None)
        if resume is not None and dt is not None:
            rt = tally.run(lambda: resume(spark, tr))
            if rt is not None:
                wl.resume_s.append(rt)
        elapsed = time.perf_counter() - t_start
        per_call = elapsed / max(len(times), 1)
        if len(times) >= min_calls and elapsed + per_call > seconds:
            return times
        if attempt >= 2 * min_calls and elapsed > seconds:
            return times


# -- main ------------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import pyspark
        import geodesk_spark  # noqa: F401
    except ImportError as e:
        log(f"perfbench: cannot import the engine from {ROOT}: {e}")
        return 2
    import workloads
    from tracer import NullTracer, Tracer

    if args.workload not in workloads.WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; "
            f"known: {', '.join(workloads.WORKLOADS)}")
        return 2

    host = host_info()
    host.update(pyspark=pyspark.__version__, python=sys.version.split()[0])
    cache = os.path.join(WORK, "cache")
    run_dir = os.path.join(WORK, "run", str(os.getpid()))
    local_dir = os.path.join(run_dir, "local")
    results = os.path.join(WORK, "results")
    for d in (cache, local_dir, results):
        os.makedirs(d, exist_ok=True)
    prune_cache(cache)
    prune_runs(os.path.dirname(run_dir))
    # Spark's local dirs, the JVM's and Python's temp files and the Python
    # workers' import path all stay inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    os.environ["TMPDIR"] = local_dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

    wl = workloads.WORKLOADS[args.workload](cache, args.seed, os.path.join(run_dir, "pipeline"))
    wl.load()

    tally = Tally()
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    make_tracer = (lambda s: Tracer(s, run_id)) if args.trace else (lambda s: NullTracer())
    spark = None
    try:
        spark, tr, session_s, setup_times = setup(wl, host, local_dir, tally, make_tracer)
        host["spark"] = spark.version
        tr.phase = "warm"
        pools = heap_pools(spark)
        for p in pools:
            p.resetPeakUsage()
        steal0 = steal_s()
        t0 = time.perf_counter()
        times = measure(wl, spark, tr, tally, args.seconds)
        steal = (steal_s() - steal0) / (os.cpu_count() * (time.perf_counter() - t0))
        heap_mb = heap_peak_mb(pools)
        if not times or not setup_times:
            log("perfbench: no call succeeded; nothing to report")
            return 1
        job_s = statistics.median(times)
        setup_s = session_s + statistics.median(setup_times)
        if args.trace:
            untraced = measure(wl, spark, NullTracer(), tally, 0,
                               min_calls=min(len(times), UNTRACED_CALLS))
            metrics = layer_metrics(wl, spark, tr, session_s, job_s, statistics.median(untraced))
            metrics["jvm.heap_peak_mb"] = heap_mb
            tr.dump(os.path.join(results, f"{run_id}-spans.json"))
        else:
            metrics = {
                "job_s": job_s,
                "rows_per_s": wl.rows / job_s,
                "setup_s": setup_s,
                "peak_rss_mb": peak_rss_mb(),
            }
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    units = PER_LAYER if args.trace else END_TO_END
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()},
    }
    summary = {"failed_frac": tally.failed / tally.attempted,
               "warm_calls_s": times, "steal_share": steal,
               "session_start_s": session_s, "setup_cycles_s": setup_times,
               "setup_s": setup_s}
    if hasattr(wl, "resume_s"):
        summary["resume_s"] = statistics.median(wl.resume_s) if wl.resume_s else None
        summary["stored_bytes_per_row"] = (
            statistics.median(wl.stored_bytes) / wl.rows if wl.stored_bytes else None)
    print("host " + json.dumps(host, sort_keys=True))
    print("summary " + json.dumps(summary, sort_keys=True))
    with open(os.path.join(results, f"{run_id}-t{args.trace}.json"), "w") as f:
        json.dump({"host": host, "summary": summary, **result}, f, indent=1)
    print(json.dumps(result))
    return 0


def layer_metrics(wl, spark, tr, session_s, traced_s, untraced_s) -> dict:
    m = {
        "session.start_s": session_s,
        "trace.overhead_s": traced_s - untraced_s,
        "tasks.failed": sum(s.get("stages", {}).get("failed_tasks", 0) for s in tr.spans),
    }

    def median_s(name, phase):
        ts = [s["end"] - s["start"] for s in tr.spans if s["name"] == name and s["phase"] == phase]
        return statistics.median(ts) if ts else 0.0

    m["prepare.s"] = median_s("spatial_join.prepare_layer", "setup")
    m["join.plan_s.cold"] = median_s("spatial_join.contains_points", "setup")
    m["join.plan_s.warm"] = median_s("spatial_join.contains_points", "warm")
    m.update(wl.layer_metrics(spark, tr))
    v = wl.variant_times(spark)
    m["scan.s"] = v["scan"]
    m["tiling.s"] = v["scan_tiling"] - v["scan"]
    return m


def prune_runs(runs: str) -> None:
    """Remove the run dirs of runs that were killed before cleaning up."""
    for d in os.listdir(runs):
        if not os.path.exists(f"/proc/{d}"):
            shutil.rmtree(os.path.join(runs, d), ignore_errors=True)


def prune_cache(cache: str) -> None:
    """Keep the newest KEEP_INPUTS point tables (and their references)."""
    tables = sorted(
        (d for d in os.listdir(cache) if d.startswith("points_")),
        key=lambda d: os.path.getmtime(os.path.join(cache, d)), reverse=True)
    for d in tables[KEEP_INPUTS:]:
        shutil.rmtree(os.path.join(cache, d), ignore_errors=True)
        tag = d[len("points"):]
        for f in os.listdir(cache):
            if f.startswith("ref_") and f.endswith(tag + ".json"):
                os.remove(os.path.join(cache, f))


if __name__ == "__main__":
    sys.exit(main())
