#!/usr/bin/env python3
"""Deployment smoke at bench scale (VERDICT r03 #6): build the
--py-files zip, spark-submit the flagship job at 200k rows, and assert
the metrics manifest — the CI-fashion twin of
tests/test_deploy.py::test_spark_submit_multi_executor (which proves
the multi-executor + resume path at 100k).

    python tools/deploy_smoke.py [--rows 200000] [--master MASTER]

MASTER defaults to ``local[N]``, N = geodesk_spark.session.host_cores().

Exit 0 iff the job ran, all four stages committed rows, and the
polygon match counts are non-empty.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from geodesk_spark.session import host_cores  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=200_000)
    ap.add_argument("--master", default=f"local[{host_cores()}]")
    ap.add_argument("--partitions", type=int, default=16)
    args = ap.parse_args()

    if shutil.which("spark-submit") is None:
        print("FAIL  spark-submit not on PATH")
        return 2

    subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "make_pyfiles.py")],
        check=True, capture_output=True,
    )
    env = dict(os.environ)
    env.pop("PYSPARK_DRIVER_PYTHON", None)
    env["PYSPARK_PYTHON"] = sys.executable
    with tempfile.TemporaryDirectory(prefix="deploy_smoke_") as workdir:
        t0 = time.time()
        out = subprocess.run(
            [
                "spark-submit",
                "--master", args.master,
                "--conf", "spark.ui.enabled=false",
                "--conf", "spark.sql.shuffle.partitions=16",
                "--py-files", os.path.join(ROOT, "dist", "geodesk_spark.zip"),
                os.path.join(ROOT, "jobs", "flagship_job.py"),
                "--rows", str(args.rows),
                "--workdir", os.path.join(workdir, "run"),
                "--partitions", str(args.partitions),
            ],
            capture_output=True, text=True, timeout=900, env=env, cwd=ROOT,
        )
        if out.returncode != 0:
            print(f"FAIL  spark-submit rc={out.returncode}\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}")
            return 1
        metrics = [l for l in out.stdout.splitlines() if l.startswith('{"job": "flagship"')]
        if not metrics:
            print(f"FAIL  no metrics manifest line\n{out.stdout[-2000:]}")
            return 1
        m = json.loads(metrics[-1])
        ok = (
            m["input_rows"] == args.rows
            and m.get("matches")
            and sum(m["matches"].values()) > 0
            and all(m["stages"][s]["n_rows"] > 0 for s in ("ingest", "encode", "joined", "rollup"))
        )
        status = "PASS " if ok else "FAIL "
        stages = ", ".join(
            "{}:{}".format(s, m["stages"][s]["n_rows"]) for s in m["stages"]
        )
        print(
            f"{status} deploy_smoke: rows={m['input_rows']} master={args.master} "
            f"matches={sum(m['matches'].values())} stages={{{stages}}} "
            f"job={m['elapsed_sec']}s wall={time.time() - t0:.1f}s"
        )
        return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
