"""Checks of the benchmark's own output checks (no Spark needed):

    python3 -m pytest -q perfbench/test_checks.py

A planted wrong answer must fail the check and count as a failed call.
"""

from __future__ import annotations

import numpy as np

import gen
import reference
import run
from tracer import NullTracer, metric_value


def _square(x0, y0, x1, y1):
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], dtype=np.float64)


def test_pip_counts_half_open_and_holes():
    layer = [("sq", [_square(0, 0, 10, 10), _square(4, 4, 6, 6)])]
    x = np.array([1, 5, 9, 0, 10, 5, 5], dtype=np.int64)
    y = np.array([1, 5, 9, 5, 5, 0, 10], dtype=np.int64)
    # (5,5) is in the hole; on the boundary the half-open rule takes the
    # left (x=0) and bottom (y=0) edges and leaves the right and top ones
    assert reference.pip_counts(x, y, layer) == {"sq": 4}


def test_pip_counts_matches_brute_force():
    layer = gen.polygon_rings(3, heavy=False)
    pts = gen.points(3, 20_000)
    x, y = reference.projected(pts)
    want = {}
    for poly_id, rings in layer:
        inside = np.zeros(len(x), dtype=bool)
        for r in rings:
            x1, y1 = r[:-1, 0][:, None], r[:-1, 1][:, None]
            x2, y2 = r[1:, 0][:, None], r[1:, 1][:, None]
            cross = ((y1 <= y) & (y2 > y)) | ((y1 > y) & (y2 <= y))
            with np.errstate(divide="ignore", invalid="ignore"):
                hit = cross & (x < x1 + (y - y1) / (y2 - y1) * (x2 - x1))
            inside ^= (hit.sum(axis=0) & 1).astype(bool)
        if inside.any():
            want[poly_id] = int(inside.sum())
    assert reference.pip_counts(x, y, layer) == want


def test_planted_wrong_count_fails():
    ref = {"a": 3, "b": 5}
    assert reference.check_counts({"a": 3, "b": 5}, ref) is None
    assert reference.check_counts({"a": 3, "b": 6}, ref) is not None
    assert reference.check_counts({"a": 3}, ref) is not None


def test_knn_ties_accepted_and_wrong_id_fails():
    x = np.array([0, 10, -10, 50, 100], dtype=np.int64)
    y = np.zeros(5, dtype=np.int64)
    q = {"query_id": np.array(["q"], dtype=object), "x": np.array([0]), "y": np.array([0])}
    ref = reference.knn_reference(x, y, q, k=2)
    d = reference.distance_m(x, y, 0.0, 0.0)
    # ids 1 and 2 tie at the k-th distance: either one is a right answer
    assert reference.check_knn([("q", 0, d[0]), ("q", 1, d[1])], ref, 2) is None
    assert reference.check_knn([("q", 0, d[0]), ("q", 2, d[2])], ref, 2) is None
    assert reference.check_knn([("q", 0, d[0]), ("q", 4, d[4])], ref, 2) is not None
    assert reference.check_knn([("q", 0, d[0])], ref, 2) is not None


class _Planted:
    """A workload whose second call returns a wrong count."""

    def __init__(self):
        self.calls = 0

    def call(self, spark, tr):
        self.calls += 1
        return {"a": 3 + (self.calls == 2)}

    def check(self, result):
        return reference.check_counts(result, {"a": 3})


def test_planted_wrong_answer_counts_in_failed_frac():
    tally = run.Tally()
    times = run.measure(_Planted(), None, NullTracer(), tally, seconds=0, min_calls=3)
    assert tally.failed == 1 and len(times) >= 3
    assert tally.attempted == len(times) + 1
    assert tally.failed / tally.attempted > 0


def test_metric_value_parses_status_store_strings():
    assert metric_value("1,234,567") == 1234567
    assert metric_value("total (min, med, max (stageId: taskId))\n1.5 MiB (0.1 MiB, ...)") == 1.5 * 2**20
    assert metric_value("total (min, med, max)\n250 ms (1 ms, 2 ms, 3 ms)") == 0.25


def test_measure_gives_up_on_a_workload_that_always_fails():
    class Broken(_Planted):
        def call(self, spark, tr):
            raise RuntimeError("planted")

    tally = run.Tally()
    assert run.measure(Broken(), None, NullTracer(), tally, seconds=0, min_calls=2) == []
    assert (tally.attempted, tally.failed) == (4, 4)

