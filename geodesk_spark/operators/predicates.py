"""Spatial-predicate broadcast joins for line/polygon features.

The full predicate surface of the reference (filter/*.java — SURVEY
§2.3) over geometry-carrying features, with the reference's tile-based
work avoidance (Filter.filterForTile, AbstractRelateFilter.java:61-72):

- candidates: feature bbox ∩ polygon bbox (vectorized per Arrow batch);
- waive band: the feature's bbox lies in ≤ 2×2 cells of one level of
  the polygon's quadtree classification (``PreparedPolygon.qt_cells``,
  the same bands the point joins read), all INTERIOR →
  within/covered_by/intersects are TRUE and disjoint/touches/crosses
  FALSE without any geometry test (FastTileFilter.java:40-60);
- boundary band: exact `geom.relate` kernel on the candidate subset.

Feature geometry travels as the packed-rings blob (geo/pip.py) in a
binary column ``geom``; ``gkind`` ∈ {'line','polygon'}.  Point features
use the cheaper operators in spatial_join.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from geodesk_spark.geo import geom, pip
from geodesk_spark.operators.spatial_join import INTERIOR, PreparedPolygon, _cell_ids

# Predicate result when the feature's bbox-tiles are all INTERIOR
# (strictly inside the polygon): the geometry test can be waived.
_INTERIOR_WAIVE = {
    "intersects": True,
    "within": True,
    "covered_by": True,
    "disjoint": False,
    "touches": False,
    "crosses": False,
    "overlaps": False,  # feature fully inside ⇒ not overlaps (needs outside part)
    "contains": False,  # feature inside polygon cannot contain it
}

# User-defined predicates — the reference's Filter extension point
# (feature/Filter.java:18-90): an exact kernel plus planner metadata.
# kernel(rings: list[np.ndarray], gkind: str, poly_rings) -> bool;
# interior_waive: the constant verdict when the feature sits strictly
# inside the polygon (FilterStrategy fast-tile analog), or None to
# always run the kernel.
_CUSTOM: dict[str, tuple[bool | None, object]] = {}


def register_predicate(name: str, kernel, interior_waive: bool | None = None) -> None:
    """Kernels from outside the geodesk_spark package are serialized BY
    VALUE (cloudpickle) so executors never need the defining module on
    their import path — matching how user Filters reach the reference's
    workers as compiled objects, not classpath entries."""
    if name in _INTERIOR_WAIVE:
        raise ValueError(f"{name!r} is a built-in predicate")
    mod = getattr(kernel, "__module__", "") or ""
    if not mod.startswith("geodesk_spark"):
        import sys

        from pyspark import cloudpickle

        module = sys.modules.get(mod)
        if module is not None:
            cloudpickle.register_pickle_by_value(module)
    _CUSTOM[name] = (interior_waive, kernel)


def _interior_bboxes(p: PreparedPolygon, minx, miny, maxx, maxy) -> np.ndarray:
    """Which bboxes (float64 imp arrays) lie inside ``p`` by its quadtree
    bands alone: at some level of ``p.qt_cells``, the bbox spans at most
    2×2 cells and all four corner cells are INTERIOR.  Sound: those ≤ 4
    cells cover the bbox, and an INTERIOR cell is untouched by every
    segment bbox and has its centre inside."""
    inner = p.qt_cells[p.qt_codes == INTERIOR]
    out = np.zeros(len(minx), dtype=bool)
    if len(inner) == 0:
        return out
    x0 = minx.astype(np.int64) + (1 << 31)
    x1 = maxx.astype(np.int64) + (1 << 31)
    y0 = (1 << 31) - 1 - maxy.astype(np.int64)
    y1 = (1 << 31) - 1 - miny.astype(np.int64)
    for z in np.unique(inner >> 40).tolist():
        shift = 32 - z
        cx0, cx1, ry0, ry1 = x0 >> shift, x1 >> shift, y0 >> shift, y1 >> shift
        ok = (cx1 - cx0 <= 1) & (ry1 - ry0 <= 1)
        for r, c in ((ry0, cx0), (ry0, cx1), (ry1, cx0), (ry1, cx1)):
            ids = _cell_ids(z, r, c)
            ok &= inner[np.minimum(np.searchsorted(inner, ids), len(inner) - 1)] == ids
        out |= ok
    return out


def spatial_predicate_join(
    features: DataFrame,
    prepared: list[PreparedPolygon],
    predicate: str,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """features: (…, minx, miny, maxx, maxy int, gkind string, geom binary).
    Emits matching (feature, poly_id) rows for the given predicate."""
    custom = _CUSTOM.get(predicate)
    if predicate not in _INTERIOR_WAIVE and custom is None:
        raise ValueError(f"unknown predicate {predicate!r}")
    # resolve driver-side so the kernel travels inside the closure
    # (worker-side _CUSTOM is empty — registration happens on the driver)
    if custom is not None:
        resolved_waive, resolved_kernel = custom
    else:
        resolved_waive, resolved_kernel = _INTERIOR_WAIVE[predicate], None
    keep = keep_cols or [c for c in features.columns if c not in ("geom",)]
    spark = features.sparkSession
    bc = spark.sparkContext.broadcast((prepared, predicate))
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in features.schema.fields if f.name in keep
    ) + ", poly_id string"

    def run(batches):
        polys, pred = bc.value
        for pdf in batches:
            fminx = pdf["minx"].to_numpy(np.float64)
            fminy = pdf["miny"].to_numpy(np.float64)
            fmaxx = pdf["maxx"].to_numpy(np.float64)
            fmaxy = pdf["maxy"].to_numpy(np.float64)
            # rows' unpacked ring geometry, decoded at most once per
            # batch however many polygons their bbox overlaps (r03 review)
            rings_cache: dict[int, list[np.ndarray]] = {}
            outs = []
            for p in polys:
                cand = (
                    (fminx <= p.maxx) & (fmaxx >= p.minx)
                    & (fminy <= p.maxy) & (fmaxy >= p.miny)
                )
                idx = np.nonzero(cand)[0]
                if pred == "disjoint":
                    # anti-form: non-candidates are disjoint by definition
                    idx_all = np.arange(len(pdf))
                else:
                    idx_all = idx
                if len(idx_all) == 0:
                    continue

                hits = np.zeros(len(pdf), dtype=bool)
                if len(idx) > 0:
                    waive_val, exact_fn = resolved_waive, resolved_kernel
                    if waive_val is None:
                        all_interior = np.zeros(len(idx), dtype=bool)
                    else:
                        all_interior = _interior_bboxes(
                            p, fminx[idx], fminy[idx], fmaxx[idx], fmaxy[idx]
                        )
                        hits[idx[all_interior]] = waive_val
                    # exact kernel for the rest of the candidates
                    for j in idx[~all_interior]:
                        j = int(j)
                        rings = rings_cache.get(j)
                        if rings is None:
                            rings = pip.unpack_rings(pdf["geom"].iloc[j])
                            rings_cache[j] = rings
                        if exact_fn is not None:
                            hits[j] = bool(
                                exact_fn(rings, pdf["gkind"].iloc[j], p.rings)
                            )
                        else:
                            a = rings if pdf["gkind"].iloc[j] == "polygon" else rings[0]
                            hits[j] = geom.relate(a, p.rings)[pred]
                if pred == "disjoint":
                    non_cand = np.ones(len(pdf), dtype=bool)
                    non_cand[idx] = False
                    hits[non_cand] = True
                sel = np.nonzero(hits)[0]
                if len(sel):
                    sub = pdf.iloc[sel][keep].copy()
                    sub["poly_id"] = p.poly_id
                    outs.append(sub)
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return features.mapInPandas(run, schema=out_schema)
